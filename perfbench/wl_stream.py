"""stream_ingest: the half of ``curate_ingest`` that writes and keeps
state.  One pass drains a pre-written CDC change log through the
bucket-pruned upsert sink (a seeding batch, then small deltas that each
touch a few of the table's buckets), drains an events stream
through watermarked session windows into the parquet sink, then reads
the table back by full scan and by key lookups and runs a catalog query
over it.  One micro-batch per trigger (``maxFilesPerTrigger=1``), one
query at a time."""

from __future__ import annotations

import os
import statistics
from typing import Dict, List

import harness
import inputs
import tracing

NAME = "stream_ingest"
SIZE = {"base_rows": 480, "delta_batches": 2, "changes_per_delta": 4,
        "event_batches": 1, "users": 60}
#: far more buckets than keys in a delta, so pruning shows in the files
#: and bytes each delta rewrites
N_BUCKETS = 32

CHANGE_SCHEMA = (
    "o_orderkey long, o_custkey long, o_totalprice double, "
    "o_orderstatus string, seq long, is_delete boolean"
)
EVENT_SCHEMA = "event_id long, user_id long, ts timestamp, value double"
#: catalog query run over the maintained table after the drains
ANALYTICS = "window_top3_orders_per_customer"
PHASES = ("addBatch", "getBatch", "queryPlanning", "walCommit", "commitOffsets")


def make_inputs(root: str, seed: int) -> str:
    return inputs.cached(root, NAME, seed, inputs.stream_logs, **SIZE)


class Context:
    def __init__(self, logs: str):
        self.logs = logs
        self.truth = inputs.load_truth(logs)
        # bytes of the change files after the seeding batch 0
        self.delta_bytes = sum(
            os.path.getsize(os.path.join(logs, "changes", f))
            for f in os.listdir(os.path.join(logs, "changes"))
            if f != "batch-00000.parquet"
        )


def prepare(spark, logs: str) -> Context:
    return Context(logs)


def _source(spark, sub: str, schema: str, logs: str):
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(logs, sub))
    )


def one_pass(spark, ctx: Context, clock, out_dir: str) -> dict:
    from pyspark.sql import functions as F

    import label_maker_dask_spark.queries as Q
    from label_maker_dask_spark.streaming.bucketed import (
        key_lookup,
        read_maintained_table,
        stream_upsert_to_parquet_bucketed,
    )
    from label_maker_dask_spark.streaming.windows import session_agg, stream_to_parquet

    t = ctx.truth
    # named like a catalog table, so the analytics query reads it in place
    base = os.path.join(out_dir, "orders.parquet")
    sessions = os.path.join(out_dir, "sessions")
    progress = {}
    with clock.span("pass") as p:
        with clock.span("streaming.upsert_drain") as d1:
            q = stream_upsert_to_parquet_bucketed(
                _source(spark, "changes", CHANGE_SCHEMA, ctx.logs),
                base,
                os.path.join(out_dir, "ckpt-orders"),
                keys=["o_orderkey"],
                seq_col="seq",
                n_buckets=N_BUCKETS,
                delete_col="is_delete",
            )
            q.awaitTermination()
        progress["changes"] = [json_progress(x) for x in q.recentProgress]
        with clock.span("streaming.session_drain") as d2:
            agg = session_agg(
                _source(spark, "events", EVENT_SCHEMA, ctx.logs),
                "ts",
                f"{t['gap_s']} seconds",
                ["user_id"],
                [F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total")],
                watermark=f"{t['watermark_s']} seconds",
            )
            q2 = stream_to_parquet(agg, sessions, os.path.join(out_dir, "ckpt-sessions"))
            q2.awaitTermination()
        progress["events"] = [json_progress(x) for x in q2.recentProgress]
        with clock.span("streaming.read_back") as rb:
            n_rows = read_maintained_table(spark, base).count()
            found = sum(
                key_lookup(spark, base, o_orderkey=k).count() for k in t["lookup_keys"]
            )
        with clock.span("query.op") as qa:
            with clock.span("queries.build"):
                top3 = Q.QUERIES[ANALYTICS](spark, out_dir)
            with clock.span("query.execute"):
                top3.write.format("noop").mode("overwrite").save()
    ops = []
    for name, prog in progress.items():
        for x in prog:
            if x["numInputRows"] > 0:
                ops.append((f"{name}/{x['batchId']}", x["durationMs"]["triggerExecution"] / 1e3))
    ops.append(("read_back", rb["end"] - rb["start"]))
    ops.append((ANALYTICS, qa["end"] - qa["start"]))
    drain_s = (d1["end"] - d1["start"]) + (d2["end"] - d2["start"])
    return {
        "wall_s": p["end"] - p["start"],
        "rate_wall_s": drain_s,
        "items": t["change_rows"] + t["event_rows"],
        "ops": ops,
        "progress": progress,
        "table_rows": n_rows,
        "lookups_found": found,
        "delta_bytes": ctx.delta_bytes,
        "out_dir": out_dir,
    }


def json_progress(p) -> dict:
    """StreamingQueryProgress -> plain dict (batch id, input rows, phase
    durations and state-operator figures)."""
    return {
        "batchId": p.batchId,
        "numInputRows": p.numInputRows,
        "durationMs": dict(p.durationMs),
        "stateOperators": [
            {"numRowsTotal": s.numRowsTotal, "memoryUsedBytes": s.memoryUsedBytes}
            for s in p.stateOperators
        ],
    }


def _batch_times(passes: List[dict]) -> List[float]:
    return [
        x["durationMs"]["triggerExecution"] / 1e3
        for r in passes
        for prog in r["progress"].values()
        for x in prog
        if x["numInputRows"] > 0
    ]


def extra_metrics(passes: List[dict]) -> Dict[str, float]:
    times = _batch_times(passes)
    t = harness.tail(times)
    return {
        "batch_p50_s": harness.median(times),
        "batch_tail_s": t["value"],
        "batch_tail_pct": t["pct"],
        "batch_count": t["n"],
    }


def check(spark, ctx: Context, result: dict) -> List[tuple]:
    """The maintained table and the emitted sessions equal a DuckDB batch
    replay of the full logs."""
    import duckdb
    import pyarrow.parquet as pq

    import label_maker_dask_spark.queries as Q
    from label_maker_dask_spark.streaming.bucketed import read_maintained_table

    t = ctx.truth
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"CREATE VIEW changes AS SELECT * FROM '{ctx.logs}/changes/*.parquet'")
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{ctx.logs}/events/*.parquet'")
    want_table = harness.canon_rows(con.execute("""
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM (
          SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
          FROM changes) WHERE rn = 1 AND NOT is_delete""").df())
    got_table = harness.canon_rows(
        read_maintained_table(spark, os.path.join(result["out_dir"], "orders.parquet")).toPandas()
    )
    con.execute("""
        CREATE VIEW orders AS SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        FROM (SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
              FROM changes) WHERE rn = 1 AND NOT is_delete""")
    want_top3 = harness.canon_rows(con.execute(Q.ORACLES[ANALYTICS]).df())
    got_top3 = harness.canon_rows(Q.QUERIES[ANALYTICS](spark, result["out_dir"]).toPandas())
    gap = t["gap_s"]
    want_sessions = harness.canon_rows(con.execute(f"""
        WITH f AS (
          SELECT user_id, ts, value,
                 CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= {gap} * 1000000
                      THEN 1 ELSE 0 END AS brk
          FROM events WHERE user_id <> {t['sentinel_user']}
          WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS sid FROM f)
        SELECT user_id, count(*) AS n_events, round(sum(value), 6) AS total,
               min(ts) AS session_start, max(ts) + INTERVAL {gap} SECOND AS session_end
        FROM s GROUP BY user_id, sid""").df())
    keys = ", ".join(str(k) for k in t["lookup_keys"])
    n_live_lookups = con.execute(f"""
        SELECT count(*) FROM (
          SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
          FROM changes) WHERE rn = 1 AND NOT is_delete AND o_orderkey IN ({keys})""").fetchone()[0]
    got = pq.read_table(os.path.join(result["out_dir"], "sessions")).to_pandas()
    got = got[got["user_id"] != t["sentinel_user"]]
    got["total"] = got["total"].round(6)
    got_sessions = harness.canon_rows(got[["user_id", "n_events", "total", "session_start", "session_end"]])
    con.close()
    return [
        ("maintained_table", len(want_table) > 0 and got_table == want_table),
        ("table_rows", result["table_rows"] == len(want_table)),
        ("sessions", len(want_sessions) > 0 and got_sessions == want_sessions),
        ("lookups", result["lookups_found"] == n_live_lookups),
        (ANALYTICS, len(want_top3) > 0 and got_top3 == want_top3),
    ]


def layer_metrics(spark, spans, jobs_by_span, nodes, result) -> Dict[str, float]:
    prog = [x for p in result["progress"].values() for x in p if x["numInputRows"] > 0]
    out = {}
    for phase in PHASES:
        key = {"addBatch": "add_batch", "getBatch": "get_batch",
               "queryPlanning": "query_planning", "walCommit": "wal_commit",
               "commitOffsets": "commit_offsets"}[phase]
        out[f"streaming.{key}_s"] = statistics.median(
            x["durationMs"].get(phase, 0) / 1e3 for x in prog
        )
    state = [s for x in result["progress"]["events"] for s in x["stateOperators"]]
    out["streaming.state_rows"] = float(max((s["numRowsTotal"] for s in state), default=0))
    out["streaming.state_mb"] = max((s["memoryUsedBytes"] for s in state), default=0) / 2**20
    upsert = [s for s in spans if s["name"] == "streaming.upsert_drain"]
    upsert_jobs = {j["job"] for s in upsert for j in jobs_by_span[s["id"]]}
    # one write execution per change batch, in batch order; the first is
    # the seeding batch, the rest are the deltas
    files: Dict[int, float] = {}
    written: Dict[int, float] = {}
    for n in nodes:
        if set(n["jobs"]) & upsert_jobs and tracing.FILES_WRITTEN in n["metrics"]:
            e = n["execution"]
            files[e] = max(files.get(e, 0.0), n["metrics"][tracing.FILES_WRITTEN])
            written[e] = max(written.get(e, 0.0), n["metrics"].get(tracing.BYTES_WRITTEN, 0.0))
    deltas = sorted(files)[1:]
    out["streaming.files_rewritten_per_batch"] = (
        sum(files[e] for e in deltas) / len(deltas) if deltas else 0.0
    )
    out["streaming.write_amp"] = sum(written[e] for e in deltas) / max(1, result["delta_bytes"])
    out["streaming.read_back_s"] = sum(
        s["end"] - s["start"] for s in spans if s["name"] == "streaming.read_back"
    )
    out["queries.build_s"] = sum(
        s["end"] - s["start"] for s in spans if s["name"] == "queries.build"
    )
    return out


def probes(spark, ctx: Context) -> Dict[str, float]:
    return {}
