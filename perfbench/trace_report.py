"""Per-layer metrics of a traced run (``--trace 1``).

Passes alternate untraced and traced.  For each traced pass the spans the
workload recorded are joined with what Spark recorded about the jobs that
ran under them (``tracing.Collector``); each metric is the median over the
traced passes.  Every name in ``PER_LAYER`` is reported for every
workload, with 0 where the workload does not exercise the layer -- that 0
is the isolation the workload was chosen for.
"""

from __future__ import annotations

import json
import os
import statistics
from typing import Dict, List

import harness
import tracing

PER_LAYER = [
    "job.build_s", "job.execute_s", "job.rows_written",
    "tiles.generate_s", "tiles.count",
    "filters.compile_us",
    "sources.features_python_s", "sources.images_python_s",
    "sources.python_start_s", "sources.python_bytes_mb", "sources.mvt_decode_us",
    "labels.agg_s", "labels.segmentation_python_s",
    "raster.rasterize_us",
    "functions.text.quality_s",
    "operators.dedup.exact_s", "operators.dedup.minhash_s",
    "operators.dedup.candidate_pairs", "operators.dedup.verified_pairs",
    "operators.dedup.candidate_yield", "operators.dedup.components_s",
    "operators.similarity.ivf_s", "operators.similarity.rows_scored_per_result",
    "operators.similarity.recall_at_k",
    "operators.clustering.kmeans_s", "operators.clustering.iterations",
    "operators.pipeline.split_s",
    "queries.build_s",
    "streaming.add_batch_s", "streaming.get_batch_s", "streaming.query_planning_s",
    "streaming.wal_commit_s", "streaming.commit_offsets_s", "streaming.state_rows",
    "streaming.state_mb", "streaming.files_rewritten_per_batch",
    "streaming.write_amp", "streaming.read_back_s",
    "engine.jobs", "engine.stages", "engine.tasks", "engine.executor_run_s",
    "engine.executor_cpu_s", "engine.gc_s", "engine.python_run_s",
    "engine.python_start_s", "engine.shuffle_write_mb", "engine.shuffle_read_mb",
    "engine.spill_mb", "engine.output_mb", "engine.sched_delay_s",
    "engine.non_executor_s", "engine.task_skew",
    "trace.run_s", "trace.overhead_s", "trace.unexplained_s",
]


def unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_us"):
        return "us"
    if name.endswith("_mb"):
        return "MB"
    if name.rsplit(".", 1)[1] in (
        "candidate_yield", "rows_scored_per_result", "recall_at_k",
        "write_amp", "task_skew", "files_rewritten_per_batch",
    ):
        return "ratio"
    return "count"


def decompose(spans: List[dict], jobs_by_span: Dict[int, List[dict]], nodes) -> Dict[str, dict]:
    """Per span name: self time (span minus its children), how much of it
    Spark stages of the span's own jobs kept the executors busy, and those
    jobs' Python-worker time and shuffle writes."""
    out: Dict[str, dict] = {}
    for s in spans:
        own = {j["job"] for j in jobs_by_span[s["id"]]}
        dur = s["end"] - s["start"]
        kids = sum(c["end"] - c["start"] for c in spans if c["parent"] == s["id"])
        busy = tracing.union_length(
            (max(a, s["start"]), min(b, s["end"]))
            for a, b in tracing.stage_intervals(jobs_by_span[s["id"]])
            if min(b, s["end"]) > max(a, s["start"])
        )
        row = out.setdefault(
            s["name"],
            {"self_s": 0.0, "executor_s": 0.0, "python_s": 0.0, "shuffle_mb": 0.0, "jobs": 0},
        )
        row["self_s"] += dur - kids
        row["executor_s"] += busy
        row["python_s"] += tracing.node_sum(
            nodes, tracing.PYTHON_RUN, lambda n: bool(own & set(n["jobs"]))
        )
        row["shuffle_mb"] += sum(
            st.get("shuffle_write_b", 0) for j in jobs_by_span[s["id"]] for st in j["stages"]
        ) / 2**20
        row["jobs"] += len(own)
    return out


def per_layer(wl, args, spark, ctx, collector, traced, untraced) -> dict:
    per_pass = []
    dumps = []
    for res in traced:
        spans = res["clock"].spans
        jobs, nodes = res["jobs"], res["nodes"]
        by_span = tracing.attribute(jobs, spans)
        vals = dict(wl.layer_metrics(spark, spans, by_span, nodes, res))
        vals.update(tracing.engine_totals(collector, jobs, res["wall_s"]))
        vals["engine.python_run_s"] = tracing.node_sum(nodes, tracing.PYTHON_RUN)
        vals["engine.python_start_s"] = tracing.node_sum(nodes, tracing.PYTHON_START)
        layers = decompose(spans, by_span, nodes)
        vals["trace.run_s"] = res["wall_s"]
        vals["trace.unexplained_s"] = layers["pass"]["self_s"]
        per_pass.append(vals)
        dumps.append({"spans": spans, "jobs": jobs, "nodes": nodes, "layers": layers})
    metrics = {
        k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]
    }
    metrics.update(wl.probes(spark, ctx))
    metrics["trace.overhead_s"] = harness.median(
        [r["wall_s"] for r in traced]
    ) - harness.median([r["wall_s"] for r in untraced])

    layers = dumps[-1]["layers"]
    total = sum(r["self_s"] for r in layers.values())
    for name, r in sorted(layers.items()):
        print(
            f"[perfbench] layer {name:32s} self {r['self_s']:7.3f} s"
            f"  executor {r['executor_s']:7.3f} s  python {r['python_s']:7.3f} s"
            f"  shuffle {r['shuffle_mb']:7.2f} MB  jobs {r['jobs']}",
            flush=True,
        )
    print(
        f"[perfbench] traced run_s {per_pass[-1]['trace.run_s']:.3f} s = layer self"
        f" times {total - layers['pass']['self_s']:.3f} s + unexplained"
        f" {layers['pass']['self_s']:.3f} s; executor-busy"
        f" {per_pass[-1]['trace.run_s'] - per_pass[-1]['engine.non_executor_s']:.3f} s"
        f" + engine.non_executor_s {per_pass[-1]['engine.non_executor_s']:.3f} s;"
        f" tracing overhead {metrics['trace.overhead_s']:.3f} s",
        flush=True,
    )
    path = os.path.join(harness.WORK, f"trace-{args.workload}-{args.seed}.json")
    with open(path, "w") as fh:
        json.dump({"metrics": metrics, "passes": dumps}, fh, default=str)
    print(f"[perfbench] trace written to {path}", flush=True)
    return {
        name: {"value": float(metrics.get(name, 0.0)), "unit": unit(name)}
        for name in PER_LAYER
    }
