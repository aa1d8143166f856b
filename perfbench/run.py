"""perfbench: the repository's seeded end-to-end benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  One driver process, one closed-loop
client on ``local[N]`` (N <= nproc, at most 4).  A run:

1. builds (or reuses) the seeded inputs and a small fixed warm-up input,
   outside every timed region;
2. sets up once, cold: ``setup_s`` runs from process start until the
   session is up, the package is imported and one warm pass on the small
   input is done (input generation is not counted);
3. runs the workload's ``SETTLE_PASSES`` settling passes on the full
   input, then a fixed number of measured passes (``--seconds`` / the
   workload's ``PASS_S``, at least ``MIN_MEASURED``), each pass one
   action or micro-batch at a time;
4. checks the first settling pass's outputs before the measured passes
   start, and removes every pass's outputs.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  With ``--trace 1`` passes
alternate untraced and traced, and the spans plus everything Spark
recorded about them are written to ``.perfbench_work/trace-<workload>-
<seed>.json``.  A failed check exits 1 after printing the result.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
if HERE not in sys.path:
    sys.path.insert(0, HERE)

import harness  # noqa: E402

WORKLOADS = {
    "label_tiles": "wl_tiles",
    "curate_ingest": "wl_curate_ingest",
}

#: a run measures at least this many passes, however long they take
MIN_MEASURED = 3

#: end-to-end metric units, in the order BENCHMARK.json lists them
END_TO_END = {
    "run_s": "s",
    "items_per_s": "1/s",
    "op_geomean_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}

#: the workload-specific names of the end-to-end figures, printed on the
#: line before the result
ITEM_NAMES = {"label_tiles": "tiles_per_s", "curate_ingest": "records_per_s"}
OP_NAMES = {"label_tiles": "job_geomean_s", "curate_ingest": "op_geomean_s"}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", flush=True)


def _setup(wl, warm_tree: str, t_proc: float, gen_s: float):
    """Set-up: session up, package imported, one warm pass done.  Returns
    (spark, seconds since process start less input generation)."""
    spark = harness.start_session()
    importlib.import_module("label_maker_dask_spark")
    ctx = wl.prepare(spark, warm_tree)
    out = harness.fresh_dir(os.path.join(harness.WORK, "out", "warm"))
    wl.warm_pass(spark, ctx, harness.Clock("warm"), out)
    shutil.rmtree(out, ignore_errors=True)
    return spark, time.time() - t_proc - gen_s


def _pass_metrics(wl, passes):
    walls = [p["wall_s"] for p in passes]
    run_s = harness.median(walls)
    by_op = {}
    for p in passes:
        for name, secs in p["ops"]:
            by_op.setdefault(name, []).append(secs)
    op_geo = harness.geomean([harness.median(v) for v in by_op.values()])
    items = passes[0]["items"]
    per_s = harness.median([p["items"] / p.get("rate_wall_s", p["wall_s"]) for p in passes])
    return run_s, per_s, op_geo, items


def main(argv=None) -> int:
    args = _args(argv)
    t_proc = harness.process_start_time()
    if not os.path.isdir(os.path.join(harness.ROOT, "label_maker_dask_spark")):
        print(
            "perfbench: label_maker_dask_spark not found next to perfbench/; "
            "run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2
    harness.prepare_environment()
    wl = importlib.import_module(WORKLOADS[args.workload])

    t_gen = time.time()
    tree = wl.make_inputs(harness.WORK, args.seed)
    warm_tree = wl.make_warm_inputs(harness.WORK)
    gen_s = time.time() - t_gen
    _log(f"inputs ready in {gen_s:.2f} s: {tree}")

    spark = None
    try:
        spark, setup_s = _setup(wl, warm_tree, t_proc, gen_s)
        _log(f"setup {setup_s:.3f} s")

        ctx = wl.prepare(spark, tree)
        run_id = f"{args.workload}-{args.seed}"
        out_root = os.path.join(harness.WORK, "out", run_id)
        # settling passes: the first full-size passes still compile code
        # for the new plans, fork more Python workers and get faster as
        # the JIT works through them.  A fixed count puts every run's
        # measured passes at the same point of that curve.  The first
        # one's outputs are the ones checked; their times are printed but
        # not measured.
        settle_walls, settle_ops, checks = [], 0, None
        for k in range(wl.SETTLE_PASSES):
            settle = harness.fresh_dir(os.path.join(out_root, f"settle{k}"))
            kept = wl.one_pass(spark, ctx, harness.Clock(f"{run_id}-settle{k}"), settle)
            if checks is None:
                checks = wl.check(spark, ctx, kept)
            settle_walls.append(kept["wall_s"])
            settle_ops += len(kept["ops"])
            del kept  # releases the pass's cached frames
            shutil.rmtree(settle, ignore_errors=True)
        collector = None
        if args.trace:
            import tracing

            collector = tracing.Collector(spark)
            collector.new_jobs()
            collector.new_sql_nodes(())
        # a fixed pass count for the given --seconds, so every run of a
        # workload computes its medians over the same passes
        n_measured = max(MIN_MEASURED, round(args.seconds / wl.PASS_S))
        passes, traced, untraced = [], [], []
        for i in range(n_measured):
            out = harness.fresh_dir(os.path.join(out_root, f"pass{i}"))
            traced_pass = bool(args.trace) and i % 2 == 1
            clock = harness.Clock(f"{run_id}-{i}", spark if traced_pass else None)
            res = wl.one_pass(spark, ctx, clock, out)
            res["clock"] = clock
            passes.append(res)
            if collector is not None:
                jobs = collector.new_jobs()
                if traced_pass:
                    res["jobs"] = jobs
                    res["nodes"] = collector.new_sql_nodes(j["job"] for j in jobs)
                    traced.append(res)
                else:
                    collector.new_sql_nodes(())
                    untraced.append(res)
            shutil.rmtree(out, ignore_errors=True)
        _log(
            "settling passes "
            + ", ".join(f"{w:.3f}" for w in settle_walls)
            + f" s; {len(passes)} measured passes: "
            + ", ".join(f"{p['wall_s']:.3f}" for p in passes)
            + " s"
        )

        shutil.rmtree(out_root, ignore_errors=True)
        failed_checks = [name for name, ok in checks if not ok]
        for name in failed_checks[:20]:
            _log(f"CHECK FAILED: {name}")
        n_ops = settle_ops + sum(len(p["ops"]) for p in passes)
        attempted = n_ops + len(checks)
        failed = len(failed_checks)
        peak = harness.jvm_peak_rss_mb(spark)

        if args.trace:
            import trace_report

            metrics = trace_report.per_layer(
                wl, args, spark, ctx, collector, traced, untraced
            )
        else:
            run_s, per_s, op_geo, items = _pass_metrics(wl, passes)
            values = {
                "run_s": run_s,
                "items_per_s": per_s,
                "op_geomean_s": op_geo,
                "setup_s": setup_s,
                "peak_rss_mb": peak,
            }
            extra = {
                ITEM_NAMES[args.workload]: per_s,
                OP_NAMES[args.workload]: op_geo,
                "fail_ratio": failed / attempted,
                "items_per_pass": items,
                "settling_passes": len(settle_walls),
                "passes": len(passes),
            }
            extra.update(wl.extra_metrics(passes) if hasattr(wl, "extra_metrics") else {})
            _log("workload metrics " + json.dumps(extra, sort_keys=True))
            metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
        harness.stop_session(spark)
        spark = None
    finally:
        if spark is not None:
            harness.stop_session(spark)
        harness.shutdown_jvm()
        shutil.rmtree(os.path.join(harness.WORK, "spark-local"), ignore_errors=True)
        shutil.rmtree(harness.TMP, ignore_errors=True)

    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
