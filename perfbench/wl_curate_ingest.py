"""curate_ingest: the llm_curation chain (``wl_curation``) followed by
the stream_ingest drains (``wl_stream``), as one pass.  Together they
carry every layer label_tiles bypasses (functions.text, operators.*,
queries, streaming), in one workload, so the benchmark's run budget
holds two workloads with enough passes per run to be steady.  Each half
keeps its own spans, checks and per-layer metrics."""

from __future__ import annotations

import os
from typing import Dict, List

import harness
import wl_curation
import wl_stream

#: nominal seconds per pass; with --seconds it fixes the pass count
PASS_S = 8.0
#: unmeasured passes before the measured ones
SETTLE_PASSES = 2
PARTS = (("curation", wl_curation), ("ingest", wl_stream))
#: the throughput name printed for each half
ITEM_NAMES = {"curation": "docs_per_s", "ingest": "events_per_s"}


def make_inputs(root: str, seed: int) -> Dict[str, str]:
    return {k: m.make_inputs(root, seed) for k, m in PARTS}


def make_warm_inputs(root: str) -> Dict[str, str]:
    return {"curation": wl_curation.make_warm_inputs(root)}


def prepare(spark, dirs: Dict[str, str]) -> dict:
    return {k: m.prepare(spark, dirs[k]) for k, m in PARTS if k in dirs}


def warm_pass(spark, ctx: dict, clock, out_dir: str) -> None:
    """Set-up's warm pass: the curation half's, which forks the Python
    workers; the streaming code warms up in the settling passes."""
    wl_curation.warm_pass(spark, ctx["curation"], clock, os.path.join(out_dir, "curation"))


def one_pass(spark, ctx: dict, clock, out_dir: str) -> dict:
    with clock.span("pass") as p:
        parts = {
            k: m.one_pass(spark, ctx[k], clock, os.path.join(out_dir, k)) for k, m in PARTS
        }
    return {
        "wall_s": p["end"] - p["start"],
        "items": sum(r["items"] for r in parts.values()),
        "ops": [op for r in parts.values() for op in r["ops"]],
        "parts": parts,
    }


def extra_metrics(passes: List[dict]) -> Dict[str, float]:
    out = {}
    for k, m in PARTS:
        sub = [p["parts"][k] for p in passes]
        out[f"{k}_run_s"] = harness.median([r["wall_s"] for r in sub])
        out[ITEM_NAMES[k]] = harness.median(
            [r["items"] / r.get("rate_wall_s", r["wall_s"]) for r in sub]
        )
        out.update(m.extra_metrics(sub) if hasattr(m, "extra_metrics") else {})
    return out


def check(spark, ctx: dict, result: dict) -> List[tuple]:
    return [
        (f"{k}.{name}", ok)
        for k, m in PARTS
        for name, ok in m.check(spark, ctx[k], result["parts"][k])
    ]


def layer_metrics(spark, spans, jobs_by_span, nodes, result) -> Dict[str, float]:
    out: Dict[str, float] = {}
    for k, m in PARTS:
        out.update(m.layer_metrics(spark, spans, jobs_by_span, nodes, result["parts"][k]))
    return out


def probes(spark, ctx: dict) -> Dict[str, float]:
    out: Dict[str, float] = {}
    for k, m in PARTS:
        out.update(m.probes(spark, ctx[k]))
    return out
