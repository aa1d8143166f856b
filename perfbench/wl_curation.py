"""llm_curation: a training-data curation chain over a seeded corpus with
planted duplicates -- quality gate, exact dedup, MinHash near-dup pairs,
connected components (keep one per component), spherical k-means plus
IVF top-k semantic near-dup removal, and a hash train/val/test split
written to parquet.  Each operator call is one action."""

from __future__ import annotations

import os
import time
from typing import Dict, List

import inputs
import tracing

NAME = "llm_curation"
N_BASE = 500
WARM_BASE = 60
QUALITY_GATE = 0.99
NEARDUP_THRESHOLD = 0.5
KMEANS_K = 8
KMEANS_ITERS = 1
IVF = {"k": 5, "n_cells": 16, "n_probe": 4}
SEMANTIC_SIM = 0.995
QUERY_EVERY = 40
#: the near-dup operator's LSH layout (its defaults): k = BANDS x ROWS
LSH_BANDS, LSH_ROWS = 4, 4
#: planted near-dup recall may fall this many standard deviations below
#: what the LSH layout predicts from each pair's true Jaccard
RECALL_SIGMAS = 3.0
JACCARD_BUCKETS = (0.5, 0.6, 0.7, 0.8, 0.9, 1.01)
IVF_RECALL_GATE = 0.8


def make_inputs(root: str, seed: int) -> str:
    return inputs.cached(root, NAME, seed, inputs.curation_corpus, n_base=N_BASE)


def make_warm_inputs(root: str) -> str:
    return inputs.cached(root, NAME + "_warm", 0, inputs.curation_corpus, n_base=WARM_BASE)


class Context:
    def __init__(self, corpus: str):
        self.corpus = corpus
        self.truth = inputs.load_truth(corpus)


def prepare(spark, corpus: str) -> Context:
    return Context(corpus)


def warm_pass(spark, ctx: Context, clock, out_dir: str) -> None:
    """Set-up's warm pass: the chain up to the MinHash near-dup operator,
    which forks the Python workers (Arrow batches) and runs the first
    shuffles."""
    one_pass(spark, ctx, clock, out_dir, warm=True)


def one_pass(spark, ctx: Context, clock, out_dir: str, warm: bool = False) -> dict:
    from pyspark.sql import functions as F

    from label_maker_dask_spark.functions.text import quality_score
    from label_maker_dask_spark.operators import clustering, dedup, pipeline, similarity

    ops = []
    frames = {}

    def op(name, fn):
        t0 = time.perf_counter()
        with clock.span(name):
            out = fn()
        ops.append((name, time.perf_counter() - t0))
        return out

    with clock.span("pass") as p:
        docs = spark.read.parquet(os.path.join(ctx.corpus, "docs.parquet"))
        gated = op(
            "functions.text.quality",
            lambda: docs.where(quality_score(F.col("text")) >= QUALITY_GATE).localCheckpoint(),
        )
        groups = op(
            "operators.dedup.exact",
            lambda: dedup.exact_duplicate_groups(gated).localCheckpoint(),
        )
        unique = gated.join(
            groups.select(F.col("canonical_id").alias("doc_id")), "doc_id", "left_semi"
        )
        pairs = op(
            "operators.dedup.minhash",
            lambda: dedup.minhash_neardup_pairs(
                unique, threshold=NEARDUP_THRESHOLD
            ).localCheckpoint(),
        )
        if warm:
            return {}
        comps = op(
            "operators.dedup.components",
            lambda: dedup.duplicate_components(pairs).localCheckpoint(),
        )
        kept = unique.join(
            comps.where(F.col("doc_id") != F.col("component")).select("doc_id"),
            "doc_id",
            "left_anti",
        )
        emb = kept.select("doc_id", "embedding")
        clusters = op(
            "operators.clustering.kmeans",
            lambda: clustering.spherical_kmeans(
                emb, k=KMEANS_K, iters=KMEANS_ITERS, id_col="doc_id"
            ).localCheckpoint(),
        )
        queries = emb.where(F.col("doc_id") % QUERY_EVERY == 0)
        nn = op(
            "operators.similarity.ivf",
            lambda: similarity.ivf_topk(emb, queries, id_col="doc_id", **IVF).localCheckpoint(),
        )
        drop = nn.where(F.col("cosine_sim") >= SEMANTIC_SIM).select(
            F.greatest("query_id", "neighbor_id").alias("doc_id")
        )
        final = kept.join(drop, "doc_id", "left_anti").join(
            clusters.select("doc_id", "cluster"), "doc_id"
        )
        op(
            "operators.pipeline.split",
            lambda: pipeline.hash_split(final.drop("embedding")).write.parquet(
                os.path.join(out_dir, "split")
            ),
        )
        frames.update(unique=unique, groups=groups, pairs=pairs, comps=comps, nn=nn, emb=emb, queries=queries)
    return {
        "wall_s": p["end"] - p["start"],
        "items": ctx.truth["n_docs"],
        "ops": ops,
        "frames": frames,
        "out_dir": out_dir,
    }


def ivf_recall_at_k(frames: dict) -> float:
    """Share of brute-force ``cosine_topk`` neighbours the IVF top-k found,
    over the pass's sampled queries."""
    from label_maker_dask_spark.operators.similarity import cosine_topk

    exact = cosine_topk(frames["emb"], frames["queries"], k=IVF["k"], id_col="doc_id")
    want = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    got = {(r["query_id"], r["neighbor_id"]) for r in frames["nn"].collect()}
    return len(want & got) / len(want) if want else 0.0


def lsh_candidate_prob(jaccard: float) -> float:
    """Chance that banded MinHash makes a pair of this Jaccard a candidate."""
    return 1.0 - (1.0 - jaccard**LSH_ROWS) ** LSH_BANDS


def recall_gate(pairs: List[list], found: List[bool], label: str) -> bool:
    """Planted pairs found >= the LSH layout's expectation from each pair's
    true Jaccard, less ``RECALL_SIGMAS`` binomial standard deviations.  A
    pair counts as found when both ends share a component, so paths
    through sibling variants only add to the direct expectation.  Prints
    recall per Jaccard bucket beside its expectation."""
    probs = [lsh_candidate_prob(p[2]) for p in pairs]
    expect = sum(probs)
    sigma = sum(q * (1.0 - q) for q in probs) ** 0.5
    hits = sum(found)
    parts = []
    for lo, hi in zip(JACCARD_BUCKETS, JACCARD_BUCKETS[1:]):
        idx = [i for i, p in enumerate(pairs) if lo <= p[2] < hi]
        if idx:
            got = sum(found[i] for i in idx) / len(idx)
            want = sum(probs[i] for i in idx) / len(idx)
            parts.append(f"[{lo:.1f},{min(hi, 1.0):.1f}) {got:.2f}/{want:.2f} n={len(idx)}")
    print(
        f"[perfbench] {label} found {hits}/{len(pairs)}, LSH expects"
        f" {expect:.1f} +- {sigma:.1f}; by Jaccard (found/expected): " + "  ".join(parts),
        flush=True,
    )
    return hits >= expect - RECALL_SIGMAS * sigma


def check(spark, ctx: Context, result: dict) -> List[tuple]:
    """Exact groups equal the planted ones; planted near-dup recall meets
    what the LSH layout predicts from each pair's Jaccard; IVF recall@k
    against brute-force ``cosine_topk`` meets a fixed gate."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    t = ctx.truth
    f = result["frames"]
    got_groups = f["groups"].where(F.col("group_size") > 1).collect()
    want = {(g[0], len(g)) for g in t["exact_groups"]}
    checks = [("exact_groups", {(r["canonical_id"], r["group_size"]) for r in got_groups} == want)]
    comp = {r["doc_id"]: r["component"] for r in f["comps"].collect()}
    pairs = t["near_pairs"]
    found = [a in comp and b in comp and comp[a] == comp[b] for a, b, _ in pairs]
    checks.append(("neardup_recall", recall_gate(pairs, found, "near-dup pairs")))
    hot = [i for i, p in enumerate(pairs) if p[1] == t["hot_base"]]
    checks.append(
        ("hot_component", recall_gate([pairs[i] for i in hot], [found[i] for i in hot], "hot component"))
    )
    ivf_recall = ivf_recall_at_k(f)
    checks.append(("ivf_recall_at_k", ivf_recall >= IVF_RECALL_GATE))
    split = pq.read_table(os.path.join(result["out_dir"], "split")).to_pydict()
    n = len(split["doc_id"])
    train = sum(1 for s in split["split"] if s == "train") / max(1, n)
    checks.append(("split_unique_ids", n > 0 and len(set(split["doc_id"])) == n))
    checks.append(("split_train_share", 0.7 <= train <= 0.9))
    return checks


def layer_metrics(spark, spans, jobs_by_span, nodes, result) -> Dict[str, float]:
    """Span times per operator call; candidate volume recounted after the
    pass through the public functions the near-dup operator composes."""
    from label_maker_dask_spark.operators import dedup

    dur = {s["name"]: s["end"] - s["start"] for s in spans}
    f = result["frames"]
    n_results = f["nn"].count()
    scorer_rows = tracing.node_sum(
        nodes,
        tracing.OUTPUT_ROWS,
        lambda n: n["name"] == "MapInPandas" and "raw_sim" in n["desc"],
    )
    verified = float(f["pairs"].count())
    prof = dedup.minhash_doc_profiles(f["unique"])
    candidates = float(dedup.lsh_candidate_pairs(prof.drop("shs")).count())
    return {
        "functions.text.quality_s": dur["functions.text.quality"],
        "operators.dedup.exact_s": dur["operators.dedup.exact"],
        "operators.dedup.minhash_s": dur["operators.dedup.minhash"],
        "operators.dedup.components_s": dur["operators.dedup.components"],
        "operators.dedup.candidate_pairs": candidates,
        "operators.dedup.verified_pairs": verified,
        "operators.dedup.candidate_yield": verified / candidates if candidates else 0.0,
        "operators.clustering.kmeans_s": dur["operators.clustering.kmeans"],
        "operators.clustering.iterations": float(KMEANS_ITERS),
        "operators.similarity.ivf_s": dur["operators.similarity.ivf"],
        "operators.similarity.rows_scored_per_result": scorer_rows / max(1, n_results),
        "operators.similarity.recall_at_k": ivf_recall_at_k(f),
        "operators.pipeline.split_s": dur["operators.pipeline.split"],
    }


def probes(spark, ctx: Context) -> Dict[str, float]:
    return {}
