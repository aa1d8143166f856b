"""Plan-hygiene assertions: the physical plans must show the scale
properties the operators claim — predicate/column pushdown into the
parquet scan, broadcast joins for dimensions, top-k pushdown — not just
produce correct rows.  These tests read `explain("formatted")` output, the
same artifact a human would inspect before a 100 TB run."""

import contextlib
import io
import re as _re

import pytest

import label_maker_dask_spark.queries as Q

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q6_pushes_filters_and_prunes_columns(spark):
    plan = plan_of(Q.QUERIES["q6_forecast_revenue"](spark, SF))
    assert "PushedFilters" in plan
    # all four predicates reach the scan
    assert "l_shipdate" in plan.split("PushedFilters")[1].split("\n")[0]
    # projection is pruned: the scan must not read l_orderkey/l_returnflag
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_discount" in read_schema and "l_returnflag" not in read_schema


def test_q5_broadcasts_dimensions(spark):
    plan = plan_of(Q.QUERIES["q5_region_revenue"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_sort_limit_uses_topk_not_full_sort(spark):
    plan = plan_of(Q.QUERIES["sort_limit_global_top50"](spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_window_topk_group_limit_pushdown(spark):
    plan = plan_of(Q.QUERIES["window_top3_orders_per_customer"](spark, SF))
    assert "WindowGroupLimit" in plan


def test_flagship_has_single_aggregation_exchange(spark):
    """The classification-label pipeline is one narrow stage plus the
    per-tile aggregate: exactly one shuffle in the whole plan."""
    plan = plan_of(Q.QUERIES["classification_labels_flagship"](spark, SF))
    n_exchanges = plan.count("Exchange")
    assert n_exchanges <= 2, f"expected <=2 Exchange nodes, saw {n_exchanges}"


def test_theta_join_broadcasts_small_side(spark):
    plan = plan_of(Q.QUERIES["join_theta_acctbal"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_glfilter_compiles_to_native_predicates(spark):
    """The GL-filter DSL must land as Catalyst expressions (data filters in
    the scan or Filter nodes), never as a Python UDF."""
    plan = plan_of(Q.QUERIES["glfilter_select_events"](spark, SF))
    assert "pythonUDF" not in plan and "BatchEvalPython" not in plan


def test_salted_topk_matches_plain_topk_on_skew(spark):
    """One group holds 90% of rows; the salted two-phase top-k must return
    exactly the plain window top-k."""
    from pyspark.sql import functions as F

    from label_maker_dask_spark.operators.topk import (
        salted_topk_per_group,
        topk_per_group,
    )

    df = (
        spark.range(10_000)
        .select(
            F.when(F.col("id") < 9_000, F.lit("hot"))
            .otherwise((F.col("id") % 7).cast("string"))
            .alias("key"),
            (F.col("id") * 2654435761 % 1_000_003).alias("score"),
            F.col("id"),
        )
        .repartition(16)
    )
    order = [F.col("score").desc(), F.col("id").asc()]
    plain = topk_per_group(df, ["key"], order, k=5)
    salted = salted_topk_per_group(df, ["key"], order, k=5, salt=8)
    a = sorted((r.key, r.rank, r.id) for r in plain.collect())
    b = sorted((r.key, r.rank, r.id) for r in salted.collect())
    assert a == b and len(a) > 0


def test_contamination_broadcasts_benchmark_side(spark):
    """The benchmark shingle set must broadcast: the corpus never shuffles
    for the contamination join."""
    plan = plan_of(Q.QUERIES["contamination_3gram_overlap"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_pii_scan_is_narrow(spark):
    """PII scan is a pure per-row map: no Exchange, no Python UDF."""
    plan = plan_of(Q.QUERIES["pii_regex_scan"](spark, SF))
    assert "Exchange" not in plan
    assert "pythonUDF" not in plan and "BatchEvalPython" not in plan


def test_hash_split_prunes_to_needed_columns(spark):
    """The split query reads only (doc_id, source) — never the text."""
    plan = plan_of(Q.QUERIES["split_hash_train_val_test"](spark, SF))
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "doc_id" in read_schema and "source" in read_schema
    assert "text" not in read_schema


def test_lsh_topk_single_shuffle_for_corpus(spark):
    """The corpus side of SRP ANN joins on a broadcast of the (small)
    query side — the only shuffle Exchange allowed is for the final
    per-query window, never a corpus repartition by bucket."""
    plan = plan_of(Q.QUERIES["similarity_lsh_topk_ann"](spark, SF))
    assert "BroadcastHashJoin" in plan
    n_shuffles = plan.count("Exchange hashpartitioning")
    assert n_shuffles <= 1, f"expected <=1 shuffle Exchange, saw {n_shuffles}"


def test_pack_sequences_never_plans_single_task_global_sort(spark):
    """Packing's only sort is the per-bucket window — the plan must
    partition on `bucket` (many independent sort tasks), never collapse to
    a SinglePartition global sort, and the bucket count must scale with
    input volume when not pinned."""
    from pyspark.sql import functions as F

    from label_maker_dask_spark.functions.text import tokens
    from label_maker_dask_spark.operators.pipeline import (
        derive_pack_buckets,
        pack_sequences,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    packed = pack_sequences(docs, F.size(tokens(F.col("text"))), seq_len=512)
    plan = plan_of(packed)
    assert "hashpartitioning(bucket" in plan
    assert "SinglePartition" not in plan

    # the volume-derived bucket count keeps every sort task bounded:
    # 100 TB ≈ 2e10 docs  →  ≥ 5000 buckets of ≤ 4M rows each
    assert derive_pack_buckets(20_000_000_000) == 5000
    assert derive_pack_buckets(20_000_000_000, target_bucket_rows=1_000_000) == 20000
    # floor keeps small inputs parallel
    assert derive_pack_buckets(100) == 32


def tree_of(df) -> str:
    """Physical-plan tree with each operator printed exactly once —
    `explain("formatted")` lists every node twice (tree + detail section),
    which breaks operator counting."""
    return df._jdf.queryExecution().executedPlan().toString()


def test_funnel_reuses_one_fact_shuffle(spark):
    """Three chained step-windows + the per-user agg must share a single
    fact-sized exchange on user_id; the only other exchange carries the
    <=4-row stage histogram."""
    tree = tree_of(Q.QUERIES["events_funnel_signup_view_purchase"](spark, SF))
    assert tree.count("Window") >= 3
    n_exchanges = tree.count("Exchange")
    assert n_exchanges <= 2, f"expected <=2 Exchange nodes, saw {n_exchanges}"


def test_trailing_range_window_single_shuffle(spark):
    tree = tree_of(Q.QUERIES["window_trailing_1h_user_activity"](spark, SF))
    n_exchanges = tree.count("Exchange")
    assert n_exchanges <= 1, f"expected <=1 Exchange node, saw {n_exchanges}"


def test_histogram_prunes_to_single_column(spark):
    plan = plan_of(Q.QUERIES["agg_histogram_order_totals"](spark, SF))
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "o_totalprice" in read_schema and "o_orderdate" not in read_schema


def test_gapfill_window_runs_on_date_spine_not_fact(spark):
    """The forward-fill window must run over date-cardinality rows, never
    over the raw fact scan.  Since r18 the day-level rollup is a lazy
    localCheckpoint (computed once for the spine bounds AND the join),
    so the guarantee is structural: the window's subtree contains ONLY
    the checkpointed daily relation (Scan ExistingRDD) — the orders
    fact cannot appear under the window at all."""
    tree = tree_of(Q.QUERIES["timeseries_gapfill_daily_revenue"](spark, SF))
    assert "Window" in tree
    assert "orders.parquet" not in tree, (
        "fact scan leaked back into the gap-fill plan"
    )
    win_pos = tree.index("Window")
    assert "ExistingRDD" in tree[win_pos:], (
        "window must read the checkpointed day-level rollup"
    )


def test_pagerank_iterations_reuse_cached_frames(spark):
    """The three power iterations must join the materialized edge/node
    frames (lazy localCheckpoint → Scan ExistingRDD in the plan), with
    every tiny side broadcast — never a per-iteration re-derivation of
    the lag window from the source.  (Round 10 moved these frames from
    persist() to GC-released localCheckpoint, so the reuse marker is the
    ExistingRDD scan, and the source-derivation windows/scans disappear
    from the final plan entirely — re-derivation is now structurally
    impossible, which the zero-counts assert.)"""
    import re

    plan = plan_of(Q.QUERIES["graph_pagerank_transitions"](spark, SF))
    assert "Scan ExistingRDD" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # edges/nodes enter as checkpointed relations: the lag window and the
    # parquet source must not appear in the iteration plan at all
    assert len(re.findall(r"\(\d+\) Window", plan)) == 0
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 0


def test_zscore_daily_rollup_is_partial_aggregated(spark):
    """The events->daily rollup must partial-aggregate map-side (volume
    collapses to #types x #days before its shuffle); one more Exchange
    feeds the trailing window."""
    plan = plan_of(Q.QUERIES["anomaly_zscore_daily_events"](spark, SF))
    assert "partial" in plan.lower()
    assert plan.count("Exchange hashpartitioning") <= 2


def test_bucketed_key_lookup_prunes_to_one_bucket_dir(spark, tmp_path):
    """key_lookup on a bucketed maintained table must reach the scan as a
    PARTITION filter on the bucket column — only one bucket directory's
    files are read, however many the table has."""
    from label_maker_dask_spark.streaming.bucketed import (
        BUCKET_COL,
        key_lookup,
        stream_upsert_to_parquet_bucketed,
    )

    changes = str(tmp_path / "chg")
    base = str(tmp_path / "base")
    spark.createDataFrame(
        [(k, f"v{k}", 0) for k in range(200)], "k long, v string, seq int"
    ).coalesce(1).write.parquet(changes)
    q = stream_upsert_to_parquet_bucketed(
        spark.readStream.schema("k long, v string, seq int").parquet(changes),
        base, str(tmp_path / "ck"), keys=["k"], seq_col="seq", n_buckets=16,
    )
    q.awaitTermination(120)

    df = key_lookup(spark, base, k=7)
    assert [r.v for r in df.collect()] == ["v7"]
    plan = plan_of(df)
    part_line = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert part_line and BUCKET_COL in part_line[0]
    # the scan's file listing is the single pruned bucket directory
    scan_files = [l for l in plan.splitlines() if "files read" in l.lower()]
    if scan_files:  # Spark 4 formatted plans expose the file count
        assert "1 files" in scan_files[0] or "files read: 1" in scan_files[0]


def test_chunked_windows_never_plan_single_partition(spark):
    """The skew-tolerant chunked twins exist to avoid one-task windows;
    their plans must contain NO SinglePartition exchange anywhere."""
    for name in (
        "graph_event_transitions_chunked",
        "events_sessionize_30m_chunked",
    ):
        plan = plan_of(Q.QUERIES[name](spark, SF))
        assert "SinglePartition" not in plan, name
        assert "Window" in plan  # the windows are there, just partitioned


def test_asof_merge_plan_has_no_range_join_fanout(spark):
    """The plain merge as-of must plan as union + window — ZERO join
    operators, so no L x R pairing can exist for a hot key."""
    from pyspark.sql import functions as F

    from label_maker_dask_spark.operators.asof import asof_join_merge

    left = spark.range(10).select(
        F.col("id").alias("lid"), (F.col("id") % 3).alias("k"),
        F.timestamp_micros(F.col("id") * 1000).alias("lt"),
    )
    right = spark.range(10).select(
        (F.col("id") + 100).alias("rid"), (F.col("id") % 3).alias("k"),
        F.timestamp_micros(F.col("id") * 900).alias("rt"),
    )
    plan = plan_of(asof_join_merge(
        left, right, on=["k"], left_time="lt", right_time="rt",
        tie_break="rid",
    ))
    assert "Join" not in plan
    assert "Window" in plan


def test_exact_k_sample_gets_window_group_limit(spark):
    """The exact-k stratified sampler's shuffle must carry ~k rows per
    stratum per task, not the corpus: WindowGroupLimit pushdown."""
    plan = plan_of(Q.QUERIES["sample_exact_k_per_lang"](spark, SF))
    assert "WindowGroupLimit" in plan


def test_heavy_hitters_verify_pass_broadcasts_candidates(spark):
    """The exact counting pass must semi-join the fact against the
    BROADCAST candidate set (bounding aggregate state to candidates),
    and the join must be the semi form — no full-width fact join."""
    plan = plan_of(Q.QUERIES["agg_heavy_hitters_users"](spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan


def test_triangle_count_never_plans_cartesian(spark):
    """Every DATA-SIZED leg of the triangle kernel is an equi-join on
    integer keys; a cartesian anywhere means the wedge join lost its
    equi conditions.  (The final single-row stat combine is two
    broadcast nested-loop joins over 1-row frames BY DESIGN — allowed,
    but only those two.)"""
    import re

    plan = plan_of(Q.QUERIES["graph_triangle_copurchase"](spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 2, plan


def test_winsorized_mean_broadcasts_cut_table(spark):
    """The [p01, p99] cut table is group-cardinality rows and must ride
    a broadcast back onto the fact — the fact never shuffles for the
    clip."""
    plan = plan_of(Q.QUERIES["agg_winsorized_mean_price"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan


def test_trigrams_single_window_then_partial_agg(spark):
    """The trigram table materializes ONCE (localCheckpoint — the
    repo's materialize-once convention, no unpersist to leak) and both
    consumers (rows + share total) read the materialized RDD: the final
    plan contains NO parquet rescan and NO Window — the per-user lag
    window ran exactly once, at checkpoint time, not once per branch.
    (The checkpoint hides the upstream tree from explain, so the
    shared-lag-window shape of the fact pipeline itself is pinned by
    the sibling window-plan assertions,
    test_chunked_windows_never_plan_single_partition.)"""
    import re

    plan = plan_of(Q.QUERIES["analytics_event_path_trigrams"](spark, SF))
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 0, plan
    assert "Expand" not in plan, plan
    assert plan.count("Scan parquet") == 0, plan
    assert "ExistingRDD" in plan, plan


def test_chi2_collapses_fact_before_joins(spark):
    """The event scan must collapse to |types| x 24 cells in ONE
    partial-aggregated pass before any join; row/col totals broadcast."""
    plan = plan_of(
        Q.QUERIES["analytics_chi2_event_type_by_hour"](spark, SF)
    )
    assert "CartesianProduct" not in plan, plan
    # exactly one scan of events feeds the cells; totals derive from
    # the checkpointed cells, not fresh scans
    assert plan.count("Scan parquet") <= 1, plan


def test_spatial_grid_join_is_hash_not_nested_loop(spark):
    """The grid-bucketed spatial join's whole point: the containment
    theta join is replaced by broadcast HASH joins on tile keys — no
    nested-loop anywhere in the plan."""
    plan = plan_of(Q.QUERIES["spatial_grid_bbox_join"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_cusum_single_sort_two_windows(spark):
    """The CUSUM closed form's scale claim: both chained window passes
    (cumulative sum, then prefix min) run on ONE (type, day) sort —
    exactly one Exchange feeds exactly one Sort below the two Window
    operators, and the per-type stats ride a broadcast join."""
    plan = plan_of(Q.QUERIES["anomaly_cusum_daily_events"](spark, SF))
    assert plan.count("Window") >= 2, plan
    assert "BroadcastHashJoin" in plan, plan
    # the windows share their sort: only one Sort operator in the plan
    sorts = [l for l in plan.splitlines() if l.strip().startswith("(")
             and ") Sort" in l]
    assert len(sorts) == 1, plan


def test_bm25_topk_not_full_sort_and_broadcast_stats(spark):
    """BM25's top-50 must be TakeOrderedAndProject (per-partition
    top-k), never a global Sort, with the df/corpus-stats sides
    broadcast."""
    plan = plan_of(Q.QUERIES["text_bm25_top_docs"](spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastExchange" in plan, plan


def test_replay_batch_builders_have_no_python_row_fanout():
    """Grep-enforced hot-path rule (SCALE.md round 13): a 1-row
    ``spark.createDataFrame`` parallelizes to defaultParallelism PYTHON
    partitions — 32 python-worker round-trips, measured ~4 s per
    occurrence at sf0.1 (the session-timeout sentinel).  Single rows on
    the replay hot path are built JVM-side (``range(1)`` + ``lit``);
    this test turns the rule into an invariant for the module whose
    builders run inside every driver gate and bench pass."""
    import os

    import label_maker_dask_spark.queries_streaming_replay_ext as R

    src = open(os.path.abspath(R.__file__).replace(".pyc", ".py")).read()
    assert "createDataFrame(" not in src, (
        "queries_streaming_replay_ext must not build frames via "
        "createDataFrame (python-partition fan-out on the hot path) — "
        "use spark.range(n) + lit columns"
    )


def test_mixture_resample_broadcasts_thresholds_no_corpus_shuffle(spark):
    """The mixture resampler's corpus path must stay narrow: thresholds
    (n_groups rows) broadcast back onto the fact — a sort-merge join
    here would shuffle the whole corpus just to apply a per-group
    constant."""
    from pyspark.sql import functions as F

    from label_maker_dask_spark.operators.pipeline import mixture_resample

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    w = F.when(F.col("lang") == "en", F.lit(2)).otherwise(F.lit(1))
    plan = (
        mixture_resample(docs, "lang", w)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_sq8_rescore_broadcasts_quantizer_and_queries(spark):
    """The SQ8 plan must broadcast both the one-row quantizer ranges and
    the query-code side — the corpus never shuffles for either — and the
    candidate join must be a broadcast join on the bucket id."""
    plan = plan_of(Q.QUERIES["similarity_sq8_rescore_ann"](spark, SF))
    assert plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin"
    ) >= 2
    # ranking stays a per-query window, never a global sort
    assert "rank <= 5" in plan or "row_number" in plan


def test_pq_adc_broadcasts_codebook_and_query_subvectors(spark):
    """The PQ ADC scoring joins must broadcast the (n_sub*k)-row codebook
    and the query subvectors; only candidate codes flow through the
    non-broadcast side."""
    plan = plan_of(Q.QUERIES["similarity_pq_adc_topk_ann"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3


def test_srp_skew_profiler_is_takeordered(spark):
    """The bucket-skew profiler's top-20 must be TakeOrdered, never a
    full sort of the bucket histogram."""
    plan = plan_of(Q.QUERIES["profile_srp_bucket_skew"](spark, SF))
    assert "TakeOrderedAndProject" in plan


def _n_ops(plan: str, name: str) -> int:
    """Count physical operators by their numbered detail header —
    explain("formatted") prints each op twice (tree + detail), so a raw
    substring count double-counts."""
    import re

    return len(re.findall(rf"^\(\d+\) {name}\b", plan, re.M))


def test_detection_e2e_single_shuffle_no_python_udf(spark):
    """The object-detection e2e pipeline is pure column math (pixel
    convert/flip/pad/clamp inside codegen) up to ONE per-tile aggregate
    shuffle plus the posexplode — no Python UDF anywhere."""
    plan = plan_of(Q.QUERIES["detection_labels_e2e"](spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # window (slot assignment) + tile aggregate: bounded exchanges
    n_exchanges = _n_ops(plan, "Exchange")
    assert n_exchanges <= 3, f"expected <=3 Exchange nodes, saw {n_exchanges}"


def test_cog_entry_is_one_arrow_pass(spark):
    """The COG windowed-read gate is one executor-side Arrow stage over
    the tile list plus its repartition — decode work never leaves the
    mapInPandas operator."""
    plan = plan_of(Q.QUERIES["raster_cog_window_channel_sums"](spark, SF))
    assert _n_ops(plan, "MapInPandas") == 1
    assert "BatchEvalPython" not in plan


def test_mvt_roundtrip_one_arrow_pass_one_shuffle(spark):
    """Encode+decode both live inside the single fetch_features
    mapInPandas; the only shuffles are the tile repartition and the
    per-(tile, geometry type) aggregate."""
    plan = plan_of(Q.QUERIES["mvt_roundtrip_feature_stats"](spark, SF))
    assert _n_ops(plan, "MapInPandas") == 1
    n_exchanges = _n_ops(plan, "Exchange")
    assert n_exchanges <= 3, f"expected <=3 Exchange nodes, saw {n_exchanges}"


def _executed_nodes(df) -> list[str]:
    """Node names of ``df``'s executed physical plan, root first (read
    after ``df``'s own action, so an adaptive plan shows its final form)."""
    df.collect()
    tree = df._jdf.queryExecution().executedPlan().toString()
    return [
        m.group(1)
        for m in _re.finditer(r"^[\s:+\-]*(?:\*\s*\(\d+\)\s*)?(\w+)", tree, _re.M)
    ]


@pytest.mark.parametrize(
    "ml_type", ["classification", "object-detection", "segmentation"]
)
def test_label_job_is_one_shuffle_free_per_tile_stage(spark, ml_type):
    """LabelMakerJob plans tiles -> one per-tile source scan -> per-row
    label: no exchange, no join, no grouped map.  The scan is the one
    MapInPandas; segmentation's rasterize is a second one chained on it."""
    from label_maker_dask_spark.job import LabelMakerJob
    from label_maker_dask_spark.sources.fake import fake_features, fake_image_bytes

    job = LabelMakerJob(
        spark,
        zoom=15,
        bounds=[-9.179, 38.708, -9.16, 38.72],
        classes=[
            {"name": "Roads", "filter": ["has", "highway"]},
            {"name": "Buildings", "filter": ["has", "building"], "buffer": 2.0},
        ],
        ml_type=ml_type,
        tile_fetcher=fake_features,
        image_fetcher=fake_image_bytes,
    )
    nodes = _executed_nodes(job.build_job())
    assert not [n for n in nodes if "Exchange" in n or "ShuffleRead" in n], nodes
    assert not [n for n in nodes if "Join" in n], nodes
    assert "FlatMapGroupsInPandas" not in nodes, nodes
    maps = [i for i, n in enumerate(nodes) if n == "MapInPandas"]
    if ml_type == "segmentation":
        assert len(maps) == 2 and maps[1] == maps[0] + 1, nodes
    else:
        assert len(maps) == 1, nodes


def test_pq_join_form_never_broadcasts_query_subvectors(spark):
    """The PQ join twin's contract: the codebook sidecar may broadcast,
    but the corpus-sized query subvector frame must meet the candidate
    stream in a shuffle join — the LOGICAL plan carries no broadcast
    hint on it (AQE may still pick broadcast at toy scale from size
    stats; the hint is what would force it at 100 TB)."""
    from label_maker_dask_spark.operators.similarity import (
        pq_adc_topk_join,
        write_pq_index,
    )
    import tempfile

    from pyspark.sql import functions as F

    emb = spark.read.parquet(SF + "/embeddings.parquet")
    with tempfile.TemporaryDirectory() as d:
        idx = d + "/idx"
        write_pq_index(emb, idx)
        df = pq_adc_topk_join(
            spark, idx, emb.where(F.col("vec_id") % 21 == 0)
        )
        logical = df._jdf.queryExecution().logical().toString()
    # exactly one broadcast hint in the whole tree: the codebook
    assert logical.count("ResolvedHint") == 1


def test_lsh_multitable_broadcasts_queries_never_shuffles_corpus_by_bucket(spark):
    """The multi-table OR-construction must keep the single-table plan
    discipline at L tables: the exploded query side broadcasts into an
    equi-join on (tbl, bucket) — the corpus NEVER repartitions by
    bucket — and the only shuffles allowed are the candidate-pair dedup
    and the final per-query window (both O(candidates), not O(corpus))."""
    plan = plan_of(Q.QUERIES["similarity_lsh_multitable_topk_ann"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    n_shuffles = plan.count("Exchange hashpartitioning")
    assert n_shuffles <= 2, f"expected <=2 shuffle Exchanges, saw {n_shuffles}"
    for m in _re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        keys = m.group(1)
        assert "bucket" not in keys, (
            f"corpus repartitioned by bucket: {keys[:120]}"
        )
