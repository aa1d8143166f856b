"""Bench harness contracts (round 16): the driver's BENCH record must
survive a truncating tail capture, and the three floor tables must agree.

The driver keeps only a TAIL of bench.py's stdout; at 250+ entries the
full per-query record is >16 KB and truncates mid-JSON (BENCH_r15.json
recorded ``parsed: null``).  bench.py therefore prints a compact summary
as its LAST line — these tests pin that line's contract without running
the suite."""

from __future__ import annotations

import json
import re

import bench


def test_summary_is_small_complete_json_with_headline_keys():
    times = {f"q{i}": 0.5 + i * 0.01 for i in range(260)}
    times["q1_pricing_summary"] = 0.6
    times["segmentation_raster_class_areas"] = 2.0
    s = bench.build_summary(times, 0.1, 2, "BENCH_RUN.json")
    line = json.dumps(s)
    # bounded size: survives any sane tail capture even at 10x catalog
    assert len(line) < 2048
    assert json.loads(line) == s
    assert s["metric"] == "headline_suite_seconds"
    assert s["unit"] == "sec"
    assert s["n_queries"] == len(times)
    assert s["value"] == round(sum(times.values()), 3)
    assert len(s["slowest"]) == 5
    fs = s["floor_subset"]
    assert fs["worst_query"] in bench.FLOOR
    # the subset ratio is an occupancy-weighted mean of per-query
    # ratios, so the worst per-query ratio bounds it from above
    assert fs["ratio"] > 0
    assert fs["worst_ratio"] >= fs["ratio"] - 1e-3


def test_per_query_chunks_are_small_and_add_up_to_times():
    """bench.py prints the per-query map as chunk lines just before the
    compact line: each one must survive a tail capture of short lines,
    and together they must carry exactly ``times``, in suite order."""
    times = {
        f"catalog_entry_with_a_long_descriptive_name_{i:03d}": 0.5 + i * 0.0137
        for i in range(260)
    }
    lines = bench.per_query_chunks(times)
    assert len(lines) > 1
    merged = {}
    for i, line in enumerate(lines):
        assert len(line.encode()) < 2048
        rec = json.loads(line)
        assert rec["metric"] == "headline_suite_queries"
        assert (rec["part"], rec["parts"]) == (i + 1, len(lines))
        merged.update(rec["queries"])
    assert merged == times
    assert list(merged) == list(times)
    assert bench.per_query_chunks({}) == []


def test_summary_without_floor_queries_omits_floor_subset():
    s = bench.build_summary({"x": 1.0}, 0.01, 3, None)
    assert "floor_subset" not in s
    assert s["full_record"] is None


def test_floor_tables_agree_across_bench_diff_and_baseline():
    """bench.py owns the floor table; tools/bench_diff imports it, and
    BASELINE.md's JSON block must carry the same 22 values — a drift in
    any copy silently rescales every per-round perf verdict."""
    import importlib.util
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "bench_diff", os.path.join(repo, "tools", "bench_diff.py")
    )
    bd = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bd)
    assert bd.FLOOR is bench.FLOOR or bd.FLOOR == bench.FLOOR

    text = open(os.path.join(repo, "BASELINE.md")).read()
    blocks = re.findall(r"```json\n(.*?)```", text, re.S)
    recorded = {}
    for b in blocks:
        try:
            data = json.loads(b)
        except json.JSONDecodeError:
            continue
        if isinstance(data, dict) and "queries" in data:
            recorded = data["queries"]
            break
    assert recorded, "BASELINE.md JSON block with queries not found"
    assert set(bench.FLOOR) <= set(recorded)
    for k, v in bench.FLOOR.items():
        assert abs(recorded[k] - v) < 1e-9, k


def test_band_is_capped_so_warmup_outliers_cannot_blind_the_classifier():
    import importlib.util
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "bench_diff", os.path.join(repo, "tools", "bench_diff.py")
    )
    bd = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bd)
    assert bd._band("q", {"q": 14.6}, {"q": 10.8}) == 1.0   # capped
    assert bd._band("q", {}, {}) == 0.25                    # floor
    assert bd._band("q", {"q": 0.1}, {"q": 0.1}) == 0.4     # 2*(s+s)


def test_parse_args_missing_value_is_a_usage_error_not_a_traceback():
    """--only/--passes/--out as the LAST argument with no value must hit
    the usage-error path (SystemExit naming the option), not leak a bare
    StopIteration from next(it) (round-16 advice item)."""
    import pytest

    for opt in ("--only", "--passes", "--out"):
        with pytest.raises(SystemExit, match=opt):
            bench._parse_args([opt])
    # a value present still parses
    assert bench._parse_args(["--passes", "3"])["passes"] == 3


def test_precedence_readers_and_builders_are_benched_in_order():
    """Every PRECEDENCE reader and its builder must be HEADLINE entries
    with the builder positioned EARLIER, so a full bench run (and a
    --only recheck that prepends the builder) charges the index build to
    the builder's cell, never the reader's."""
    for reader, builder in bench.PRECEDENCE.items():
        assert reader in bench.HEADLINE, reader
        assert builder in bench.HEADLINE, builder
        assert bench.HEADLINE.index(builder) < bench.HEADLINE.index(reader)


def test_embed_referee_only_updates_the_matching_snapshot(tmp_path):
    """--recheck folds its fresh-JVM verdicts into BENCH_LOCAL.json so
    the committed snapshot is self-adjudicating (round-16 verdict item
    8) — but ONLY when the snapshot carries the exact per-query map of
    the record that was rechecked; another run's snapshot must be left
    byte-untouched rather than mislabeled."""
    import importlib.util
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "bench_diff", os.path.join(repo, "tools", "bench_diff.py")
    )
    bd = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bd)

    queries = {"a": 1.0, "b": 2.5}
    verdicts = {"b": {"recheck_best_of_3": 0.9, "rechecked": "noise"}}

    snap = tmp_path / "BENCH_LOCAL.json"
    snap.write_text(json.dumps({"value": 3.5, "queries": queries}) + "\n")
    assert bd._embed_referee(queries, verdicts, str(snap)) is True
    updated = json.loads(snap.read_text())
    assert updated["referee"] == verdicts
    assert updated["queries"] == queries

    other = tmp_path / "other.json"
    before = json.dumps({"value": 9.9, "queries": {"a": 9.9}}) + "\n"
    other.write_text(before)
    assert bd._embed_referee(queries, verdicts, str(other)) is False
    assert other.read_text() == before

    missing = tmp_path / "nope.json"
    assert bd._embed_referee(queries, verdicts, str(missing)) is False
