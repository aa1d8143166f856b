"""label_tiles: the reference pipeline.  One pass builds and executes a
``LabelMakerJob`` for each of the three ml_types over the same seeded z16
tile block, reading MVT label tiles and PNG imagery from a file tree
through the package's fetchers, and writes each job's pairs to parquet."""

from __future__ import annotations

import os
import statistics
import time
from typing import Dict, List

import numpy as np

import inputs
import tracing

NAME = "label_tiles"
#: nominal seconds per pass; with --seconds it fixes the pass count
PASS_S = 5.0
#: unmeasured passes before the measured ones
SETTLE_PASSES = 2
GRID = (12, 10)
WARM_GRID = (2, 2)
CHECK_SAMPLE = 24


def make_inputs(root: str, seed: int) -> str:
    return inputs.cached(root, NAME, seed, inputs.tile_tree, nx=GRID[0], ny=GRID[1])


def make_warm_inputs(root: str) -> str:
    return inputs.cached(
        root, NAME + "_warm", 0, inputs.tile_tree, nx=WARM_GRID[0], ny=WARM_GRID[1]
    )


def _fetchers(tree: str):
    from label_maker_dask_spark.sources.imagery import tms_image_fetcher
    from label_maker_dask_spark.sources.vector_tiles import decoding_tile_fetcher

    def get_bytes(z: int, x: int, y: int) -> bytes:
        with open(f"{tree}/labels/{z}/{x}/{y}.mvt", "rb") as fh:
            return fh.read()

    def read_file(path: str) -> bytes:
        with open(path, "rb") as fh:
            return fh.read()

    return (
        decoding_tile_fetcher(get_bytes),
        tms_image_fetcher(tree + "/imagery/{z}/{x}/{y}.png", http_get=read_file),
    )


class Context:
    def __init__(self, tree: str):
        self.tree = tree
        self.truth = inputs.load_truth(tree)
        self.tile_fetcher, self.image_fetcher = _fetchers(tree)


def prepare(spark, tree: str) -> Context:
    return Context(tree)


def warm_pass(spark, ctx: Context, clock, out_dir: str) -> None:
    """Set-up's warm pass: the segmentation job alone, which forks the
    Python workers and runs both fetchers, the grouped-map rasterizer and
    the label joins."""
    one_pass(spark, ctx, clock, out_dir, ml_types=("segmentation",))


def one_pass(spark, ctx: Context, clock, out_dir: str, ml_types=None) -> dict:
    from label_maker_dask_spark.job import ML_TYPES, LabelMakerJob

    t = ctx.truth
    ops = []
    rows: Dict[str, int] = {}
    with clock.span("pass") as p:
        for ml in ml_types or ML_TYPES:
            t0 = time.perf_counter()
            with clock.span("job.op", ml_type=ml):
                with clock.span("job.build"):
                    job = LabelMakerJob(
                        spark,
                        t["zoom"],
                        t["bounds"],
                        t["classes"],
                        ml_type=ml,
                        tile_fetcher=ctx.tile_fetcher,
                        image_fetcher=ctx.image_fetcher,
                    )
                    job.build_job()
                with clock.span("job.execute"):
                    job.execute_job(path=os.path.join(out_dir, ml))
            ops.append((ml, time.perf_counter() - t0))
            rows[ml] = int(job.metrics["rows_written"])
    return {
        "wall_s": p["end"] - p["start"],
        "items": 3 * t["n_tiles"],
        "ops": ops,
        "rows_written": rows,
        "out_dir": out_dir,
    }


# -- output checks ----------------------------------------------------------


def _px(v: float) -> int:
    return int(round(v * 255 / 4096))


def _clamp(v: int) -> int:
    return max(0, min(255, v))


def _feature_dict(f: dict) -> dict:
    return {
        "properties": f["properties"],
        "geometry": {"type": f["geometry"]["type"]},
        "id": f["id"],
    }


def _coords(geom: dict) -> List[List[float]]:
    if geom["type"] == "Point":
        return [geom["coordinates"]]
    if geom["type"] == "LineString":
        return geom["coordinates"]
    return geom["coordinates"][0]


def expected_classification(feats, classes) -> List[int]:
    from label_maker_dask_spark.filters_local import feature_passes

    flags = [
        int(any(feature_passes(c["filter"], _feature_dict(f)) for f in feats))
        for c in classes
    ]
    return [int(sum(flags) == 0)] + flags


def expected_detection(feats, classes) -> List[tuple]:
    from label_maker_dask_spark.filters_local import feature_passes

    boxes = []
    for f in sorted(feats, key=lambda f: f["id"]):
        pts = _coords(f["geometry"])
        xmin, xmax = min(p[0] for p in pts), max(p[0] for p in pts)
        ymin, ymax = min(p[1] for p in pts), max(p[1] for p in pts)
        for i, c in enumerate(classes):
            if not feature_passes(c["filter"], _feature_dict(f)):
                continue
            b = float(c.get("buffer") or 0.0)
            boxes.append(
                (
                    _clamp(_px(xmin - b) - 4),
                    _clamp(255 - _px(ymax + b) - 4),
                    _clamp(_px(xmax + b) + 4),
                    _clamp(255 - _px(ymin - b) + 4),
                    i + 1,
                )
            )
    return boxes


_ROWS = np.arange(256)[:, None]
_COLS = np.arange(256)[None, :]


def _to_pixels(geom: dict) -> dict:
    """Tile coordinates (0-4096, y up) -> pixel coordinates (0-255, y
    down), the space the rasterizer burns in."""
    px = lambda p: [_px(p[0]), 255 - _px(p[1])]  # noqa: E731
    c = geom["coordinates"]
    if geom["type"] == "Point":
        c = px(c)
    elif geom["type"] == "LineString":
        c = [px(p) for p in c]
    else:
        c = [[px(p) for p in ring] for ring in c]
    return {"type": geom["type"], "coordinates": c}


def _cell_rect(geom: dict):
    """Pixel rows [r0, r1) x cols [c0, c1) a shape burns: every generated
    shape is a whole-pixel rectangle after the 0-4096 -> 0-255 y-flipped
    conversion (center-inside polygon fill, supercover lines, points)."""
    pts = [(_px(x), 255 - _px(y)) for x, y in _coords(geom)]
    xs = [p[0] for p in pts]
    ys = [p[1] for p in pts]
    if geom["type"] == "Polygon":
        return min(ys), max(ys), min(xs), max(xs)
    return min(ys), max(ys) + 1, min(xs), max(xs) + 1


def expected_segmentation_counts(feats, classes) -> np.ndarray:
    """Closed-form class-pixel counts: each burn is a rectangle, grown by a
    Euclidean disk of the class buffer (a cell joins when its center lies
    within the buffer of the rectangle's nearest cell), burned in (feature
    id, class) order with later burns replacing earlier ones."""
    from label_maker_dask_spark.filters_local import feature_passes

    out = np.zeros((256, 256), dtype=np.uint8)
    for f in sorted(feats, key=lambda f: f["id"]):
        r0, r1, c0, c1 = _cell_rect(f["geometry"])
        for i, c in enumerate(classes):
            if not feature_passes(c["filter"], _feature_dict(f)):
                continue
            if r1 <= r0 or c1 <= c0:
                continue
            d = float(c.get("buffer") or 0.0)
            dy = np.maximum(np.maximum(r0 - _ROWS, _ROWS - (r1 - 1)), 0)
            dx = np.maximum(np.maximum(c0 - _COLS, _COLS - (c1 - 1)), 0)
            out[dy * dy + dx * dx <= d * d] = i + 1
    return np.bincount(out.ravel(), minlength=len(classes) + 1)


def check(spark, ctx: Context, result: dict) -> List[tuple]:
    """(name, ok) per check, on a seeded sample of tiles read back from the
    written parquet with pyarrow."""
    import pyarrow.parquet as pq

    t = ctx.truth
    classes = t["classes"]
    checks = [
        (f"rows_written.{ml}", n == t["n_tiles"]) for ml, n in result["rows_written"].items()
    ]
    rng = np.random.default_rng(0)
    sample = [t["tiles"][i] for i in rng.choice(len(t["tiles"]), CHECK_SAMPLE, replace=False)]
    tables = {
        ml: pq.read_table(os.path.join(result["out_dir"], ml)).to_pylist()
        for ml in ("classification", "object-detection", "segmentation")
    }
    index = {
        ml: {(r["z"], r["x"], r["y"]): r for r in rows} for ml, rows in tables.items()
    }
    for key in sample:
        z, x, y = (int(v) for v in key.split("/"))
        feats = t["features"].get(key, [])
        got = index["classification"].get((z, x, y))
        checks.append(
            (f"classification {key}", got is not None and list(got["label"]) == expected_classification(feats, classes))
        )
        got = index["object-detection"].get((z, x, y))
        boxes = None if got is None else [
            (b["xmin"], b["ymin"], b["xmax"], b["ymax"], b["class"]) for b in got["label"]
        ]
        checks.append((f"detection {key}", boxes == expected_detection(feats, classes)))
        got = index["segmentation"].get((z, x, y))
        counts = None
        if got is not None:
            arr = np.frombuffer(got["label"], dtype=np.uint8)
            counts = np.bincount(arr, minlength=len(classes) + 1)
        want = expected_segmentation_counts(feats, classes)
        checks.append(
            (f"segmentation {key}", counts is not None and np.array_equal(counts, want))
        )
    return checks


# -- per-layer metrics --------------------------------------------------------


def _src(node: dict, marker: str) -> bool:
    return node["name"] == "MapInPandas" and marker in node["desc"]


def layer_metrics(spark, spans, jobs_by_span, nodes, result) -> Dict[str, float]:
    dur = lambda name: sum(  # noqa: E731
        s["end"] - s["start"] for s in spans if s["name"] == name
    )
    feats = lambda n: _src(n, "geometry_type")  # noqa: E731
    images = lambda n: _src(n, "image") and "geometry_type" not in n["desc"]  # noqa: E731
    either = lambda n: feats(n) or images(n)  # noqa: E731
    mb = 1024.0 * 1024.0
    return {
        "job.build_s": dur("job.build"),
        "job.execute_s": dur("job.execute"),
        "job.rows_written": float(sum(result["rows_written"].values())),
        "sources.features_python_s": tracing.node_sum(nodes, tracing.PYTHON_RUN, feats),
        "sources.images_python_s": tracing.node_sum(nodes, tracing.PYTHON_RUN, images),
        "sources.python_start_s": tracing.node_sum(nodes, tracing.PYTHON_START, either),
        "sources.python_bytes_mb": (
            tracing.node_sum(nodes, tracing.PYTHON_SENT, either)
            + tracing.node_sum(nodes, tracing.PYTHON_RETURNED, either)
        )
        / mb,
        "labels.agg_s": tracing.node_sum(
            nodes, tracing.AGG_BUILD, lambda n: "Aggregate" in n["name"]
        ),
        "labels.segmentation_python_s": tracing.node_sum(
            nodes, tracing.PYTHON_RUN, lambda n: n["name"] == "FlatMapGroupsInPandas"
        ),
    }


def probes(spark, ctx: Context) -> Dict[str, float]:
    """Layer calls timed on their own, outside the passes: the tile
    generator, the filter compiler, and the two driver-side kernels (MVT
    decode, rasterize) on a seeded sample of tiles."""
    from label_maker_dask_spark import raster, tiles
    from label_maker_dask_spark.filters import compile_filter
    from label_maker_dask_spark.sources import mvt

    t = ctx.truth
    out: Dict[str, float] = {"tiles.count": float(tiles.n_tiles(t["bounds"], t["zoom"]))}
    gen = []
    for _ in range(3):
        t0 = time.perf_counter()
        tiles.tiles_df(spark, t["bounds"], t["zoom"]).write.format("noop").mode(
            "overwrite"
        ).save()
        gen.append(time.perf_counter() - t0)
    out["tiles.generate_s"] = statistics.median(gen)
    comp = []
    for _ in range(20):
        for c in t["classes"]:
            t0 = time.perf_counter()
            compile_filter(c["filter"])
            comp.append(time.perf_counter() - t0)
    out["filters.compile_us"] = statistics.median(comp) * 1e6
    keys = sorted(k for k, v in t["features"].items() if v)
    rng = np.random.default_rng(7)
    sample = [keys[i] for i in rng.choice(len(keys), min(32, len(keys)), replace=False)]
    dec, ras = [], []
    for key in sample:
        with open(f"{ctx.tree}/labels/{key}.mvt", "rb") as fh:
            buf = fh.read()
        t0 = time.perf_counter()
        decoded = mvt.decode(buf)
        dec.append(time.perf_counter() - t0)
        shapes = [
            (_to_pixels(f["geometry"]), 1 + (i % len(t["classes"])), 0.0)
            for i, f in enumerate(decoded["osm"]["features"])
        ]
        t0 = time.perf_counter()
        raster.rasterize(shapes)
        ras.append(time.perf_counter() - t0)
    out["sources.mvt_decode_us"] = statistics.median(dec) * 1e6
    out["raster.rasterize_us"] = statistics.median(ras) * 1e6
    return out
