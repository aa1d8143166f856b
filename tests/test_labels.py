"""Label operators vs hand-computed goldens (reference label.py:10-57).

Every golden runs on both input shapes the operators accept: the
per-tile frame of the source scan (``features`` array per tile) and the
exploded feature table (one row per feature, with ``tiles`` for the
empty-label fill).  ``test_per_tile_and_exploded_labels_agree`` pins
that the two shapes give identical labels on adversarial tiles."""

import json

import numpy as np
import pytest
from pyspark.sql import Row

from label_maker_dask_spark.labels import (
    classification_labels,
    detection_labels,
    segmentation_labels,
)
from label_maker_dask_spark.sources.tile_scan import scan_tiles
from label_maker_dask_spark.sources.vector_tiles import fetch_features

CLASSES = [
    {"name": "Roads", "filter": ["has", "highway"]},
    {"name": "Buildings", "filter": ["has", "building"]},
]

SHAPES = ("exploded", "per_tile")

#: a tile whose label fetch raises
FAILED = "failed"


def _poly(x0, y0, x1, y1):
    return json.dumps(
        {"type": "Polygon",
         "coordinates": [[[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]]}
    )


def _point(x, y):
    return json.dumps({"type": "Point", "coordinates": [x, y]})


def _feat(fid, geometry, properties):
    return {"id": fid, "geometry_type": json.loads(geometry)["type"],
            "geometry": geometry, "properties": properties}


def _fetcher(tile_features, reverse=False):
    def fetch(z, x, y):
        feats = tile_features[(z, x, y)]
        if feats == FAILED:
            raise RuntimeError(f"label tile {z}/{x}/{y} unavailable")
        return feats[::-1] if reverse else feats

    return fetch


def label_input(spark, tile_features, shape, reverse=False):
    """``(input frame, tiles)`` for a label operator over ``tile_features``
    (``{(z, x, y): [feature dict, …] | FAILED}``): the per-tile source scan
    (features in fetch order, or ``reverse``d), or the exploded feature
    table plus the tile frame."""
    tiles = spark.createDataFrame(
        [Row(z=z, x=x, y=y) for z, x, y in tile_features],
        schema="z int, x long, y long",
    )
    fetch = _fetcher(tile_features, reverse)
    if shape == "per_tile":
        return scan_tiles(tiles, fetch_labels=lambda: fetch), tiles
    return fetch_features(tiles, tile_fetcher=fetch), tiles


TILE_FEATURES = {
    # tile (15,0,0): one road, one building
    (15, 0, 0): [
        _feat(1, _poly(1000, 1000, 3000, 2000), {"highway": "residential"}),
        _feat(2, _poly(100, 100, 500, 500), {"building": "yes"}),
    ],
    # tile (15,1,0): no features
    (15, 1, 0): [],
    # tile (15,2,0): feature matching no class
    (15, 2, 0): [_feat(3, _point(2048, 2048), {"natural": "water"})],
}


def test_classification_labels(spark):
    for shape in SHAPES:
        feats, tiles = label_input(spark, TILE_FEATURES, shape)
        out = classification_labels(feats, CLASSES, tiles=tiles)
        got = {(r.z, r.x, r.y): r.label for r in out.collect()}
        assert got[(15, 0, 0)] == [0, 1, 1]   # both classes present
        assert got[(15, 1, 0)] == [1, 0, 0]   # no features -> background
        assert got[(15, 2, 0)] == [1, 0, 0]   # unmatched features -> background


def test_detection_labels_golden(spark):
    for shape in SHAPES:
        feats, tiles = label_input(spark, TILE_FEATURES, shape)
        out = detection_labels(feats, CLASSES, tiles=tiles)
        got = {(r.z, r.x, r.y): r.label for r in out.collect()}
        # feature 1: bounds (1000,1000,3000,2000) -> [58,126,191,197] class 1
        # (hand-computed: px(1000)=62, px(2000)=125, px(3000)=187, ±4 pad)
        b1 = got[(15, 0, 0)][0]
        assert (b1.xmin, b1.ymin, b1.xmax, b1.ymax, b1["class"]) == (58, 126, 191, 197, 1)
        # feature 2: bounds (100,100,500,500) -> px(100)=6, px(500)=31
        # y0=255-31-4=220, y1=255-6+4=253 -> [2,220,35,253] class 2
        b2 = got[(15, 0, 0)][1]
        assert (b2.xmin, b2.ymin, b2.xmax, b2.ymax, b2["class"]) == (2, 220, 35, 253, 2)
        assert got[(15, 1, 0)] == []          # empty tile -> (0,5) analogue
        assert got[(15, 2, 0)] == []          # no matching class


def test_detection_multi_class_feature(spark):
    """A feature matching k classes emits k boxes (reference label.py:124-132),
    ordered feature-major then class index."""
    for shape in SHAPES:
        feats, _ = label_input(spark, {(1, 0, 0): [
            _feat(7, _poly(1000, 1000, 3000, 2000),
                  {"highway": "primary", "building": "yes"})]}, shape)
        out = detection_labels(feats, CLASSES).collect()
        label = out[0].label
        assert len(label) == 2
        assert [b["class"] for b in label] == [1, 2]
        assert (label[0].xmin, label[0].ymin) == (label[1].xmin, label[1].ymin)


def test_detection_buffer_expands_bounds(spark):
    classes = [{"name": "Roads", "filter": ["has", "highway"], "buffer": 100.0}]
    for shape in SHAPES:
        feats, _ = label_input(
            spark, {(15, 0, 0): TILE_FEATURES[(15, 0, 0)][:1]}, shape
        )
        out = detection_labels(feats, classes).collect()
        b = out[0].label[0]
        # bounds ±100 -> (900,900,3100,2100): px(900)=56, px(2100)=131,
        # px(3100)=193 -> [52,120,197,203]
        assert (b.xmin, b.ymin, b.xmax, b.ymax, b["class"]) == (52, 120, 197, 203, 1)


def test_segmentation_labels(spark):
    for shape in SHAPES:
        feats, tiles = label_input(spark, TILE_FEATURES, shape)
        out = segmentation_labels(feats, CLASSES, tiles=tiles)
        got = {(r.z, r.x, r.y): np.frombuffer(r.label, dtype=np.uint8).reshape(256, 256)
               for r in out.collect()}
        tile = got[(15, 0, 0)]
        # feature 1 (class 1): tile coords (1000,1000)-(3000,2000) -> pixel
        # x 62..187, y (flipped) 130..193; interior pixel:
        assert tile[160, 120] == 1
        # feature 2 (class 2): (100,100)-(500,500) -> x 6..31, y 224..249
        assert tile[235, 15] == 2
        # outside everything:
        assert tile[5, 200] == 0
        assert got[(15, 1, 0)].sum() == 0     # empty tile -> zero raster
        assert got[(15, 2, 0)].sum() == 0     # unmatched -> zero raster


def test_segmentation_later_class_overwrites(spark):
    """Later (feature, class) burns overwrite earlier ones — rasterize
    REPLACE semantics the reference relies on (label.py:134-152)."""
    for shape in SHAPES:
        feats, _ = label_input(spark, {(1, 0, 0): [
            _feat(1, _poly(0, 0, 4096, 4096), {"highway": "x"}),
            _feat(2, _poly(1000, 1000, 3000, 3000), {"building": "y"}),
        ]}, shape)
        out = segmentation_labels(feats, CLASSES).collect()
        arr = np.frombuffer(out[0].label, dtype=np.uint8).reshape(256, 256)
        assert arr[128, 128] == 2     # inner polygon wins where it overlaps
        assert arr[10, 10] == 1       # outer-only region keeps class 1
        assert (arr == 0).sum() == 0 or arr[0, 0] in (0, 1)


def test_segmentation_buffer_burn_then_dilate(spark):
    """A buffered segmentation class rasterizes without shapely: the rect
    1024..2048 converts to a 64x64 pixel square, and a 2-px round-cap
    buffer adds exactly 2d(w+h) + 4*Q(2) = 512 + 4 pixels (closed form for
    integer-pixel rectangles)."""
    classes = [{"name": "Roads", "filter": ["has", "highway"], "buffer": 2.0}]
    for shape in SHAPES:
        feats, _ = label_input(spark, {(15, 0, 0): [
            _feat(1, _poly(1024, 1024, 2048, 2048), {"highway": "residential"}),
        ]}, shape)
        out = segmentation_labels(feats, classes).collect()
        arr = np.frombuffer(out[0].label, dtype=np.uint8).reshape(256, 256)
        assert (arr == 1).sum() == 64 * 64 + 2 * 2 * (64 + 64) + 4


def test_detection_emits_empty_label_for_unmatched_tiles(spark):
    """A tile whose features match no class must still produce a row with
    an empty label when tiles=None — the same contract as classification's
    background row (reference label.py:99-109)."""
    classes = [{"name": "roads", "filter": ["==", "road", "yes"]}]
    for shape in SHAPES:
        feats, _ = label_input(
            spark, {(1, 2, 3): [_feat(10, _point(100, 100), {"road": "no"})]}, shape
        )
        rows = detection_labels(feats, classes).collect()
        assert len(rows) == 1
        assert rows[0]["label"] == []


# -- per-tile vs exploded parity ----------------------------------------------

EDGE_CLASSES = [
    {"name": "Roads", "filter": ["has", "highway"]},
    {"name": "Buildings", "filter": ["has", "building"], "buffer": 2.0},
    {"name": "Tall", "filter": [">=", "height", 10]},
]

EDGE_TILES = {
    (16, 0, 0): [],                                   # empty tile
    (16, 1, 0): FAILED,                               # failed fetch
    (16, 2, 0): [
        # matches two classes (Roads, buffered Buildings)
        _feat(1, _poly(500, 500, 1500, 1500),
              {"highway": "service", "building": "yes"}),
        # non-numeric property under the numeric filter: no match
        _feat(2, _poly(2000, 2000, 2600, 2600), {"height": "tall"}),
        _feat(3, _poly(3000, 300, 3600, 900), {"height": "12"}),
    ],
    (16, 3, 0): [
        # three features share id 5: overlapping burns whose winner is
        # decided by the tie-break, and two boxes with equal order keys
        _feat(5, _poly(1000, 1000, 3000, 3000), {"building": "yes"}),
        _feat(5, _poly(1500, 1500, 2500, 2500), {"highway": "primary"}),
        _feat(5, _point(2048, 2048), {"height": "40"}),
        _feat(4, _poly(0, 0, 4096, 4096), {"height": "9.5"}),
    ],
    (16, 0, 1): [_feat(9, _point(10, 10), {"natural": "water"})],
}

_OPS = {
    "classification": classification_labels,
    "object-detection": detection_labels,
    "segmentation": segmentation_labels,
}


def _labels(df) -> dict:
    out = {}
    for r in df.collect():
        label = r.label
        if isinstance(label, (bytes, bytearray)):
            label = bytes(label)
        elif label and hasattr(label[0], "asDict"):
            label = [tuple(b) for b in label]
        out[(r.z, r.x, r.y)] = label
    return out


@pytest.mark.parametrize("ml_type", sorted(_OPS))
def test_per_tile_and_exploded_labels_agree(spark, ml_type):
    """Identical labels from the per-tile frame (in fetch order and in
    reverse) and from the exploded frame plus ``tiles``, on an empty tile,
    a failed fetch, a two-class feature, a buffered class, duplicate ids
    and a non-numeric property under a numeric filter."""
    op = _OPS[ml_type]
    per_tile, _ = label_input(spark, EDGE_TILES, "per_tile")
    reversed_, _ = label_input(spark, EDGE_TILES, "per_tile", reverse=True)
    exploded, tiles = label_input(spark, EDGE_TILES, "exploded")
    want = _labels(op(per_tile, EDGE_CLASSES))
    assert set(want) == set(EDGE_TILES)
    assert _labels(op(reversed_, EDGE_CLASSES)) == want
    assert _labels(op(exploded, EDGE_CLASSES, tiles=tiles)) == want
    if ml_type == "classification":
        assert want == {
            (16, 0, 0): [1, 0, 0, 0],
            (16, 1, 0): [1, 0, 0, 0],
            (16, 2, 0): [0, 1, 1, 1],
            (16, 3, 0): [0, 1, 1, 1],
            (16, 0, 1): [1, 0, 0, 0],
        }
    if ml_type == "object-detection":
        # id 4 matches nothing; the three id-5 boxes order by the box
        # itself (xmin 58, 89, 124), not by fetch order
        assert [b[4] for b in want[(16, 3, 0)]] == [2, 1, 3]
        assert [b[4] for b in want[(16, 2, 0)]] == [1, 2, 3]
