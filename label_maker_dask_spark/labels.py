"""Label derivation operators — the core of the reference pipeline
(reference label.py:10-57) re-expressed as Spark plans.

Two input shapes, told apart by the input's schema:

- per-tile: one row per tile with a ``features`` array of
  ``struct<id, geometry_type, geometry, properties>`` (the source scan,
  ``sources/tile_scan.py``).  Each operator reduces the array row by row
  and puts ``label`` in its place; every other column (the tile key, the
  image) passes through.  No shuffle, no join — ``LabelMakerJob`` uses
  this shape, so a tile's fetch, label and image stay in one task.
- exploded: one row per feature (the catalog cells' feature tables).
  Each operator aggregates to the tile key, with partial aggregation
  before the shuffle, which is what scales for wide feature tables.

The per-feature predicate, box and burn code is shared by both shapes.

Three ml_types (reference main.py:56-62):

- classification: per tile, a ``len(classes)+1`` int vector of class-presence
  flags, slot 0 = background (label.py:15-23).  Per-tile: ``exists`` over the
  array per class predicate.  Exploded: a hash aggregate of boolean-exists
  per class — one shuffle, map-side partial agg, codegen'd.
- object-detection: per tile, an array of ``(xmin, ymin, xmax, ymax, class)``
  pixel boxes (label.py:24-35).  Pure column math (bounds extraction, scale,
  y-flip, pad, clamp) — inside ``transform``/``filter``/``flatten`` per tile,
  or per feature row + ``collect_list`` when exploded.  No Python.
- segmentation: per tile, a 256x256 uint8 class-id raster (label.py:36-54)
  from the numpy rasterizer: a ``mapInPandas`` over tile rows, or a
  grouped-map ``applyInPandas`` over the tile key when exploded (the one
  genuinely imperative operator).

Error tolerance (reference main.py:42-44, label.py:55-57): a tile with no
features must still produce its empty label.  Per-tile input already holds
every tile (an empty or failed label tile is an empty array).  Exploded
input lacks those tiles: pass the ``tiles`` frame and each operator
left-joins it, filling the per-ml_type empty label.

Known reference bug deliberately NOT replicated: label.py:42-44 mutates
``feat["geometry"]["coordinates"]`` in place, double-converting features that
match two classes.  We convert each feature's coordinates exactly once.
"""

from __future__ import annotations

import json
from typing import Callable, Iterable, Iterator, Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BinaryType, StructField, StructType

from label_maker_dask_spark.filters import compile_filter
from label_maker_dask_spark.functions.pixel import (
    EXTENT,
    TILE_PX,
    pixel_bbox_cols,
)
from label_maker_dask_spark.raster import rasterize
from label_maker_dask_spark.sources.tile_scan import FEATURES

TILE_COLS = ("z", "x", "y")

_BOX = "struct<xmin:int,ymin:int,xmax:int,ymax:int,class:int>"

# innermost GeoJSON coordinate pairs "[x, y]" — lets us take geometry bounds
# with a vectorized regexp instead of parsing ragged nested arrays (the
# coordinate nesting is recursively ragged, reference label.py:158-163)
_NUM = r"(-?[0-9]+(?:\.[0-9]+)?(?:[eE][+-]?[0-9]+)?)"
_PAIR_RE = r"\[\s*" + _NUM + r"\s*,\s*" + _NUM + r"\s*[\],]"


def _is_per_tile(df: DataFrame) -> bool:
    """True when ``df`` has the per-tile shape (a ``features`` array)."""
    return any(
        f.name == FEATURES and isinstance(f.dataType, ArrayType)
        for f in df.schema.fields
    )


def _field(feature: Optional[Column], name: str) -> Column:
    """A feature attribute: a column of an exploded table (``feature`` is
    None) or a field of one element of a per-tile ``features`` array."""
    return F.col(name) if feature is None else feature[name]


def class_predicates(
    classes: Sequence[dict], feature: Optional[Column] = None
) -> list[Column]:
    """One compiled Catalyst predicate per class config dict
    (``{"name":…, "filter": <GL filter>, "buffer": float?}``,
    reference main.py:73), over ``feature``'s attributes (see ``_field``)."""
    return [
        compile_filter(
            c.get("filter"),
            properties=_field(feature, "properties"),
            geometry_type=_field(feature, "geometry_type"),
            feature_id=_field(feature, "id"),
        )
        for c in classes
    ]


def _norm_classes(classes: Sequence[dict]) -> list[dict]:
    out = []
    for c in classes:
        c = dict(c)
        if isinstance(c.get("filter"), str):
            c["filter"] = json.loads(c["filter"])
        out.append(c)
    return out


def _with_label(per_tile: DataFrame, label: Column) -> DataFrame:
    """Per-tile output: ``label`` in place of the ``features`` column."""
    return per_tile.select(
        *[label.alias("label") if c == FEATURES else per_tile[c] for c in per_tile.columns]
    )


def geometry_bounds(geometry: Column) -> Column:
    """``struct(xmin, ymin, xmax, ymax)`` of a GeoJSON geometry string in
    tile-local coordinates — regexp + array min/max, fully JVM-side (the
    Spark analogue of ``shape(geom).bounds`` at reference label.py:128-131).
    """
    xs = F.transform(
        F.regexp_extract_all(geometry, F.lit(_PAIR_RE), 1),
        lambda s: s.cast("double"),
    )
    ys = F.transform(
        F.regexp_extract_all(geometry, F.lit(_PAIR_RE), 2),
        lambda s: s.cast("double"),
    )
    return F.struct(
        F.array_min(xs).alias("xmin"),
        F.array_min(ys).alias("ymin"),
        F.array_max(xs).alias("xmax"),
        F.array_max(ys).alias("ymax"),
    )


def classification_labels(
    features: DataFrame,
    classes: Sequence[dict],
    tiles: Optional[DataFrame] = None,
    tile_cols: Sequence[str] = TILE_COLS,
) -> DataFrame:
    """Per-tile class-presence vector (reference label.py:15-23).

    ``label[i+1] = 1`` iff any feature passes class i's filter;
    ``label[0] = 1`` iff every other slot is 0 (background activation,
    label.py:119-120).  Exploded input: tiles absent from ``features`` (or
    present in ``tiles`` only) get the empty label ``[1, 0, …]``
    (label.py:197-202).  Per-tile input ignores ``tiles`` and
    ``tile_cols``: each row is labelled in place.
    """
    classes = _norm_classes(classes)
    if _is_per_tile(features):
        flags = [
            F.when(F.exists(F.col(FEATURES), _predicate_fn(c)), 1).otherwise(0)
            for c in classes
        ]
        return _with_label(features, _presence_label(flags))
    if not classes:
        # zero classes: every tile is background-only (reference label.py:
        # 114-121 with an empty loop -> [1])
        base = tiles if tiles is not None else features
        return base.select(*tile_cols).distinct().select(
            *tile_cols, F.array(F.lit(1)).alias("label")
        )
    preds = class_predicates(classes)
    flags = [
        F.max(F.when(p, 1).otherwise(0)).alias(f"_c{i}")
        for i, p in enumerate(preds)
    ]
    agg = features.groupBy(*[F.col(c) for c in tile_cols]).agg(*flags)
    if tiles is not None:
        agg = tiles.select(*tile_cols).join(agg, list(tile_cols), "left")
    filled = [
        F.coalesce(F.col(f"_c{i}"), F.lit(0)) for i in range(len(classes))
    ]
    return agg.select(*tile_cols, _presence_label(filled).alias("label"))


def _predicate_fn(cl: dict) -> Callable[[Column], Column]:
    """Class ``cl``'s predicate as a lambda over one array element."""
    return lambda f: class_predicates([cl], f)[0]


def _presence_label(flags: list[Column]) -> Column:
    """``[background, *flags]`` from 0/1 class flags."""
    total = sum(flags, F.lit(0))
    return F.array(F.when(total == 0, 1).otherwise(0), *flags)


def detection_labels(
    features: DataFrame,
    classes: Sequence[dict],
    tiles: Optional[DataFrame] = None,
    tile_cols: Sequence[str] = TILE_COLS,
    order_col: str = "id",
) -> DataFrame:
    """Per-tile array of pixel bounding boxes (reference label.py:24-35).

    Per feature x matching class: geometry bounds, optional buffer expansion,
    0-4096 -> 0-255 conversion with y-flip, ±4 px pad, clamp, class id
    ``i+1`` (label.py:122-131, 166-194).  A feature matching k classes emits
    k boxes.  Output order is deterministic: by ``order_col`` within the
    tile, then class index — the reference's iteration order; features
    tied on ``order_col`` order by their boxes.  Both input shapes sort
    the same ``(order, boxes)`` structs, so they agree on ties too.

    Buffer note: the reference buffers the *geometry* then takes its bounds
    (label.py:129-131); a round-cap buffer of distance d expands the bounds
    by exactly d on each side, so we apply the expansion directly to the
    bounds — same result, no geometry library.
    """
    classes = _norm_classes(classes)
    empty = F.array().cast(f"array<{_BOX}>")

    def boxes(feature: Optional[Column], bounds: Column) -> Column:
        """The feature's box per matching class, in class order."""
        per_class = []
        for i, (cl, pred) in enumerate(zip(classes, class_predicates(classes, feature))):
            buf = float(cl.get("buffer") or 0.0)
            x0, y0, x1, y1 = pixel_bbox_cols(
                bounds["xmin"] - buf,
                bounds["ymin"] - buf,
                bounds["xmax"] + buf,
                bounds["ymax"] + buf,
            )
            box = F.struct(
                x0.alias("xmin"),
                y0.alias("ymin"),
                x1.alias("xmax"),
                y1.alias("ymax"),
                F.lit(i + 1).alias("class"),
            )
            per_class.append(F.when(pred, box))
        return F.filter(F.array(*per_class), lambda s: s.isNotNull())

    def flatten_sorted(ordered_boxes: Column) -> Column:
        """array<struct<_ord, _boxes>> -> the tile's boxes in order."""
        return F.flatten(
            F.transform(F.array_sort(ordered_boxes), lambda s: s["_boxes"])
        )

    if _is_per_tile(features):
        if not classes:
            return _with_label(features, empty)
        # bounds once per feature (the regexps), then the boxes per class
        with_bounds = F.transform(
            F.col(FEATURES),
            lambda f: F.struct(
                f[order_col].alias("_ord"),
                f["id"].alias("id"),
                f["geometry_type"].alias("geometry_type"),
                f["properties"].alias("properties"),
                geometry_bounds(f["geometry"]).alias("_b"),
            ),
        )
        ordered = F.transform(
            with_bounds,
            lambda g: F.struct(g["_ord"].alias("_ord"), boxes(g, g["_b"]).alias("_boxes")),
        )
        return _with_label(features, flatten_sorted(ordered))
    if not classes:
        base = tiles if tiles is not None else features
        return base.select(*tile_cols).distinct().select(
            *tile_cols, empty.alias("label")
        )
    per_feature = features.select(
        *tile_cols,
        F.col(order_col).alias("_ord"),
        boxes(None, geometry_bounds(F.col("geometry"))).alias("_boxes"),
    )
    if tiles is not None:
        # non-matching features can be dropped pre-shuffle: the left join
        # below restores their tiles with the empty label
        per_feature = per_feature.where(F.size("_boxes") > 0)
    # with tiles=None every tile that HAS features must still emit a row
    # (empty label) — same contract as classification's background row
    agg = per_feature.groupBy(*tile_cols).agg(
        F.collect_list(F.struct("_ord", "_boxes")).alias("_fb")
    )
    out = agg.select(*tile_cols, flatten_sorted(F.col("_fb")).alias("label"))
    if tiles is not None:
        out = (
            tiles.select(*tile_cols)
            .join(out, list(tile_cols), "left")
            .select(*tile_cols, F.coalesce("label", empty).alias("label"))
        )
    return out


def segmentation_labels(
    features: DataFrame,
    classes: Sequence[dict],
    tiles: Optional[DataFrame] = None,
    tile_cols: Sequence[str] = TILE_COLS,
    order_col: str = "id",
) -> DataFrame:
    """Per-tile 256x256 uint8 class-id raster as a binary column
    (reference label.py:36-54).

    Per tile: convert coordinates to pixel space once per feature (fixing
    the double-convert bug at label.py:42-44), then burn each matching
    (feature, class) pair in deterministic (feature order, class index)
    order — later burns overwrite, the reference's rasterize REPLACE
    semantics.  Per-tile input runs this in a ``mapInPandas`` over the
    rows; exploded input in a grouped-map ``applyInPandas`` over the tile
    key.

    ``buffer`` on a class (reference ``geo.buffer(d, 4)`` between clip and
    burn, label.py:49-52) is applied WITHOUT a geometry library via
    burn-then-morph: the shape is burned to a scratch mask and a
    ``|d|``-px Euclidean disk dilation (negative d: erosion) runs on the
    256-px grid before the REPLACE write — see raster.morph_disk.
    """
    classes = _norm_classes(classes)
    filters = [c.get("filter") for c in classes]
    buffers = [float(c.get("buffer") or 0.0) for c in classes]

    if _is_per_tile(features):
        schema = StructType(
            [
                StructField("label", BinaryType()) if f.name == FEATURES else f
                for f in features.schema.fields
            ]
        )

        def burn_rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                pdf[FEATURES] = [
                    _burn_tile(
                        (
                            (f["geometry"], f["properties"], f["geometry_type"], f[order_col])
                            for f in feats
                        ),
                        filters,
                        buffers,
                    )
                    for feats in pdf[FEATURES]
                ]
                yield pdf.rename(columns={FEATURES: "label"})

        return features.mapInPandas(burn_rows, schema=schema)

    cols = list(tile_cols)
    schema = ", ".join(f"{c} long" for c in cols) + ", label binary"

    def burn(pdf: pd.DataFrame) -> pd.DataFrame:
        # column-array zip, not iterrows: pandas row views cost ~100us each,
        # which dominated the whole rasterize stage at bench scale
        label = _burn_tile(
            zip(
                pdf["geometry"].to_numpy(),
                pdf["properties"].to_numpy(),
                pdf["geometry_type"].to_numpy(),
                pdf[order_col].to_numpy(),
            ),
            filters,
            buffers,
        )
        head = {c: [pdf.iloc[0][c]] for c in cols}
        head["label"] = [label]
        return pd.DataFrame(head)

    # pin the grouped-map stage's parallelism: per-tile rasterize cost is
    # Python compute AQE's byte-based coalescing cannot see (guards
    # docstring has the measurements) — without the pin every tile burns
    # through one worker
    from label_maker_dask_spark.operators.guards import pin_group_parallelism

    out = pin_group_parallelism(features, *cols).groupBy(*cols).applyInPandas(
        burn, schema=schema
    )
    if tiles is not None:
        empty = F.lit(bytes(256 * 256))
        out = (
            tiles.select(*cols)
            .join(out, cols, "left")
            .select(*cols, F.coalesce("label", empty).alias("label"))
        )
    return out


def _burn_tile(
    features: Iterable[tuple], filters: list, buffers: list[float]
) -> bytes:
    """One tile's raster bytes from its ``(geometry, properties,
    geometry_type, order)`` features: burned in order, then class index.
    Features tied on order burn in a fixed order of their content, so the
    raster does not depend on the order the features arrive in."""
    from label_maker_dask_spark.filters_local import feature_passes

    feats = []
    for geometry, properties, gtype, order in features:
        props = dict(properties) if properties is not None else {}
        if order is not None and order != order:  # NaN: a null id via pandas
            order = None
        feats.append((geometry, props, gtype, order))
    feats.sort(
        key=lambda f: (
            f[3] is None,
            f[3] or 0,
            f[0] or "",
            f[2] or "",
            json.dumps(f[1], sort_keys=True),
        )
    )
    shapes = []
    for geometry, props, gtype, order in feats:
        try:
            geom = json.loads(geometry)
        except (TypeError, ValueError):
            continue
        feature = {"properties": props, "geometry": {"type": gtype}, "id": order}
        converted = None
        for i, filt in enumerate(filters):
            if not feature_passes(filt, feature):
                continue
            if converted is None:
                converted = _convert_geom(geom)
            shapes.append((converted, i + 1, buffers[i]))
    return rasterize(shapes).tobytes()


def _convert_geom(geom: dict) -> dict:
    """Convert GeoJSON coordinates 0-4096 -> 0-255 pixel space with y-flip,
    HALF_EVEN rounding — numpy port of reference label.py:158-163/188-194,
    applied once per feature (not once per matching class)."""

    def conv(coords, depth_even=True):
        if not isinstance(coords, (list, tuple)):
            return coords
        if coords and isinstance(coords[0], (int, float)):
            # keep only (x, y): a 3-element GeoJSON position's altitude
            # must not be scaled as if it were a coordinate
            out = []
            for i, v in enumerate(coords[:2]):
                px = float(np.round(v * TILE_PX / EXTENT))
                out.append(px if i % 2 == 0 else TILE_PX - px)
            return out
        return [conv(c) for c in coords]

    g = dict(geom)
    if "coordinates" in g:
        g["coordinates"] = conv(g["coordinates"])
    return g


def empty_label_classification(n_classes: int) -> list[int]:
    """[1, 0, …] — background-only (reference label.py:197-202)."""
    return [1] + [0] * n_classes
