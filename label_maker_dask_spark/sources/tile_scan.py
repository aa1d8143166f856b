"""The per-tile source scan: one ``mapInPandas`` pass that fetches each
tile's label features and, when asked, its image.

The reference runs one Dask task per tile that fetches the label tile,
decodes it, fetches the image and labels the pair (reference
main.py:20-63).  This scan keeps that per-tile unit of work: each tile key
``(z, x, y)`` becomes exactly one output row

    (z, x, y, features array<struct<id, geometry_type, geometry,
                                    properties>>, image binary)

so a tile's features and image leave the scan already paired — no join on
the tile key, no shuffle — and a per-tile label reducer (``labels.py``) can
run in the same task.  ``features`` is present when a label fetcher is
given, ``image`` when an image fetcher is given.

Error tolerance (reference main.py:42-44, ``except: tile_data = {}``): a
label fetch that raises yields an empty ``features`` array, so every tile
still gets its row and its empty label.  An image fetch that raises fails
the task, as it does in the reference.

Fetchers are passed as zero-argument factories, called once per partition
on the executor, so a connector can hold per-partition state (an HTTP
session) that need not be picklable.

Output batches are bounded by :data:`BATCH_ROWS`, whatever the size of the
Arrow batch of tile keys coming in: a batch of image tiles never builds a
pandas frame of a whole input batch's images.
"""

from __future__ import annotations

import logging
from typing import Callable, Iterator, List, Optional

import pandas as pd
from pyspark.sql import DataFrame

_log = logging.getLogger(__name__)

#: the per-tile array column the label operators reduce (``labels.py``)
FEATURES = "features"
#: a tile's features, in the order the exploded view (``fetch_features``)
#: lays them out as columns
FEATURE_STRUCT = (
    "struct<id:bigint, geometry_type:string, geometry:string, "
    "properties:map<string,string>>"
)
TILE_KEY_SCHEMA = "z int, x long, y long"

#: a scan batch closes once it holds this many tiles or this many features
BATCH_ROWS = 64

# tile fetcher: (z, x, y) -> list of feature dicts
# ``{"id", "geometry_type", "geometry" (GeoJSON string), "properties"}``;
# image fetcher: (z, x, y) -> bytes
TileFetcher = Callable[[int, int, int], List[dict]]
ImageFetcher = Callable[[int, int, int], bytes]


def _feature_row(f: dict) -> tuple:
    return (f.get("id"), f.get("geometry_type"), f.get("geometry"), f.get("properties"))


def scan_tiles(
    tiles: DataFrame,
    fetch_labels: Optional[Callable[[], TileFetcher]] = None,
    fetch_image: Optional[Callable[[], ImageFetcher]] = None,
) -> DataFrame:
    """Tiles ``(z, x, y)`` -> one row per tile: ``features`` from
    ``fetch_labels()``'s fetcher, ``image`` from ``fetch_image()``'s."""
    if fetch_labels is None and fetch_image is None:
        raise ValueError("provide fetch_labels or fetch_image")
    schema = TILE_KEY_SCHEMA
    if fetch_labels is not None:
        schema += f", {FEATURES} array<{FEATURE_STRUCT}>"
    if fetch_image is not None:
        schema += ", image binary"

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return scan_batches(batches, fetch_labels, fetch_image)

    return tiles.select("z", "x", "y").mapInPandas(scan, schema=schema)


def scan_batches(
    batches: Iterator[pd.DataFrame],
    fetch_labels: Optional[Callable[[], TileFetcher]],
    fetch_image: Optional[Callable[[], ImageFetcher]],
) -> Iterator[pd.DataFrame]:
    """The scan's body, one partition: frames of tile keys in, frames of
    at most :data:`BATCH_ROWS` tiles (and about as many features) out."""
    labels = fetch_labels() if fetch_labels is not None else None
    image = fetch_image() if fetch_image is not None else None
    names = ["z", "x", "y"]
    if labels is not None:
        names.append(FEATURES)
    if image is not None:
        names.append("image")
    cols: dict = {n: [] for n in names}
    n_feats = 0
    for pdf in batches:
        for z, x, y in zip(pdf["z"], pdf["x"], pdf["y"]):
            z, x, y = int(z), int(x), int(y)
            cols["z"].append(z)
            cols["x"].append(x)
            cols["y"].append(y)
            if labels is not None:
                try:
                    feats = [_feature_row(f) for f in labels(z, x, y)]
                except Exception:
                    # "It is possible to get empty vector tile response"
                    # (reference main.py:43)
                    _log.warning(
                        "label tile %d/%d/%d: fetch failed, labelled empty",
                        z, x, y, exc_info=True,
                    )
                    feats = []
                cols[FEATURES].append(feats)
                n_feats += len(feats)
            if image is not None:
                cols["image"].append(image(z, x, y))
            if len(cols["z"]) >= BATCH_ROWS or n_feats >= BATCH_ROWS:
                yield pd.DataFrame(cols)
                cols = {n: [] for n in names}
                n_feats = 0
    if cols["z"]:
        yield pd.DataFrame(cols)
