"""Vector-tile label source: fetch + decode of the label tiles.

The reference does one HTTP GET + protobuf decode per Dask task
(reference main.py:37-44), swallowing *any* exception into an empty tile
(``except: tile_data = {}`` — the error-tolerant scan we must preserve).

Here the fetchers plug into the per-tile source scan (``tile_scan.py``):
one ``mapInPandas`` pass emitting one row per tile with its decoded
features as an array, which ``LabelMakerJob`` labels in place.
:func:`fetch_features` is the exploded view of that same scan — one row
per feature ``(z, x, y, id, geometry_type, geometry, properties)`` — for
feature-table consumers (the catalog cells).  Per partition, the HTTP
session is reused (the reference opens a fresh connection per tile).  At
1000 executors this is an embarrassingly parallel narrow stage; no
shuffle, no driver involvement.

Decode requires ``mapbox_vector_tile`` and fetch requires ``requests`` —
both optional here; tests inject a ``tile_fetcher`` (see ``fake.py``).
"""

from __future__ import annotations

import json
from typing import Callable, List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from label_maker_dask_spark.sources.tile_scan import FEATURES, TileFetcher, scan_tiles


def decoding_tile_fetcher(
    get_bytes: Callable[[int, int, int], bytes], layer: str = "osm"
) -> TileFetcher:
    """Wrap a raw-bytes getter with the MVT decode (pure-Python,
    ``sources/mvt.py`` — no protobuf package needed), keeping only
    ``layer`` (hardcoded "osm" in the reference, label.py:111).  Any
    error — bad bytes, missing layer, failed fetch — yields an empty
    feature list (reference main.py:42-44 semantics)."""
    from label_maker_dask_spark.sources import mvt

    def fetch(z: int, x: int, y: int) -> List[dict]:
        try:
            decoded = mvt.decode(get_bytes(z, x, y))
            feats = decoded[layer]["features"]
        except Exception:
            # "It is possible to get empty vector tile response" (main.py:43)
            return []
        out = []
        for i, f in enumerate(feats):
            geom = f.get("geometry") or {}
            props = f.get("properties") or {}
            out.append(
                {
                    "id": int(f.get("id") or i),
                    "geometry_type": geom.get("type"),
                    "geometry": json.dumps(geom),
                    "properties": {str(k): str(v) for k, v in props.items()},
                }
            )
        return out

    return fetch


def http_tile_fetcher(label_source: str, layer: str = "osm") -> TileFetcher:
    """Real fetcher: GET ``label_source.format(z=…, x=…, y=…)`` per tile
    with a per-partition session (the reference opens a fresh connection
    per tile), decoded by :func:`decoding_tile_fetcher`."""
    try:
        import requests
    except ImportError as exc:  # pragma: no cover - environment-dependent
        raise ImportError(
            "http_tile_fetcher requires requests; inject a custom "
            "tile_fetcher instead"
        ) from exc

    session = requests.Session()

    def get_bytes(z: int, x: int, y: int) -> bytes:
        r = session.get(label_source.format(x=x, y=y, z=z), timeout=30)
        r.raise_for_status()
        return r.content

    return decoding_tile_fetcher(get_bytes, layer)


def tile_fetcher_factory(
    label_source: Optional[str] = None, tile_fetcher: Optional[TileFetcher] = None
) -> Callable[[], TileFetcher]:
    """The per-partition fetcher factory :func:`tile_scan.scan_tiles`
    takes: the injected ``tile_fetcher`` (hermetic) when given, else a live
    HTTP fetcher for ``label_source``."""
    if tile_fetcher is not None:
        return lambda: tile_fetcher
    if label_source is None:
        raise ValueError("provide label_source or tile_fetcher")
    return lambda: http_tile_fetcher(label_source)


def fetch_features(
    tiles: DataFrame,
    label_source: Optional[str] = None,
    tile_fetcher: Optional[TileFetcher] = None,
) -> DataFrame:
    """Tiles ``(z, x, y)`` -> exploded feature rows ``(z, x, y, id,
    geometry_type, geometry, properties)``: the per-tile scan's
    ``features`` array, one row per element.  Tiles with no features (or
    a failed fetch) emit no rows.

    Exactly one of ``label_source`` (live HTTP) or ``tile_fetcher``
    (injected, hermetic) must be provided.
    """
    per_tile = scan_tiles(
        tiles, fetch_labels=tile_fetcher_factory(label_source, tile_fetcher)
    )
    return per_tile.select("z", "x", "y", F.inline(FEATURES))
