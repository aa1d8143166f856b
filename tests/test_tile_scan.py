"""The per-tile source scan's partition body (``sources/tile_scan.py``),
driven without Spark."""

import pandas as pd

from label_maker_dask_spark.sources.tile_scan import BATCH_ROWS, scan_batches


def _keys(n, start=0):
    return pd.DataFrame({"z": [16] * n, "x": range(start, start + n), "y": [7] * n})


def _feature(i):
    return {"id": i, "geometry_type": "Point",
            "geometry": '{"type": "Point", "coordinates": [1, 2]}',
            "properties": {"k": str(i)}}


def test_image_batches_stay_bounded_whatever_the_input_batch():
    """A 1000-tile input batch never becomes one 1000-image frame."""
    out = list(scan_batches(
        iter([_keys(1000), _keys(5, start=1000)]),
        None,
        lambda: lambda z, x, y: bytes([x % 256]) * 16,
    ))
    assert all(len(b) <= BATCH_ROWS for b in out)
    assert list(out[0].columns) == ["z", "x", "y", "image"]
    got = pd.concat(out)
    assert list(got["x"]) == list(range(1005))
    assert all(img == bytes([x % 256]) * 16 for x, img in zip(got["x"], got["image"]))


def test_feature_batches_close_on_feature_count():
    """Dense tiles close a batch on features, not only on tiles; every
    tile keeps its own row, and a failed fetch is an empty array."""

    def fetch(z, x, y):
        if x == 3:
            raise OSError("label tile unavailable")
        return [_feature(i) for i in range(40)]

    out = list(scan_batches(iter([_keys(10)]), lambda: fetch, None))
    assert all(sum(len(f) for f in b["features"]) < 2 * BATCH_ROWS for b in out)
    got = pd.concat(out)
    assert list(got["x"]) == list(range(10))
    assert [len(f) for f in got["features"]] == [40, 40, 40, 0] + [40] * 6
    assert got["features"].iloc[0][5] == (
        5, "Point", '{"type": "Point", "coordinates": [1, 2]}', {"k": "5"}
    )
