"""Seeded input generators for the perfbench workloads.

Every generator is a pure function of its seed: the same seed writes the
same bytes, another seed different bytes (``selftest.py`` checks both).
The encoders here (MVT, PNG) are written against the public formats and
share no code with the package, so a change to the package cannot change
the inputs it is measured on.

Outputs are cached per (workload, seed) under the work directory and
built outside every timed region.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import struct
import zlib
from typing import Callable, Dict, List

import numpy as np

#: at most this many seeds are kept per workload; older ones are removed
KEEP_SEEDS = 6


def cached(root: str, kind: str, seed: int, build: Callable[..., dict], **params) -> str:
    """Directory holding ``kind``'s inputs for ``seed``, built on first use.
    ``build(dir, seed, **params)`` writes the files and returns the truth
    record, stored as ``truth.json``.  The cache key covers the params and
    this module's source, so a changed generator never serves stale
    inputs."""
    with open(__file__, "rb") as fh:
        src = fh.read()
    key = hashlib.sha256(src + repr(sorted(params.items())).encode()).hexdigest()[:12]
    base = os.path.join(root, "inputs", kind)
    out = os.path.join(base, f"seed{seed}-{key}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(tmp)
    truth = build(tmp, seed, **params)
    with open(os.path.join(tmp, "truth.json"), "w") as fh:
        json.dump(truth, fh, sort_keys=True)
    os.rename(tmp, out)
    open(os.path.join(out, "_DONE"), "w").close()
    _prune(base, keep=out)
    return out


def _prune(base: str, keep: str) -> None:
    dirs = [
        os.path.join(base, d)
        for d in os.listdir(base)
        if d.startswith("seed") and os.path.join(base, d) != keep
    ]
    dirs.sort(key=os.path.getmtime)
    for d in dirs[: max(0, len(dirs) - (KEEP_SEEDS - 1))]:
        shutil.rmtree(d, ignore_errors=True)


def load_truth(path: str) -> dict:
    with open(os.path.join(path, "truth.json")) as fh:
        return json.load(fh)


# ---------------------------------------------------------------------------
# label_tiles: an MVT + PNG tile tree (stand-in for OSM-QA tiles and a TMS)
# ---------------------------------------------------------------------------

ZOOM = 16
EXTENT = 4096

#: class config shared by the three ml_types; filters mix has / == / in /
#: all / any, and detection and segmentation see the buffers
CLASSES = [
    {"name": "road", "filter": ["has", "highway"], "buffer": 2},
    {"name": "building", "filter": ["in", "building", "yes", "house", "commercial"]},
    {"name": "water", "filter": ["==", "natural", "water"], "buffer": 1},
    {"name": "park", "filter": ["all", ["==", "landuse", "park"], ["has", "name"]]},
    {
        "name": "major",
        "filter": ["any", ["==", "highway", "primary"], [">=", "lanes", 3]],
        "buffer": 3,
    },
]

_PROPS = [
    {"highway": "residential", "name": "First St"},
    {"highway": "primary", "lanes": "2"},
    {"highway": "secondary", "lanes": "4"},
    {"highway": "footway"},
    {"building": "yes", "height": "12"},
    {"building": "house"},
    {"building": "commercial", "name": "Mall"},
    {"building": "garage"},
    {"natural": "water"},
    {"natural": "wood"},
    {"landuse": "park", "name": "Green"},
    {"landuse": "park"},
    {"landuse": "grass"},
    {"amenity": "school", "name": "North"},
]


def _tile_lng(x: float, z: int) -> float:
    return x / float(1 << z) * 360.0 - 180.0


def _tile_lat(y: float, z: int) -> float:
    n = math.pi - 2.0 * math.pi * y / float(1 << z)
    return math.degrees(math.atan(math.sinh(n)))


def _feature(rng: np.random.Generator, fid: int, kind: int, prop: int, a: int, b: int) -> dict:
    """One feature in y-up tile coordinates.  Shapes are points (kind 0-1),
    horizontal or vertical lines (2-3, 4) of ``a`` lattice steps and
    axis-aligned ``a`` x ``b`` rectangles (5-9), on a 16-unit lattice, so
    every burn is a rectangle of whole pixels and the segmentation check
    has a closed form.  Only the position is drawn here."""
    pos = lambda lo, hi: 16 * int(rng.integers(lo // 16, hi // 16))  # noqa: E731
    if kind < 2:
        geom = {"type": "Point", "coordinates": [pos(32, 4064), pos(32, 4064)]}
    elif kind < 5:
        start, c = pos(32, 4064 - 16 * a), pos(32, 4064)
        end = start + 16 * a
        pts = [[start, c], [end, c]] if kind < 4 else [[c, start], [c, end]]
        geom = {"type": "LineString", "coordinates": pts}
    else:
        x0, y0 = pos(32, 3600), pos(32, 3600)
        x1, y1 = x0 + 16 * a, y0 + 16 * b
        ring = [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]
        geom = {"type": "Polygon", "coordinates": [ring]}
    return {"id": fid, "geometry": geom, "properties": dict(_PROPS[prop])}


def tile_tree(out: str, seed: int, nx: int, ny: int) -> dict:
    """``nx * ny`` z16 tiles around a seeded spot: MVT label tiles under
    ``labels/{z}/{x}/{y}.mvt`` and PNG imagery under
    ``imagery/{z}/{x}/{y}.png``.  About 1/6 of the tiles are empty (a
    third of those have no file, a third an empty layer, a third only a
    foreign layer); a third are dense (30-60 features) and the rest sparse
    (1-8).  The shares and feature counts are the same for every seed."""
    rng = np.random.default_rng([seed, 11])
    side = 1 << ZOOM
    x0 = int(rng.integers(int(0.2 * side), int(0.8 * side)))
    y0 = int(rng.integers(int(0.3 * side), int(0.6 * side)))
    eps = 1e-7
    bounds = [
        _tile_lng(x0, ZOOM) + eps,
        _tile_lat(y0 + ny, ZOOM) + eps,
        _tile_lng(x0 + nx, ZOOM) - eps,
        _tile_lat(y0, ZOOM) - eps,
    ]
    palette = [_png(_imagery(rng)) for _ in range(16)]
    # fixed shares, seeded placement: 1/6 empty tiles (cycling through the
    # three empty forms), 1/3 dense (30-60 features), the rest sparse
    # (1-8), so every seed carries the same amount of work
    n = nx * ny
    n_empty, n_dense = n // 6, n // 3
    kinds = rng.permutation([0] * n_empty + [2] * n_dense + [1] * (n - n_empty - n_dense))
    counts = {
        0: list(rng.permutation(np.resize(np.arange(3), n_empty))),
        1: list(rng.permutation(np.resize(np.arange(1, 9), n - n_empty - n_dense))),
        2: list(rng.permutation(np.resize(np.arange(30, 61), n_dense))),
    }
    # one fixed bag of features, dealt out in a seeded order: shape kinds,
    # tag sets and sizes (2-29 lattice steps) come in fixed proportions,
    # positions are drawn per feature
    total = sum(counts[1]) + sum(counts[2])
    bag = zip(
        rng.permutation(np.resize(np.arange(10), total)),
        rng.permutation(np.resize(np.arange(len(_PROPS)), total)),
        rng.permutation(np.resize(np.arange(2, 30), total)),
        rng.permutation(np.resize(np.arange(2, 30), total)),
    )
    features: Dict[str, List[dict]] = {}
    keys: List[str] = []
    fid = 1
    for j in range(ny):
        for i in range(nx):
            x, y = x0 + i, y0 + j
            key = f"{ZOOM}/{x}/{y}"
            keys.append(key)
            kind = int(kinds[j * nx + i])
            count = int(counts[kind].pop())
            img_dir = os.path.join(out, "imagery", str(ZOOM), str(x))
            lbl_dir = os.path.join(out, "labels", str(ZOOM), str(x))
            os.makedirs(img_dir, exist_ok=True)
            os.makedirs(lbl_dir, exist_ok=True)
            with open(os.path.join(img_dir, f"{y}.png"), "wb") as fh:
                fh.write(palette[int(rng.integers(0, len(palette)))])
            if kind == 0:
                if count == 0:
                    continue
                layers = {"osm": []} if count == 1 else {"roads": [_feature(rng, 0, 5, 0, 4, 4)]}
                feats: List[dict] = []
            else:
                feats = []
                for _ in range(count):
                    kind, prop, a, b = (int(v) for v in next(bag))
                    feats.append(_feature(rng, fid, kind, prop, a, b))
                    fid += 1
                layers = {"osm": feats}
            features[key] = feats
            with open(os.path.join(lbl_dir, f"{y}.mvt"), "wb") as fh:
                fh.write(encode_mvt(layers))
    return {
        "zoom": ZOOM,
        "bounds": bounds,
        "n_tiles": nx * ny,
        "tiles": keys,
        "features": features,
        "classes": CLASSES,
    }


def _imagery(rng: np.random.Generator) -> np.ndarray:
    """A 256x256 RGB tile of flat 8-px blocks, which compresses the way
    aerial imagery does (tens of KB per tile), unlike white noise."""
    coarse = rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)
    return np.repeat(np.repeat(coarse, 8, axis=0), 8, axis=1)


def _png(arr: np.ndarray) -> bytes:
    h, w, _ = arr.shape
    raw = b"".join(b"\x00" + arr[r].tobytes() for r in range(h))

    def chunk(tag: bytes, data: bytes) -> bytes:
        crc = zlib.crc32(tag + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + tag + data + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def _varint(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _key(field: int, wire: int) -> bytes:
    return _varint((field << 3) | wire)


def _len_field(field: int, payload: bytes) -> bytes:
    return _key(field, 2) + _varint(len(payload)) + payload


def _int_field(field: int, v: int) -> bytes:
    return _key(field, 0) + _varint(v)


def _packed(field: int, values: List[int]) -> bytes:
    return _len_field(field, b"".join(_varint(v) for v in values))


def _zz(v: int) -> int:
    return (v << 1) ^ (v >> 63)


_GEOM_TYPE = {"Point": 1, "LineString": 2, "Polygon": 3}


def _commands(geom: dict) -> List[int]:
    """MVT command integers; MVT's y axis points down, GeoJSON's up."""
    if geom["type"] == "Point":
        parts = [[geom["coordinates"]]]
    elif geom["type"] == "LineString":
        parts = [geom["coordinates"]]
    else:
        parts = [ring[:-1] for ring in geom["coordinates"]]
    cmds: List[int] = []
    cx = cy = 0
    for part in parts:
        pts = [(int(x), EXTENT - int(y)) for x, y in part]
        for k, (x, y) in enumerate(pts):
            if k == 0:
                cmds.append((1 & 7) | (1 << 3))
            elif k == 1:
                cmds.append((2 & 7) | ((len(pts) - 1) << 3))
            cmds += [_zz(x - cx), _zz(y - cy)]
            cx, cy = x, y
        if geom["type"] == "Polygon":
            cmds.append((7 & 7) | (1 << 3))
    return cmds


def encode_mvt(layers: Dict[str, List[dict]]) -> bytes:
    """``{layer: [feature]}`` -> MVT 2.1 bytes, string property values."""
    tile = b""
    for name, feats in layers.items():
        keys: List[str] = []
        vals: List[str] = []
        body = b""
        for f in feats:
            tags: List[int] = []
            for k, v in f["properties"].items():
                if k not in keys:
                    keys.append(k)
                if v not in vals:
                    vals.append(v)
                tags += [keys.index(k), vals.index(v)]
            fb = _int_field(1, f["id"]) if f["id"] else b""
            fb += _packed(2, tags) + _int_field(3, _GEOM_TYPE[f["geometry"]["type"]])
            fb += _packed(4, _commands(f["geometry"]))
            body += _len_field(2, fb)
        layer = (
            _int_field(15, 2)
            + _len_field(1, name.encode())
            + body
            + b"".join(_len_field(3, k.encode()) for k in keys)
            + b"".join(_len_field(4, _len_field(1, v.encode())) for v in vals)
            + _int_field(5, EXTENT)
        )
        tile += _len_field(3, layer)
    return tile


# ---------------------------------------------------------------------------
# llm_curation: documents + embeddings with planted duplicates and clusters
# ---------------------------------------------------------------------------

_STOP = ["the", "a", "and", "of", "to", "in", "is", "it"]


def shingle_jaccard(a: List[str], b: List[str], n: int = 3) -> float:
    """Jaccard similarity of two token lists' distinct word n-gram sets."""
    sa = {tuple(a[i:i + n]) for i in range(len(a) - n + 1)}
    sb = {tuple(b[i:i + n]) for i in range(len(b) - n + 1)}
    return len(sa & sb) / len(sa | sb)


def curation_corpus(out: str, seed: int, n_base: int, dim: int = 32,
                    min_jaccard: float = 0.5) -> dict:
    """``n_base`` word-salad documents (50-90 tokens, ~20 % stopwords), each
    with an embedding near one of 12 cluster centres, plus planted rows:

    - low-quality documents (3 tokens) that the quality gate drops, 6 %;
    - exact copies of base documents (groups of 2-3), 8 % of the bases;
    - near-duplicate variants (1-5 tokens replaced by other words, so the
      3-shingle Jaccard with the base spreads over ``min_jaccard``-0.95;
      a draw below ``min_jaccard`` is redrawn), 10 % of the bases get 1-3
      variants, and one hot base gets 40 variants;

    Document ids are a seeded permutation, so ids carry no planted order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 31])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = sorted({"".join(rng.choice(letters, int(rng.integers(4, 10)))) for _ in range(3000)})
    vocab = [w for w in vocab if w not in _STOP]
    centers = rng.normal(size=(12, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)

    def text_tokens(n):
        toks = [vocab[i] for i in rng.integers(0, len(vocab), n)]
        for j in rng.choice(n, n // 5, replace=False):
            toks[j] = _STOP[int(rng.integers(0, len(_STOP)))]
        return toks

    rows = []  # (kind, tokens, embedding, base index)
    lengths = rng.permutation(np.resize(np.arange(50, 91), n_base))
    for b in range(n_base):
        c = int(rng.integers(0, 12))
        emb = centers[c] + 0.35 * rng.normal(size=dim) / math.sqrt(dim)
        rows.append(("base", text_tokens(int(lengths[b])), emb, b))
    bases = list(range(n_base))
    exact_src = rng.choice(bases, int(0.08 * n_base), replace=False)
    for k, b in enumerate(exact_src):
        for _ in range(1 + k % 2):
            rows.append(("exact", list(rows[b][1]), rows[b][2].copy(), int(b)))
    rest = [b for b in bases if b not in set(exact_src.tolist())]
    near_src = rng.choice(rest, int(0.10 * n_base) + 1, replace=False)
    hot = int(near_src[0])
    texts = {" ".join(r[1]) for r in rows}
    near_jaccard = []
    for k, b in enumerate(near_src):
        for _ in range(40 if b == hot else 1 + k % 3):
            while True:
                toks = list(rows[b][1])
                for j in rng.choice(len(toks), int(rng.integers(1, 6)), replace=False):
                    old = toks[j]
                    while toks[j] == old:  # a different word
                        toks[j] = vocab[int(rng.integers(0, len(vocab)))]
                jac = shingle_jaccard(toks, rows[b][1])
                # no variant equals another document (an unplanted exact
                # duplicate) or falls below the near-duplicate range
                if jac >= min_jaccard and " ".join(toks) not in texts:
                    break
            texts.add(" ".join(toks))
            near_jaccard.append(jac)
            emb = rows[b][2] + 0.01 * rng.normal(size=dim) / math.sqrt(dim)
            rows.append(("near", toks, emb, int(b)))
    for _ in range(int(0.06 * n_base)):
        rows.append(("low", text_tokens(3), rng.normal(size=dim), -1))

    ids = rng.permutation(len(rows)).astype(np.int64) + 1
    base_id = {r[3]: int(ids[i]) for i, r in enumerate(rows) if r[0] == "base"}
    groups: Dict[int, List[int]] = {}
    near_pairs = []
    for i, (kind, _t, _e, b) in enumerate(rows):
        if kind == "exact":
            groups.setdefault(base_id[b], [base_id[b]]).append(int(ids[i]))
        elif kind == "near":
            jac = near_jaccard[len(near_pairs)]
            near_pairs.append([int(ids[i]), base_id[b], round(jac, 6)])
    table = pa.table(
        {
            "doc_id": pa.array(ids),
            "text": [" ".join(r[1]) for r in rows],
            "embedding": pa.array(
                [r[2].astype(np.float32).tolist() for r in rows],
                type=pa.list_(pa.float32()),
            ),
        }
    )
    table = table.take(pa.array(rng.permutation(table.num_rows)))
    pq.write_table(table, os.path.join(out, "docs.parquet"))
    return {
        "n_docs": len(rows),
        "n_low_quality": sum(r[0] == "low" for r in rows),
        "exact_groups": sorted(sorted(g) for g in groups.values()),
        "near_pairs": near_pairs,
        "hot_base": base_id[hot],
    }


# ---------------------------------------------------------------------------
# stream_ingest: a CDC change log over orders and an events stream, as
# micro-batch files (one file per batch)
# ---------------------------------------------------------------------------

SESSION_GAP_S = 300
WATERMARK_S = 120
SENTINEL_USER = -1


def _us(date: str) -> int:
    return int(np.datetime64(date, "us").astype(np.int64))


def _batch_file(out: str, sub: str, b: int, table) -> None:
    import pyarrow.parquet as pq

    d = os.path.join(out, sub)
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"batch-{b:05d}.parquet")
    pq.write_table(table, path)
    # the file source replays oldest first; pin the order explicitly
    stamp = 1_700_000_000 + b
    os.utime(path, (stamp, stamp))


def stream_logs(out: str, seed: int, base_rows: int, delta_batches: int,
                changes_per_delta: int, event_batches: int, users: int) -> dict:
    """Change log: batch 0 seeds the table with ``base_rows`` inserts;
    each of the ``delta_batches`` after it carries ``changes_per_delta``
    changes -- 40 % inserts of new order keys, 40 % updates and 20 %
    deletes of live keys, with a fifth of the updates and deletes on a hot
    1 % of keys (so one batch can carry several changes for one key).
    Deltas are far smaller than the bucket count, so a bucket-pruned sink
    rewrites a few buckets per delta, not the whole table.
    Events: users in bursts (events 10-120 s apart inside a burst, >= 8
    minutes between bursts), each batch one 10-minute slice of event
    time; the last slice also holds a sentinel event a day later, whose
    watermark closes every real session in the no-data batch that ends
    the drain."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 41])
    live: List[int] = []
    next_key = 1
    seq = 0
    change_rows = 0
    for b in range(1 + delta_batches):
        cols = {k: [] for k in ("o_orderkey", "o_custkey", "o_totalprice",
                                "o_orderstatus", "seq", "is_delete")}
        for _ in range(base_rows if b == 0 else changes_per_delta):
            r = rng.random()
            if b == 0 or r < 0.4:
                key = next_key
                next_key += 1
                live.append(key)
                delete = False
            else:
                hot = live[: max(1, len(live) // 100)]
                pool = hot if rng.random() < 0.2 else live
                key = pool[int(rng.integers(0, len(pool)))]
                delete = r >= 0.8
                if delete:
                    live.remove(key)
            seq += 1
            cols["o_orderkey"].append(key)
            cols["o_custkey"].append(int(rng.integers(0, 5000)))
            cols["o_totalprice"].append(round(float(rng.uniform(1000, 500000)), 2))
            cols["o_orderstatus"].append("OFP"[int(rng.integers(0, 3))])
            cols["seq"].append(seq)
            cols["is_delete"].append(delete)
        change_rows += len(cols["seq"])
        _batch_file(out, "changes", b, pa.table({
            "o_orderkey": pa.array(cols["o_orderkey"], pa.int64()),
            "o_custkey": pa.array(cols["o_custkey"], pa.int64()),
            "o_totalprice": pa.array(cols["o_totalprice"], pa.float64()),
            "o_orderstatus": pa.array(cols["o_orderstatus"], pa.string()),
            "seq": pa.array(cols["seq"], pa.int64()),
            "is_delete": pa.array(cols["is_delete"], pa.bool_()),
        }))

    t0 = _us("2024-03-01")
    horizon = event_batches * 600 * 10**6
    ev_user, ev_ts = [], []
    for u in range(users):
        t = t0 + int(rng.integers(0, 600 * 10**6))
        while t < t0 + horizon:
            for _ in range(int(rng.integers(1, 12))):
                if t >= t0 + horizon:
                    break
                ev_user.append(u)
                ev_ts.append(t)
                t += int(rng.integers(10, 121)) * 10**6 + int(rng.integers(0, 10**6))
            t += int(rng.integers(480, 2400)) * 10**6
    ev_user = np.array(ev_user, dtype=np.int64)
    ev_ts = np.array(ev_ts, dtype=np.int64)
    order = np.argsort(ev_ts, kind="stable")
    ev_user, ev_ts = ev_user[order], ev_ts[order]
    values = np.round(rng.uniform(0, 100, len(ev_ts)), 2)
    slot = (ev_ts - t0) // (600 * 10**6)
    ts_type = pa.timestamp("us")
    event_rows = 0
    for b in range(event_batches):
        idx = np.flatnonzero(slot == b)
        idx = idx[rng.permutation(len(idx))]
        event_rows += len(idx)
        cols = [idx.astype(np.int64), ev_user[idx], ev_ts[idx], values[idx]]
        if b == event_batches - 1:
            sentinel = [-1, SENTINEL_USER, t0 + horizon + 86400 * 10**6, 0.0]
            cols = [np.append(c, v) for c, v in zip(cols, sentinel)]
            event_rows += 1
        _batch_file(out, "events", b, pa.table({
            "event_id": pa.array(cols[0]),
            "user_id": pa.array(cols[1]),
            "ts": pa.array(cols[2], type=ts_type),
            "value": pa.array(cols[3]),
        }))
    return {
        "change_rows": change_rows,
        "change_batches": 1 + delta_batches,
        "event_rows": event_rows,
        "event_batches": event_batches,
        "gap_s": SESSION_GAP_S,
        "watermark_s": WATERMARK_S,
        "sentinel_user": SENTINEL_USER,
        "lookup_keys": sorted(int(k) for k in rng.choice(live, 3, replace=False)),
    }
