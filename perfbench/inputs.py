"""Seed-generated inputs for the three workloads.

Everything here is written by the benchmark, independently of the program:
a PNG encoder, a minimal Mapbox Vector Tile encoder, a PMTiles v3 writer and
an MBTiles writer.  The same seed always yields byte-identical files
(`digest` hashes them for the smoke tests).

- `write_images_table`: the stored images table the build workload scans
  (the program's IMAGES_SCHEMA: image_id, bytes, w, h, fmt, caption, phash).
- `write_vector_pmtiles`: the multi-zoom MVT archive the serve workload mounts.
- `raster_pyramid` + `write_mbtiles`: the multi-zoom raster pyramid the
  convert workload reads, with a fixed share of byte-identical tiles.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
import random
import sqlite3
import struct
import zlib

import numpy as np

# The program's fixture contract (FIXTURES.md §1): image ids with
# i % 5 == 0 land in the planted hot cell near (13.4, 52.5).
HOT_LON, HOT_LAT = 13.4, 52.5


def rng_for(seed: int, stream: str) -> np.random.Generator:
    tag = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:4], "little")
    return np.random.default_rng([int(seed), tag])


# ---------------------------------------------------------------------------
# PNG
# ---------------------------------------------------------------------------

def _png_chunk(tag: bytes, data: bytes) -> bytes:
    return struct.pack(">I", len(data)) + tag + data + struct.pack(
        ">I", zlib.crc32(tag + data) & 0xFFFFFFFF
    )


def encode_png_rgb(img: np.ndarray) -> bytes:
    """8-bit RGB PNG, filter type 0 on every scanline."""
    h, w, _ = img.shape
    rows = np.zeros((h, 1 + w * 3), dtype=np.uint8)
    rows[:, 1:] = img.reshape(h, w * 3)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(rows.tobytes(), 6))
        + _png_chunk(b"IEND", b"")
    )


def gradient_images(rng: np.random.Generator, n: int, size: int) -> np.ndarray:
    """(n, size, size, 3) uint8 images: a striped horizontal gradient in
    red and blue, horizontal bands in green, with per-image offsets, stripe
    period and band height, so every image encodes to different bytes."""
    x = np.arange(size, dtype=np.int64)
    off = rng.integers(0, 256, size=(n, 3))
    period = rng.integers(3, 17, size=n)
    band = rng.integers(4, 17, size=n)
    out = np.empty((n, size, size, 3), dtype=np.uint8)
    for i in range(n):
        out[i, :, :, 0] = ((x + off[i, 0] + (x // period[i]) % 2 * 24) % 256)[None, :]
        out[i, :, :, 1] = ((off[i, 1] + x // band[i] * 9) % 256)[:, None]
        out[i, :, :, 2] = ((off[i, 2] - x) % 256)[None, :]
    return out


# ---------------------------------------------------------------------------
# build: stored images table
# ---------------------------------------------------------------------------

def image_points(seed: int, n: int):
    """(ids, phash) of the build table: ids are a seed-shifted run of
    integers (a multiple of 5 apart from 0, so 1 in 5 rows is hot)."""
    rng = rng_for(seed, "images")
    base = 5 * int(rng.integers(0, 10**9))
    ids = np.arange(base, base + n, dtype=np.int64)
    phash = rng.integers(-(2**63), 2**63 - 1, size=n, dtype=np.int64)
    return ids, phash


def write_images_table(path: str, seed: int, n: int, files: int, size: int = 64) -> np.ndarray:
    """Write the images table as `files` parquet part-files; returns each
    image's PNG payload length, in row order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    ids, phash = image_points(seed, n)
    pixels = gradient_images(rng_for(seed, "pixels"), n, size)
    blobs = [encode_png_rgb(p) for p in pixels]
    schema = pa.schema(
        [
            ("image_id", pa.string()),
            ("bytes", pa.binary()),
            ("w", pa.int32()),
            ("h", pa.int32()),
            ("fmt", pa.string()),
            ("caption", pa.string()),
            ("phash", pa.int64()),
        ]
    )
    bounds = np.linspace(0, n, files + 1).astype(int)
    for f in range(files):
        lo, hi = int(bounds[f]), int(bounds[f + 1])
        tbl = pa.table(
            {
                "image_id": [f"img{i:012d}" for i in ids[lo:hi]],
                "bytes": blobs[lo:hi],
                "w": np.full(hi - lo, size, dtype=np.int32),
                "h": np.full(hi - lo, size, dtype=np.int32),
                "fmt": ["png"] * (hi - lo),
                "caption": [f"bench image {i}" for i in ids[lo:hi]],
                "phash": phash[lo:hi],
            },
            schema=schema,
        )
        pq.write_table(tbl, os.path.join(path, f"part-{f:05d}.parquet"))
    return np.array([len(b) for b in blobs], dtype=np.int64)


# ---------------------------------------------------------------------------
# PMTiles tile ids (Hilbert order, PMTiles v3 spec)
# ---------------------------------------------------------------------------

def tile_id(z: int, x: int, y: int) -> int:
    acc = ((1 << (2 * z)) - 1) // 3  # tiles in all lower zooms
    n = 1 << z
    d = 0
    s = n >> 1
    while s > 0:
        rx = 1 if x & s else 0
        ry = 1 if y & s else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s >>= 1
    return acc + d


# ---------------------------------------------------------------------------
# MVT (protobuf) encoder: one layer of point and line features
# ---------------------------------------------------------------------------

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


def _field(num: int, payload: bytes) -> bytes:
    return _varint((num << 3) | 2) + _varint(len(payload)) + payload


def _zz(v: int) -> int:
    return (v << 1) ^ (v >> 63)


def encode_mvt(rnd: random.Random, n_features: int) -> bytes:
    keys = [b"kind", b"rank"]
    values = [_field(1, k) for k in (b"poi", b"road", b"water")] + [
        _varint((4 << 3) | 0) + _varint(r) for r in range(8)  # int_value
    ]
    feats = []
    for fid in range(n_features):
        line = rnd.random() < 0.4
        npts = rnd.randint(2, 8) if line else 1
        cx = cy = 0
        geom = bytearray(_varint((1 << 3) | 1))  # MoveTo, 1 point
        for k in range(npts):
            if k == 1:
                geom += _varint(((npts - 1) << 3) | 2)  # LineTo, npts-1 points
            px, py = rnd.getrandbits(12), rnd.getrandbits(12)
            geom += _varint(_zz(px - cx)) + _varint(_zz(py - cy))
            cx, cy = px, py
        kind = 1 if line else rnd.choice((0, 2))
        tags = _varint(0) + _varint(kind) + _varint(1) + _varint(3 + rnd.getrandbits(3))
        feat = (
            _varint((1 << 3) | 0) + _varint(fid + 1)
            + _field(2, tags)
            + _varint((3 << 3) | 0) + _varint(2 if line else 1)
            + _field(4, bytes(geom))
        )
        feats.append(_field(2, feat))
    layer = (
        _varint((15 << 3) | 0) + _varint(2)
        + _field(1, b"bench")
        + b"".join(feats)
        + b"".join(_field(3, k) for k in keys)
        + b"".join(_field(4, v) for v in values)
        + _varint((5 << 3) | 0) + _varint(4096)
    )
    return _field(3, layer)


# ---------------------------------------------------------------------------
# PMTiles v3 writer
# ---------------------------------------------------------------------------

def _dir_bytes(entries) -> bytes:
    out = bytearray(_varint(len(entries)))
    last = 0
    for tid, _, _, _ in entries:
        out += _varint(tid - last)
        last = tid
    for e in entries:
        out += _varint(e[3])
    for e in entries:
        out += _varint(e[2])
    for i, e in enumerate(entries):
        contiguous = i > 0 and e[1] == entries[i - 1][1] + entries[i - 1][2]
        out += _varint(0 if contiguous else e[1] + 1)
    return gzip.compress(bytes(out), 6, mtime=0)


def write_pmtiles(path: str, tiles: dict, tile_type: int, tile_compression: int, meta: dict):
    """tiles: {(z, x, y): stored payload}. One data blob per tile, leaf
    directories of 2048 entries when the root does not fit."""
    items = sorted((tile_id(z, x, y), blob) for (z, x, y), blob in tiles.items())
    data = bytearray()
    entries = []
    for tid, blob in items:
        entries.append((tid, len(data), len(blob), 1))
        data += blob
    root = _dir_bytes(entries)
    leaves = b""
    if len(root) > 16384 - 127:
        leaf_buf = bytearray()
        root_entries = []
        for i in range(0, len(entries), 2048):
            chunk = _dir_bytes(entries[i : i + 2048])
            root_entries.append((entries[i][0], len(leaf_buf), len(chunk), 0))
            leaf_buf += chunk
        root, leaves = _dir_bytes(root_entries), bytes(leaf_buf)
    meta_blob = gzip.compress(json.dumps(meta, sort_keys=True).encode(), 6, mtime=0)
    zs = [k[0] for k in tiles]
    root_off = 127
    meta_off = root_off + len(root)
    leaf_off = meta_off + len(meta_blob)
    data_off = leaf_off + len(leaves)
    header = b"PMTiles" + bytes([3]) + struct.pack(
        "<QQQQQQQQQQQ",
        root_off, len(root), meta_off, len(meta_blob), leaf_off, len(leaves),
        data_off, len(data), len(entries), len(entries), len(entries),
    )
    header += bytes([1, 2, tile_compression, tile_type, min(zs), max(zs)])
    header += struct.pack("<iiii", -1800000000, -850511287, 1800000000, 850511287)
    header += bytes([min(zs)]) + struct.pack("<ii", 0, 0)
    assert len(header) == 127
    with open(path, "wb") as f:
        f.write(header + root + meta_blob + leaves + bytes(data))


# ---------------------------------------------------------------------------
# serve: vector pyramid
# ---------------------------------------------------------------------------

def pyramid_keys(max_zoom: int) -> list[tuple[int, int, int]]:
    return [(z, x, y) for z in range(max_zoom + 1) for x in range(1 << z) for y in range(1 << z)]


def vector_pyramid(seed: int, max_zoom: int, present_share: float) -> dict:
    """{(z, x, y): raw MVT bytes} over a seed-chosen share of z0..max_zoom
    (z0-2 always present)."""
    rnd = random.Random(int(rng_for(seed, "vector").integers(0, 2**63)))
    tiles = {}
    for key in pyramid_keys(max_zoom):
        if key[0] > 2 and rnd.random() >= present_share:
            continue
        tiles[key] = encode_mvt(rnd, rnd.randint(4, 48))
    return tiles


def stored_vector_tile(mvt: bytes) -> bytes:
    return gzip.compress(mvt, 6, mtime=0)


def write_vector_pmtiles(path: str, tiles: dict) -> int:
    """Store the MVT pyramid gzip-compressed (the common PMTiles layout);
    returns the archive size."""
    stored = {k: stored_vector_tile(v) for k, v in tiles.items()}
    write_pmtiles(path, stored, tile_type=1, tile_compression=2,
                  meta={"name": "perfbench-vector", "format": "pbf"})
    return os.path.getsize(path)


# ---------------------------------------------------------------------------
# convert: raster pyramid in MBTiles
# ---------------------------------------------------------------------------

def raster_pyramid(seed: int, n_tiles: int, dup_share: float, size: int = 64) -> dict:
    """{(z, x, y): PNG bytes}: the first n_tiles keys of a seed-shuffled
    z0..max pyramid; `dup_share` of them reuse one of 8 shared tiles, so
    their payloads are byte-identical."""
    rng = rng_for(seed, "raster")
    max_zoom = 0
    while (4 ** (max_zoom + 1) - 1) // 3 < n_tiles:
        max_zoom += 1
    keys = pyramid_keys(max_zoom)
    order = rng.permutation(len(keys))[:n_tiles]
    chosen = [keys[i] for i in sorted(order)]
    shared = [encode_png_rgb(p) for p in gradient_images(rng, 8, size)]
    is_dup = rng.random(n_tiles) < dup_share
    distinct = gradient_images(rng, int((~is_dup).sum()), size)
    tiles, k = {}, 0
    for j, key in enumerate(chosen):
        if is_dup[j]:
            tiles[key] = shared[int(rng.integers(0, 8))]
        else:
            tiles[key] = encode_png_rgb(distinct[k])
            k += 1
    return tiles


def write_mbtiles(path: str, tiles: dict) -> None:
    if os.path.exists(path):
        os.remove(path)
    con = sqlite3.connect(path)
    try:
        con.execute("CREATE TABLE metadata (name TEXT, value TEXT)")
        con.execute(
            "CREATE TABLE tiles (zoom_level INTEGER, tile_column INTEGER, "
            "tile_row INTEGER, tile_data BLOB)"
        )
        con.execute("CREATE UNIQUE INDEX tile_index ON tiles (zoom_level, tile_column, tile_row)")
        con.executemany(
            "INSERT INTO metadata VALUES (?, ?)",
            [("name", "perfbench-raster"), ("format", "png")],
        )
        con.executemany(
            "INSERT INTO tiles VALUES (?, ?, ?, ?)",
            [(z, x, (1 << z) - 1 - y, b) for (z, x, y), b in tiles.items()],
        )
        con.commit()
    finally:
        con.close()


def digest(path: str) -> str:
    """sha256 over a file, or over every file of a directory in name order."""
    h = hashlib.sha256()
    paths = (
        [os.path.join(path, f) for f in sorted(os.listdir(path))]
        if os.path.isdir(path)
        else [path]
    )
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()
