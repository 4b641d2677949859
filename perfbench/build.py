"""build workload: `pipeline.flagship_scan` over a stored, seed-generated
images table (64 px PNG -> z12 JPEG tiles, planted hot cell), PIP-joined
against the program's 200-polygon layer and aggregated per (poly, tile).

The output check is an independent numpy recount: the benchmark derives
each image's point from its phash, assigns the z12 tile and its PMTiles
Hilbert id, runs its own even-odd ray cast against the same polygons and
compares every aggregate row.
"""

from __future__ import annotations

import os
import time

import numpy as np

from . import common, inputs

N_IMAGES = 12000
ZOOM = 12
N_POLYGONS = 200
CELL_ZOOM = 6  # cover-cell zoom flagship_scan joins on
JPEG_QUALITY = 80  # flagship quality table at z12
MAX_JPEG_BYTES = 64 * 64 * 3  # a JPEG larger than the raw pixels is corrupt


# ---------------------------------------------------------------------------
# independent recount
# ---------------------------------------------------------------------------

def points(seed: int, n: int):
    """lon/lat of every image, per the program's fixture contract: bits
    [0,26) of phash -> lon, [26,52) -> lat, ids % 5 == 0 jittered into the
    hot cell by bits [52,64)."""
    ids, phash = inputs.image_points(seed, n)
    p = phash.astype(np.uint64)
    mask26 = np.uint64((1 << 26) - 1)
    lon = (p & mask26).astype(np.float64) / (1 << 26) * 360.0 - 180.0
    lat = ((p >> np.uint64(26)) & mask26).astype(np.float64) / (1 << 26)
    lat = lat * 170.10225755960318 - 85.05112877980159
    hot = ids % 5 == 0
    jit = (p >> np.uint64(52)).astype(np.float64) / (1 << 12)
    lon = np.where(hot, inputs.HOT_LON + jit * 0.01, lon)
    lat = np.where(hot, inputs.HOT_LAT + jit * 0.01, lat)
    return lon, lat


def tiles_of(lon, lat, z: int):
    n = float(1 << z)
    fx = n * (lon / 360.0 + 0.5)
    fy = n * (0.5 - 0.5 * np.log(np.tan(lat * np.pi / 360.0 + np.pi / 4.0)) / np.pi)
    x = np.floor(np.clip(fx, 0.0, n - 1.0)).astype(np.int64)
    y = np.floor(np.clip(fy, 0.0, n - 1.0)).astype(np.int64)
    return x, y


def inside(px, py, rings) -> np.ndarray:
    """Even-odd crossing number over all rings (holes included); a point on
    a lower edge counts as inside, the same half-open rule as the join."""
    res = np.zeros(len(px), dtype=bool)
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        x0, y0, x1, y1 = r[:-1, 0], r[:-1, 1], r[1:, 0], r[1:, 1]
        for a, b, c, d in zip(x0, y0, x1, y1):
            if b == d:
                continue
            span = (b > py) != (d > py)
            xcross = (c - a) * (py - b) / (d - b) + a
            res ^= span & (px < xcross)
    return res


def polygons():
    from versatiles_rs_spark import fixtures

    return [(r.poly_id, r.rings) for r in fixtures.polygons_pdf(N_POLYGONS).itertuples()]


def expected_aggregate(seed: int, n: int, polys) -> dict:
    """{(poly_id, z, x, y): (n_images, tile_id)} plus the matched image
    indices per polygon (for the byte ratio)."""
    lon, lat = points(seed, n)
    x, y = tiles_of(lon, lat, ZOOM)
    out, matched = {}, {}
    for pid, rings in polys:
        pts = np.vstack([np.asarray(r, dtype=np.float64) for r in rings])
        box = (lon >= pts[:, 0].min()) & (lon <= pts[:, 0].max()) & (
            lat >= pts[:, 1].min()) & (lat <= pts[:, 1].max())
        idx = np.nonzero(box)[0]
        idx = idx[inside(lon[idx], lat[idx], rings)]
        matched[pid] = idx
        keys, counts = np.unique(np.stack([x[idx], y[idx]], axis=1), axis=0, return_counts=True)
        for (tx, ty), c in zip(keys, counts):
            out[(pid, ZOOM, int(tx), int(ty))] = (int(c), inputs.tile_id(ZOOM, int(tx), int(ty)))
    return out, matched


def check_aggregate(rows, expected: dict) -> list[str]:
    """Compare program rows (poly_id, z, x, y, n_images, tile_bytes,
    min_tile_id) with the recount; returns the failures."""
    errors = []
    got = {}
    for r in rows:
        key = (r["poly_id"], int(r["z"]), int(r["x"]), int(r["y"]))
        if key in got:
            errors.append(f"duplicate aggregate row {key}")
        got[key] = r
    for key in expected.keys() - got.keys():
        errors.append(f"missing aggregate row {key}")
    for key in got.keys() - expected.keys():
        errors.append(f"unexpected aggregate row {key}")
    for key in expected.keys() & got.keys():
        n, tid = expected[key]
        r = got[key]
        if int(r["n_images"]) != n:
            errors.append(f"{key}: n_images {r['n_images']} != {n}")
        if int(r["min_tile_id"]) != tid:
            errors.append(f"{key}: min_tile_id {r['min_tile_id']} != {tid}")
        if not 0 < int(r["tile_bytes"]) <= n * MAX_JPEG_BYTES:
            errors.append(f"{key}: tile_bytes {r['tile_bytes']} outside (0, {n * MAX_JPEG_BYTES}]")
    return errors


# ---------------------------------------------------------------------------
# workload
# ---------------------------------------------------------------------------

class Build:
    name = "build"

    def __init__(self, ctx):
        self.ctx = ctx
        self.n = ctx.size(N_IMAGES, 400)
        self.path = os.path.join(ctx.work, "images")

    def setup(self) -> None:
        png_lens = inputs.write_images_table(self.path, self.ctx.seed, self.n, files=4 * common.nproc())
        self.polys = polygons()
        self.expected, matched = expected_aggregate(self.ctx.seed, self.n, self.polys)
        self.matched_png = sum(int(png_lens[idx].sum()) for idx in matched.values())
        # cold start, timed as set-up: the session and a first job over the
        # table (forks the Python workers, loads their codecs, JIT-compiles
        # the plan paths); its output is checked like every other job's
        t0 = time.perf_counter()
        self.spark = self.ctx.spark()
        self.warm_errors = check_aggregate(self.job(), self.expected)
        self.setup_s = time.perf_counter() - t0

    def job(self, path: str | None = None):
        from versatiles_rs_spark.pipeline import flagship_scan

        return flagship_scan(self.spark, path or self.path, zoom=ZOOM, n_polygons=N_POLYGONS).collect()

    def measure(self, seconds: float) -> dict:
        return common.measure_ops(self, seconds, min_ops=3)

    def op(self) -> dict:
        rows, dt = common.timed(self.job)
        errors = check_aggregate(rows, self.expected) + self.warm_errors
        self.warm_errors = []
        pip_rows = sum(int(r["n_images"]) for r in rows)
        return {
            "seconds": dt,
            "items": self.n + pip_rows,
            "out_bytes": sum(int(r["tile_bytes"]) for r in rows),
            "in_bytes": self.matched_png,
            "errors": errors,
        }

    # -- per-layer ---------------------------------------------------------

    def layers(self, rec) -> tuple[dict, list[str]]:
        """Per-layer metrics, and the check failures of the traced job."""
        from pyspark.sql import functions as F

        from versatiles_rs_spark import codecs, fixtures, tile_math
        from versatiles_rs_spark.joins.pip import pip_join_polygons_partitioned, polygon_cover_cells
        from versatiles_rs_spark.operators.raster import parse_quality_table
        from versatiles_rs_spark.sources.arrow_scan import read_parquet_pythonside

        sc = self.spark.sparkContext
        m = {}
        with rec.span("pipeline"), common.spark_jobs(sc, "pipeline") as jobs:
            rows = self.job()
        errors = check_aggregate(rows, self.expected)
        m["pipeline.spark_jobs"] = jobs["jobs"]
        m["pipeline.spark_tasks"] = jobs["tasks"]

        kernel = fixtures.make_tile_kernel(
            zoom=ZOOM, skew=True, target_fmt="jpg",
            quality_table=parse_quality_table("0-9:90,10-14:80"), emit_bytes=False,
        )
        scan = read_parquet_pythonside(
            self.spark, self.path, schema=fixtures.tile_kernel_schema(emit_bytes=False), kernel=kernel
        )
        slim = scan.select("image_id", "lon", "lat", "z", "x", "y", "hilbert", "nbytes")
        with rec.span("sources.arrow_scan"):
            t0 = time.perf_counter()
            slim.agg(F.count("*"), F.sum("nbytes")).collect()
            m["arrow_scan.stage_s"] = time.perf_counter() - t0

        slim = slim.cache()
        slim.count()
        polys_df = fixtures.polygons_df(self.spark, N_POLYGONS)
        with rec.span("joins.pip"):
            t0 = time.perf_counter()
            matched = pip_join_polygons_partitioned(slim, polys_df, cell_zoom=CELL_ZOOM).count()
            m["joins.pip.join_s"] = time.perf_counter() - t0
        slim.unpersist()
        m["joins.pip.match_ratio"] = matched / max(1, self._candidate_pairs(polygon_cover_cells))

        # payload kernel on one core: decode the stored PNG, encode the tile
        import pyarrow.parquet as pq

        from versatiles_rs_spark.sources.arrow_scan import parquet_files

        blobs = pq.read_table(parquet_files(self.path)[0], columns=["bytes"]).column("bytes").to_pylist()[:200]
        with rec.span("codecs", attrs={"op": "decode"}):
            t0 = time.perf_counter()
            imgs = [codecs.decode_image(b) for b in blobs]
            m["codecs.decode_us"] = (time.perf_counter() - t0) / len(blobs) * 1e6
        with rec.span("codecs", attrs={"op": "encode"}):
            t0 = time.perf_counter()
            for img in imgs:
                codecs.encode_image(img, "jpg", quality=JPEG_QUALITY)
            m["codecs.encode_us"] = (time.perf_counter() - t0) / len(imgs) * 1e6

        lon, lat = points(self.ctx.seed, self.n)
        reps = max(1, 200000 // len(lon))
        with rec.span("tile_math"):
            t0 = time.perf_counter()
            for _ in range(reps):
                x, y = tile_math.lonlat_to_tile(lon, lat, ZOOM)
                tile_math.hilbert_index(np.full(len(x), ZOOM), x, y)
            m["tile_math.ns_per_point"] = (time.perf_counter() - t0) / (reps * len(lon)) * 1e9
        return m, errors

    def _candidate_pairs(self, polygon_cover_cells) -> int:
        """(point, polygon) pairs sharing a cover cell: the rows the exact
        ray cast has to test."""
        lon, lat = points(self.ctx.seed, self.n)
        cx, cy = tiles_of(lon, lat, CELL_ZOOM)
        cells, counts = np.unique(cx * (1 << CELL_ZOOM) + cy, return_counts=True)
        per_cell = dict(zip(cells.tolist(), counts.tolist()))
        total = 0
        for _, rings in self.polys:
            arrs = [np.asarray(r, dtype=np.float64) for r in rings]
            for x, y in polygon_cover_cells(arrs, CELL_ZOOM):
                total += per_cell.get(x * (1 << CELL_ZOOM) + y, 0)
        return total

