"""convert workload: a seed-generated raster pyramid stored as MBTiles is
converted to PMTiles (`sources.mbtiles.read_mbtiles` ->
`sources.pmtiles.write_pmtiles`) and read back with
`sources.pmtiles.read_pmtiles`.  A fixed share of the tiles are
byte-identical, so the writer's payload dedup has work to do.

The output check: the read-back multiset of (z, x, y, sha256(payload))
must equal the input's, and the header must address every input tile.
"""

from __future__ import annotations

import collections
import hashlib
import os
import struct
import time

from . import common, inputs

N_TILES = 12000
DUP_SHARE = 0.25


def tile_multiset(items) -> collections.Counter:
    return collections.Counter((int(z), int(x), int(y), hashlib.sha256(bytes(b)).hexdigest())
                               for z, x, y, b in items)


def header_counts(path: str) -> tuple[int, int, int]:
    """(addressed_tiles, tile_entries, tile_contents) of a PMTiles v3 file."""
    with open(path, "rb") as f:
        head = f.read(127)
    if head[:7] != b"PMTiles" or head[7] != 3:
        raise ValueError(f"{path} is not a PMTiles v3 archive")
    return struct.unpack_from("<QQQ", head, 8 + 8 * 8)


def check_archive(readback, expected: collections.Counter, path: str) -> list[str]:
    errors = []
    got = tile_multiset(readback)
    if got != expected:
        missing = sum((expected - got).values())
        extra = sum((got - expected).values())
        errors.append(f"read-back multiset differs: {missing} input tiles missing, {extra} unexpected")
    addressed = header_counts(path)[0]
    if addressed != sum(expected.values()):
        errors.append(f"header addresses {addressed} tiles, input has {sum(expected.values())}")
    return errors


class Convert:
    name = "convert"

    def __init__(self, ctx):
        self.ctx = ctx
        self.n = ctx.size(N_TILES, 400)
        self.src = os.path.join(ctx.work, "pyramid.mbtiles")
        self.dst = os.path.join(ctx.work, "pyramid.pmtiles")

    def setup(self) -> None:
        tiles = inputs.raster_pyramid(self.ctx.seed, self.n, DUP_SHARE)
        inputs.write_mbtiles(self.src, tiles)
        self.in_bytes = sum(len(b) for b in tiles.values())
        self.expected = tile_multiset((z, x, y, b) for (z, x, y), b in tiles.items())
        warm = os.path.join(self.ctx.work, "warm.mbtiles")
        inputs.write_mbtiles(warm, inputs.raster_pyramid(self.ctx.seed + 1, 341, DUP_SHARE))
        t0 = time.perf_counter()
        self.spark = self.ctx.spark()
        self.convert(warm, os.path.join(self.ctx.work, "warm.pmtiles"))
        self.setup_s = time.perf_counter() - t0

    def convert(self, src: str, dst: str) -> int:
        from versatiles_rs_spark.sources.mbtiles import read_mbtiles
        from versatiles_rs_spark.sources.pmtiles import write_pmtiles

        return write_pmtiles(read_mbtiles(self.spark, src), dst, tile_type="png")

    def readback(self):
        from versatiles_rs_spark.sources.pmtiles import read_pmtiles

        return [(r.z, r.x, r.y, r.bytes) for r in read_pmtiles(self.spark, self.dst).collect()]

    def measure(self, seconds: float) -> dict:
        return common.measure_ops(self, seconds)

    def op(self) -> dict:
        _, dt = common.timed(self.convert, self.src, self.dst)
        errors = check_archive(self.readback(), self.expected, self.dst)
        return {
            "seconds": dt,
            "items": self.n,
            "out_bytes": os.path.getsize(self.dst),
            "in_bytes": self.in_bytes,
            "errors": errors,
        }

    def layers(self, rec) -> tuple[dict, list[str]]:
        """Per-layer metrics, and the check failures of the archive the
        traced write produced."""
        from pyspark.sql import functions as F

        from versatiles_rs_spark import udfs
        from versatiles_rs_spark.sources.mbtiles import read_mbtiles
        from versatiles_rs_spark.sources.pmtiles import read_pmtiles, write_pmtiles

        m = {}
        with rec.span("sources.mbtiles"):
            t0 = time.perf_counter()
            df = read_mbtiles(self.spark, self.src)
            df.agg(F.sum(F.length("bytes"))).collect()
            m["mbtiles.read_s"] = time.perf_counter() - t0
        with rec.span("udfs"):
            t0 = time.perf_counter()
            (
                udfs.with_hilbert(df)
                .repartitionByRange("hilbert")
                .sortWithinPartitions("hilbert")
                .write.format("noop").mode("overwrite").save()
            )
            m["udfs.hilbert_sort_s"] = time.perf_counter() - t0
        with rec.span("sources.pmtiles", attrs={"op": "write"}):
            t0 = time.perf_counter()
            write_pmtiles(read_mbtiles(self.spark, self.src), self.dst, tile_type="png")
            m["pmtiles.write_s"] = time.perf_counter() - t0
        with rec.span("sources.pmtiles", attrs={"op": "readback"}):
            t0 = time.perf_counter()
            read_pmtiles(self.spark, self.dst).agg(F.sum(F.length("bytes"))).collect()
            m["pmtiles.readback_s"] = time.perf_counter() - t0
        addressed, _, contents = header_counts(self.dst)
        m["pmtiles.dedup_ratio"] = contents / addressed
        return m, check_archive(self.readback(), self.expected, self.dst)
