"""Tile server process for the serve workload.

    python3 perfbench/server_main.py --archive X.pmtiles --work DIR [--trace]

Mounts the archive the way a deployment would: `read_pmtiles` -> cache ->
count, then `server.serve_tiles` with the stored tile compression from the
header.  (tools/serve.py is not used: it unpacks the 3-tuple returned by
`server._load_tile_source` into two names and crashes on .pmtiles.)

Prints one JSON line `{"url": ..., "mount_s": ...}` when ready, then obeys
line commands on stdin:

    trace on | trace off   record spans (only with --trace)
    stop                   shut down, print {"spans": [...], "lookups": [...]}
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common, trace  # noqa: E402


def install_spans(rec: trace.Recorder, sc, lookups: list) -> None:
    """Wrap the layer entry points the request path calls by module
    attribute: the handler (server), the point lookup (containers, with
    its Spark job/task counts) and content negotiation (codecs)."""
    from versatiles_rs_spark import codecs, server
    from versatiles_rs_spark.sources import containers

    orig_get = server.TileHandler.do_GET
    orig_lookup = containers.get_tile
    orig_negotiate = codecs.optimize_compression

    def do_GET(self):
        parent = self.headers.get("X-Perfbench-Span")
        with rec.span("server", parent=int(parent) if parent else None,
                      attrs={"path": self.path}):
            orig_get(self)

    def get_tile(df, z, x, y):
        if not rec.enabled:
            return orig_lookup(df, z, x, y)
        with rec.span("sources.containers"), common.spark_jobs(sc, "get_tile") as jobs:
            t0 = time.perf_counter()
            row = orig_lookup(df, z, x, y)
            dt = time.perf_counter() - t0
        lookups.append({"s": dt, **jobs})
        return row

    def optimize_compression(blob, codec, accepted):
        with rec.span("codecs", attrs={"op": "negotiate"}):
            return orig_negotiate(blob, codec, accepted)

    server.TileHandler.do_GET = do_GET
    containers.get_tile = get_tile
    codecs.optimize_compression = optimize_compression


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--archive", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()

    common.prepare_env(args.work)
    rec = trace.Recorder("server", enabled=False, id_base=10**9)
    spark = common.start_spark(args.work, "perfbench-serve")
    lookups: list = []
    if args.trace:
        install_spans(rec, spark.sparkContext, lookups)
        rec.enabled = True

    from versatiles_rs_spark.server import serve_tiles
    from versatiles_rs_spark.sources import containers
    from versatiles_rs_spark.sources.pmtiles import read_pmtiles, read_pmtiles_header

    t0 = time.perf_counter()
    with rec.span("sources.pmtiles", attrs={"op": "read"}):
        codec = {1: "none", 2: "gzip", 3: "brotli"}[read_pmtiles_header(args.archive)["tile_compression"]]
        df = read_pmtiles(spark, args.archive).cache()
        df.count()
    read_s = time.perf_counter() - t0
    orig_tilejson = containers.tilejson_for
    tj = {}

    def tilejson_for(d):
        with rec.span("sources.containers", attrs={"op": "tilejson"}):
            t = time.perf_counter()
            out = orig_tilejson(d)
            tj["s"] = time.perf_counter() - t
        return out

    containers.tilejson_for = tilejson_for
    srv, url = serve_tiles(df, tile_fmt="mvt", tile_codec=codec)
    containers.tilejson_for = orig_tilejson
    mount_s = time.perf_counter() - t0
    rec.enabled = False
    print(json.dumps({"url": url, "mount_s": mount_s, "read_s": read_s, "tilejson_s": tj["s"]}), flush=True)

    for line in sys.stdin:
        cmd = line.strip()
        if cmd == "trace on" and args.trace:
            rec.enabled = True
        elif cmd == "trace off":
            rec.enabled = False
        elif cmd == "stop":
            break
    rec.enabled = False
    shutdown = threading.Thread(target=srv.shutdown)
    shutdown.start()
    shutdown.join(timeout=10)
    srv.server_close()
    common.stop_spark(spark)
    print(json.dumps({"spans": rec.spans, "lookups": lookups}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
