"""serve workload: HTTP tile GETs against a separate server process that
mounts a seed-generated vector (MVT) PMTiles archive with
`server.serve_tiles` over the cached `sources.pmtiles.read_pmtiles`
relation (perfbench/server_main.py).

Traffic (sources in README.md): keys are Zipf-skewed over every z0..MAX_ZOOM
key, so requests for keys the archive lacks get 404, and each request
carries one of three Accept-Encoding headers that real clients send by
default.  After a warm-up, the run alternates two phases in ROUND_S-long
rounds: an open loop of Poisson arrivals at OPEN_RATE_PER_CORE x nproc
requests/s (about a quarter of what the warm server sustains), each
request timed from its due time, then a closed loop of nproc clients.
Each metric is the median over the rounds, so a stall of the host that
spans fewer than half of them does not move it.  One process drives both
phases, with at most nproc threads.

Output check: a 200 body, decoded per its Content-Encoding, must equal the
archive's MVT payload for that key; a 404 is correct only for keys outside
the archive.
"""

from __future__ import annotations

import ctypes
import ctypes.util
import gzip
import http.client
import json
import os
import statistics
import subprocess
import sys
import threading
import time
from urllib.parse import urlparse

import numpy as np

from . import common, inputs

MAX_ZOOM = 6
PRESENT_SHARE = 0.85  # of the z3+ keys; the rest are the 404s
# Zipf exponent: the middle of the 0.64-0.83 range Breslau et al. (INFOCOM
# 1999) measured for web request popularity.
ZIPF_S = (0.64 + 0.83) / 2
# Default Accept-Encoding of browsers over HTTPS, of Go net/http and OkHttp,
# and of curl (none); drawn with equal odds.
ENCODINGS = ("gzip, deflate, br", "gzip", None)
OPEN_RATE_PER_CORE = 1.5
OPEN_SHARE = 0.6  # of each round; the rest is the closed loop
ROUND_S = 5.0
READY_TIMEOUT_S = 150
WARM_UP_S = 25.0


# ---------------------------------------------------------------------------
# response decoding (brotli through the system libbrotlidec)
# ---------------------------------------------------------------------------

class Brotli:
    def __init__(self):
        name = ctypes.util.find_library("brotlidec") or "libbrotlidec.so.1"
        self.lib = ctypes.CDLL(name)
        self.lib.BrotliDecoderDecompress.restype = ctypes.c_int
        self.lib.BrotliDecoderDecompress.argtypes = [
            ctypes.c_size_t, ctypes.c_char_p, ctypes.POINTER(ctypes.c_size_t), ctypes.c_char_p,
        ]

    def decompress(self, data: bytes, max_out: int) -> bytes | None:
        out = ctypes.create_string_buffer(max_out)
        size = ctypes.c_size_t(max_out)
        if self.lib.BrotliDecoderDecompress(len(data), data, ctypes.byref(size), out) != 1:
            return None
        return out.raw[: size.value]


def decode_body(body: bytes, encoding: str | None, expected_len: int, br: Brotli) -> bytes | None:
    try:
        if encoding in (None, "identity"):
            return body
        if encoding == "gzip":
            return gzip.decompress(body)
        if encoding == "br":
            return br.decompress(body, expected_len + 1)
    except (OSError, EOFError):
        return None
    return None


def check_response(status: int, body: bytes, encoding: str | None, key, tiles: dict, br: Brotli) -> str | None:
    """None when the response is right for `key`, else the failure."""
    raw = tiles.get(key)
    if status == 404:
        return None if raw is None else f"404 for archived tile {key}"
    if status != 200:
        return f"status {status} for {key}"
    if raw is None:
        return f"200 for tile {key} outside the archive"
    if decode_body(body, encoding, len(raw), br) != raw:
        return f"body of {key} (encoding {encoding}) differs from the archive payload"
    return None


# ---------------------------------------------------------------------------
# traffic
# ---------------------------------------------------------------------------

class Traffic:
    """Deterministic request stream: the i-th draw depends only on the seed.
    Popularity ranks are a seed permutation of every z0..max_zoom key, so
    the 404 share is the Zipf mass that falls on keys the archive lacks."""

    def __init__(self, seed: int, max_zoom: int):
        rng = inputs.rng_for(seed, "traffic")
        keys = inputs.pyramid_keys(max_zoom)
        self.keys = [keys[i] for i in rng.permutation(len(keys))]
        w = 1.0 / np.arange(1, len(self.keys) + 1) ** ZIPF_S
        self.cdf = np.cumsum(w / w.sum())
        self.rng = rng
        self.lock = threading.Lock()

    def next(self):
        with self.lock:
            u_key, u_enc = self.rng.random(2)
        key = self.keys[min(int(np.searchsorted(self.cdf, u_key)), len(self.keys) - 1)]
        return key, ENCODINGS[int(u_enc * len(ENCODINGS))]


def stream_shares(results, tiles: dict) -> tuple[float, float]:
    """(repeat-key share, 404 share) of a request stream: the share of
    requests whose key an earlier request already asked for (the most a
    tile cache could answer), and the share of keys outside the archive."""
    keys = [r.key for r in results]
    return 1.0 - len(set(keys)) / len(keys), sum(k not in tiles for k in keys) / len(keys)


class Result:
    __slots__ = ("key", "enc", "due", "start", "end", "status", "body", "encoding", "error")


def fetch(host: str, port: int, path: str, enc: str | None, span: int | None = None):
    headers = {}
    if enc:
        headers["Accept-Encoding"] = enc
    if span is not None:
        headers["X-Perfbench-Span"] = str(span)
    conn = http.client.HTTPConnection(host, port, timeout=60)
    try:
        conn.request("GET", path, headers=headers)
        resp = conn.getresponse()
        return resp.status, resp.read(), resp.getheader("Content-Encoding")
    finally:
        conn.close()


# ---------------------------------------------------------------------------
# workload
# ---------------------------------------------------------------------------

class Serve:
    name = "serve"

    def __init__(self, ctx):
        self.ctx = ctx
        self.archive = os.path.join(ctx.work, "vector.pmtiles")
        self.proc = None
        self.br = Brotli()
        self.rec = ctx.rec

    def setup(self) -> None:
        self.launch()
        self.wait_ready()

    def launch(self) -> None:
        """Write the archive and start the server; `wait_ready` blocks until
        it has mounted the archive (set-up time is launch -> ready)."""
        self.max_zoom = self.ctx.size(MAX_ZOOM, 4)
        self.tiles = inputs.vector_pyramid(self.ctx.seed, self.max_zoom, PRESENT_SHARE)
        inputs.write_vector_pmtiles(self.archive, self.tiles)
        self.traffic = Traffic(self.ctx.seed, self.max_zoom)
        cmd = [sys.executable, os.path.join(common.ROOT, "perfbench", "server_main.py"),
               "--archive", self.archive, "--work", os.path.join(self.ctx.work, "server")]
        if self.ctx.trace:
            cmd.append("--trace")
        self.server_log = open(os.path.join(self.ctx.work, "server.log"), "wb")
        self.t_launch = time.perf_counter()
        self.proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                     stderr=self.server_log, cwd=common.ROOT)

    def wait_ready(self) -> None:
        self.ready = self._read_json(READY_TIMEOUT_S)
        self.setup_s = time.perf_counter() - self.t_launch
        u = urlparse(self.ready["url"])
        self.host, self.port = u.hostname, u.port

    def _read_json(self, timeout: float) -> dict:
        out = {}

        def read():
            for line in self.proc.stdout:
                if line.startswith(b"{"):
                    out["v"] = json.loads(line)
                    return

        t = threading.Thread(target=read, daemon=True)
        t.start()
        t.join(timeout)
        if "v" not in out:
            raise RuntimeError(f"server gave no reply within {timeout}s (see {self.server_log.name})")
        return out["v"]

    def _send(self, cmd: str) -> None:
        self.proc.stdin.write((cmd + "\n").encode())
        self.proc.stdin.flush()

    # -- load generators ----------------------------------------------------

    def _do(self, key, enc, due: float) -> Result:
        r = Result()
        r.key, r.enc, r.due = key, enc, due
        r.start = time.monotonic()
        with self.rec.span("client") as sid:
            try:
                r.status, r.body, r.encoding = fetch(self.host, self.port, "/tiles/%d/%d/%d" % key, enc, sid)
                r.error = None
            except (OSError, http.client.HTTPException) as e:
                r.status, r.body, r.encoding, r.error = 0, b"", None, f"{key}: {e!r}"
        r.end = time.monotonic()
        return r

    def open_loop(self, seconds: float, block: int = 0) -> list[Result]:
        n_threads = common.nproc()
        rate = OPEN_RATE_PER_CORE * n_threads
        rng = inputs.rng_for(self.ctx.seed, f"arrivals-{block}")
        gaps = rng.exponential(1.0 / rate, size=int(rate * seconds * 2) + 10)
        offsets = np.cumsum(gaps)
        offsets = offsets[: max(1, int((offsets < seconds).sum()))]
        requests = [self.traffic.next() for _ in offsets]
        t0 = time.monotonic() + 0.05
        results: list = [None] * len(offsets)
        cursor = iter(range(len(offsets)))
        lock = threading.Lock()

        def worker():
            while True:
                with lock:
                    i = next(cursor, None)
                if i is None:
                    return
                due = t0 + float(offsets[i])
                delay = due - time.monotonic()
                if delay > 0:
                    time.sleep(delay)
                results[i] = self._do(*requests[i], due)

        self._run_threads(worker, n_threads)
        return results

    def closed_loop(self, seconds: float) -> tuple[list[Result], float]:
        """Every response, and the responses per second: the sum over the
        clients of each one's responses over the time to its last one, so
        the requests still in flight at `seconds` add no edge noise."""
        results: list = []
        rates: list = []
        lock = threading.Lock()
        t0 = time.monotonic()
        end = t0 + seconds

        def worker():
            mine = []
            while time.monotonic() < end:
                mine.append(self._do(*self.traffic.next(), time.monotonic()))
            with lock:
                results.extend(mine)
                if mine:
                    rates.append(len(mine) / (mine[-1].end - t0))

        self._run_threads(worker, common.nproc())
        return results, sum(rates)

    @staticmethod
    def _run_threads(fn, n: int) -> None:
        threads = [threading.Thread(target=fn) for _ in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()

    def check(self, results) -> list[str]:
        errors = []
        for r in results:
            err = r.error or check_response(r.status, r.body, r.encoding, r.key, self.tiles, self.br)
            if err:
                errors.append(err)
        return errors

    # -- metrics --------------------------------------------------------------

    def warm_up(self) -> list[Result]:
        """Closed-loop requests until the server's lookups stop speeding up
        (JIT, codegen caches); timed by nothing, checked like the rest."""
        return self.closed_loop(WARM_UP_S)[0]

    def measure(self, seconds: float) -> dict:
        warm = self.warm_up()
        n_rounds = max(1, round(seconds / ROUND_S)) | 1  # odd: the median is one round
        opened, closed, p50s, rates = [], [], [], []
        for i in range(n_rounds):
            res = self.open_loop(seconds / n_rounds * OPEN_SHARE, block=i)
            p50s.append(statistics.median((r.end - r.due) * 1e3 for r in res))
            opened += res
            res, rate = self.closed_loop(seconds / n_rounds * (1.0 - OPEN_SHARE))
            rates.append(rate)
            closed += res
        ok = [r for r in opened + closed if r.status == 200]
        checked = warm + opened + closed
        errors = self.check(checked)
        repeat, miss = stream_shares(checked, self.tiles)
        print(f"serve: {len(checked)} requests, repeat-key share {repeat:.3f}, 404 share {miss:.3f}; "
              f"rounds: p50 ms {' '.join(f'{x:.0f}' for x in p50s)}, "
              f"closed-loop 1/s {' '.join(f'{x:.1f}' for x in rates)}", file=sys.stderr)
        return {
            "attempted": len(checked),
            "failed": len(errors),
            "errors": errors,
            "metrics": {
                "throughput_per_s": statistics.median(rates),
                "p50_ms": statistics.median(p50s),
                "bytes_per_byte": sum(len(r.body) for r in ok) / sum(len(self.tiles[r.key]) for r in ok),
            },
        }

    def layers(self, rec, seconds: float) -> tuple[dict, list[str]]:
        """Per-layer metrics, and the check failures of the open loops.
        The open loop runs in four blocks of seconds/4 with tracing (the
        server's spans and the client span) off, on, on, off, so a drift of
        the host over the blocks cancels out of `trace.overhead_pct`."""
        status = []
        for _ in range(50):
            t0 = time.perf_counter()
            fetch(self.host, self.port, "/status", None)
            status.append((time.perf_counter() - t0) * 1e3)
        blocks = {"off": [], "on": []}
        for i, mode in enumerate(("off", "on", "on", "off")):
            self._send(f"trace {mode}")
            rec.enabled = mode == "on"
            blocks[mode] += self.open_loop(seconds / 4, block=i)
        rec.enabled = True
        dump = self.stop_server()
        rec.extend(dump["spans"])
        lookups = dump["lookups"]
        neg = self.negotiate_us(rec)
        p50 = {mode: common.percentile([r.end - r.due for r in res], 0.5) for mode, res in blocks.items()}
        sent = blocks["off"] + blocks["on"]
        m = {
            "containers.get_tile_p50_ms": common.percentile([x["s"] for x in lookups], 0.5) * 1e3,
            "containers.jobs_per_lookup": sum(x["jobs"] for x in lookups) / len(lookups),
            "server.status_p50_ms": common.percentile(status, 0.5),
            "codecs.negotiate_br_us": neg["br"],
            "codecs.negotiate_gzip_us": neg["gzip"],
            "serve.generator_lag_p99_ms": common.percentile([(r.start - r.due) * 1e3 for r in sent], 0.99),
            "pmtiles.read_s": self.ready["read_s"],
            "containers.tilejson_s": self.ready["tilejson_s"],
            "trace.overhead_pct": (p50["on"] - p50["off"]) / p50["off"] * 100.0,
        }
        return m, self.check(sent)

    def negotiate_us(self, rec) -> dict:
        """Content negotiation per stored (gzip) tile on one core, in us:
        `br` recodes it for a client that accepts only br, `gzip` is the
        pass-through every gzip-accepting client of the traffic gets."""
        from versatiles_rs_spark.codecs import optimize_compression

        blobs = [inputs.stored_vector_tile(self.tiles[k]) for k in sorted(self.tiles)[:200]]
        out = {}
        for name, accepted in (("br", {"br"}), ("gzip", {"gzip", "deflate", "br"})):
            with rec.span("codecs", attrs={"op": f"negotiate-{name}"}):
                t0 = time.perf_counter()
                for b in blobs:
                    optimize_compression(b, "gzip", accepted)
                out[name] = (time.perf_counter() - t0) / len(blobs) * 1e6
        return out

    def stop_server(self) -> dict:
        """Stop the server and reap it; returns its span dump."""
        try:
            self._send("stop")
            self.proc.stdin.close()
            return self._read_json(60)
        finally:
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait(timeout=10)
            self.proc = None
            self.server_log.close()

    def teardown(self) -> None:
        if self.proc is None:
            return
        try:
            self.stop_server()
        except (OSError, RuntimeError) as e:  # the server is reaped either way
            print(f"server did not stop cleanly: {e}", file=sys.stderr)
