"""Smoke tests of the benchmark itself (not of the program).

    python3 -m pytest perfbench/test_smoke.py -q

They run each workload at its smallest size and check that every declared
metric prints with its unit, that a seed regenerates byte-identical inputs,
and that corrupted outputs fail the output checks.  About 3 minutes on 4
cores (each run starts its own JVM).
"""

from __future__ import annotations

import gzip
import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import build, common, convert, inputs, serve  # noqa: E402


def declared(section: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def run_bench(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["build", "serve", "convert"])
def test_end_to_end_metrics_print_with_units(workload):
    out = run_bench(workload, trace=0)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    units = declared("end_to_end")
    assert {k: v["unit"] for k, v in out["metrics"].items()} == units
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_traced_run_prints_every_layer_metric():
    out = run_bench("build", trace=1)
    assert out["correct"] is True
    assert {k: v["unit"] for k, v in out["metrics"].items()} == declared("per_layer")
    spans = [json.loads(line) for line in open(os.path.join(common.OUT, "trace-build-3.jsonl"))]
    names = {s["name"] for s in spans}
    assert {"pipeline", "sources.arrow_scan", "joins.pip", "server", "sources.containers",
            "sources.pmtiles", "sources.mbtiles", "udfs", "client"} <= names
    assert all(s["end"] >= s["start"] and s["run"] for s in spans)


# ---------------------------------------------------------------------------
# same seed, same inputs
# ---------------------------------------------------------------------------

def make_inputs(root: str, seed: int) -> dict[str, str]:
    os.makedirs(root, exist_ok=True)
    images = os.path.join(root, "images")
    inputs.write_images_table(images, seed, 300, files=3)
    vec = os.path.join(root, "vector.pmtiles")
    inputs.write_vector_pmtiles(vec, inputs.vector_pyramid(seed, 4, 0.85))
    mbt = os.path.join(root, "raster.mbtiles")
    inputs.write_mbtiles(mbt, inputs.raster_pyramid(seed, 300, 0.25))
    return {k: inputs.digest(p) for k, p in (("images", images), ("vector", vec), ("raster", mbt))}


def test_same_seed_regenerates_identical_inputs():
    base = common.fresh_dir(os.path.join(common.WORK, "smoke-inputs"))
    try:
        a = make_inputs(os.path.join(base, "a"), 7)
        b = make_inputs(os.path.join(base, "b"), 7)
        c = make_inputs(os.path.join(base, "c"), 8)
    finally:
        common.fresh_dir(base)
        os.rmdir(base)
    assert a == b
    assert all(a[k] != c[k] for k in a)


# ---------------------------------------------------------------------------
# corrupted outputs fail the checks
# ---------------------------------------------------------------------------

def flip(blob: bytes, pos: int = 0) -> bytes:
    b = bytearray(blob)
    b[pos % len(b)] ^= 0x01
    return bytes(b)


def test_build_check_rejects_corrupted_aggregate():
    expected, _ = build.expected_aggregate(5, 400, build.polygons())
    rows = [
        {"poly_id": k[0], "z": k[1], "x": k[2], "y": k[3], "n_images": n, "tile_bytes": 900 * n, "min_tile_id": tid}
        for k, (n, tid) in expected.items()
    ]
    assert rows and build.check_aggregate(rows, expected) == []
    for field in ("n_images", "min_tile_id"):
        bad = [dict(r) for r in rows]
        bad[0][field] ^= 1
        assert build.check_aggregate(bad, expected)
    assert build.check_aggregate(rows[1:], expected)
    bad = [dict(r) for r in rows]
    bad[0]["tile_bytes"] = 0
    assert build.check_aggregate(bad, expected)


def test_serve_check_rejects_flipped_body_byte():
    from versatiles_rs_spark.codecs import compress_blob

    tiles = inputs.vector_pyramid(5, 3, 0.85)
    key, raw = next(iter(tiles.items()))
    br = serve.Brotli()
    bodies = {"br": compress_blob(raw, "brotli"), "gzip": gzip.compress(raw), None: raw}
    for enc, body in bodies.items():
        assert serve.check_response(200, body, enc, key, tiles, br) is None
        assert serve.check_response(200, flip(body, len(body) // 2), enc, key, tiles, br)
    assert serve.check_response(404, b"", None, key, tiles, br)
    assert serve.check_response(200, raw, None, (9, 0, 0), tiles, br)
    assert serve.check_response(404, b"", None, (9, 0, 0), tiles, br) is None


def test_convert_check_rejects_flipped_payload_byte():
    root = common.fresh_dir(os.path.join(common.WORK, "smoke-convert"))
    try:
        tiles = inputs.raster_pyramid(5, 300, 0.25)
        path = os.path.join(root, "out.pmtiles")
        inputs.write_pmtiles(path, tiles, tile_type=2, tile_compression=1, meta={})
        expected = convert.tile_multiset((z, x, y, b) for (z, x, y), b in tiles.items())
        good = [(z, x, y, b) for (z, x, y), b in tiles.items()]
        assert convert.check_archive(good, expected, path) == []
        z, x, y, b = good[0]
        assert convert.check_archive([(z, x, y, flip(b, 40))] + good[1:], expected, path)
        assert convert.check_archive(good[1:], expected, path)
    finally:
        common.fresh_dir(root)
        os.rmdir(root)
