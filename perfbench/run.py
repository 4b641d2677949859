"""Benchmark entry point.

    python3 perfbench/run.py --workload {build,serve,convert} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a checkout.  The workload's inputs are generated from
the seed; the program only receives them.  The last stdout line is one JSON
object {"correct", "attempted", "failed", "metrics"}:

- `--trace 0`: the end-to-end metrics of the workload, measured for S
  seconds with tracing off.
- `--trace 1`: the per-layer metrics.  A traced run sets up all three
  workloads and runs each layer call once inside spans, so every per-layer
  metric is present whichever workload is named.  The tracing overhead is
  measured on the serve open loop, the one path whose traced side records
  nested spans (client -> server -> lookup / negotiation), by interleaving
  blocks with tracing off and on.  Spans go to
  .perfbench-out/trace-<workload>-<seed>.jsonl.

Exit code 0 when every output check passed, 1 when one failed (the JSON
line is still printed), 2 on an error, 3 when the program is not in the
checkout.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common, trace  # noqa: E402

LAYER_SPANS = (
    "pipeline", "sources.arrow_scan", "codecs", "tile_math", "joins.pip",
    "sources.containers", "server", "sources.mbtiles", "sources.pmtiles", "udfs", "client",
)


class Context:
    def __init__(self, seed: int, traced: bool, tiny: bool, work: str):
        self.seed = seed
        self.trace = traced
        self.tiny = tiny
        self.work = work
        self.rec = trace.Recorder(f"seed{seed}", enabled=traced)
        self._spark = None

    def size(self, full: int, tiny: int) -> int:
        return tiny if self.tiny else full

    def spark(self):
        if self._spark is None:
            self._spark = common.start_spark(self.work, "perfbench")
        return self._spark


def workload(name: str, ctx: Context):
    from perfbench.build import Build
    from perfbench.convert import Convert
    from perfbench.serve import Serve

    return {"build": Build, "serve": Serve, "convert": Convert}[name](ctx)


def run_end_to_end(ctx: Context, name: str, seconds: float, rss: common.PeakRss, live: list) -> dict:
    w = workload(name, ctx)
    live.append(w)
    w.setup()
    res = w.measure(seconds)
    res["metrics"]["setup_s"] = w.setup_s
    res["metrics"]["peak_rss_mb"] = rss.stop()
    return res


def run_traced(ctx: Context, name: str, seconds: float, live: list) -> dict:
    from perfbench.build import Build
    from perfbench.convert import Convert
    from perfbench.serve import Serve

    serve, build, convert = Serve(ctx), Build(ctx), Convert(ctx)
    live.extend([serve, build, convert])
    rec = ctx.rec
    rec.enabled = False
    serve.launch()  # the server mounts while the other two set up
    build.setup()
    convert.setup()
    serve.wait_ready()
    errors = serve.check(serve.warm_up())

    rec.enabled = True
    m, build_errors = build.layers(rec)
    convert_m, convert_errors = convert.layers(rec)
    m.update(convert_m)
    serve_m, serve_errors = serve.layers(rec, max(4.0, seconds))
    m.update(serve_m)
    errors += build_errors + convert_errors + serve_errors
    rec.enabled = False

    selfs = trace.self_times(rec.spans)
    for layer in LAYER_SPANS:
        m[f"self_s.{layer}"] = selfs.get(layer, 0.0)
    os.makedirs(common.OUT, exist_ok=True)
    rec.dump(os.path.join(common.OUT, f"trace-{name}-{ctx.seed}.jsonl"))
    return {"attempted": 1, "failed": 1 if errors else 0, "errors": errors, "metrics": m}


def stop_everything(ctx: Context | None, live: list) -> None:
    """Stop the server, Spark and the JVM, then wait until every process
    this run started has ended (SIGKILL after 30 s)."""
    before = set(common.process_tree(os.getpid())) - {os.getpid()}
    for w in live:
        if hasattr(w, "teardown"):
            w.teardown()
    if ctx is not None and ctx._spark is not None:
        common.stop_spark(ctx._spark)
    deadline = time.monotonic() + 30
    pending = before
    while pending:
        pending = {p for p in pending if _alive(p)}
        if pending and time.monotonic() > deadline:
            for p in pending:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def declared_units(traced: bool) -> dict[str, str]:
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if traced else "end_to_end"]}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["build", "serve", "convert"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true", help="smallest inputs (smoke tests)")
    args = ap.parse_args()

    if importlib.util.find_spec("versatiles_rs_spark") is None:
        print(f"versatiles_rs_spark is not in {common.ROOT}", file=sys.stderr)
        return 3

    work = common.fresh_dir(os.path.join(common.WORK, f"{args.workload}-{args.seed}-{os.getpid()}"))
    common.prepare_env(work)
    ctx = Context(args.seed, bool(args.trace), args.tiny, work)
    rss = common.PeakRss().start()
    live: list = []
    try:
        if args.trace:
            res = run_traced(ctx, args.workload, args.seconds, live)
        else:
            res = run_end_to_end(ctx, args.workload, args.seconds, rss, live)
    finally:
        rss.stop()
        stop_everything(ctx, live)
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(common.WORK) and not os.listdir(common.WORK):
            os.rmdir(common.WORK)
    for e in res["errors"][:20]:
        print(f"check failed: {e}", file=sys.stderr)
    units = declared_units(bool(args.trace))
    if set(units) != set(res["metrics"]):
        raise RuntimeError(f"metrics {sorted(res['metrics'])} differ from BENCHMARK.json {sorted(units)}")
    print(json.dumps({
        "correct": not res["errors"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in sorted(res["metrics"].items())},
    }))
    return 0 if not res["errors"] else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # report, and exit apart from a failed check
        import traceback

        traceback.print_exc()
        sys.exit(2)
