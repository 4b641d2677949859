"""Shared plumbing: checkout paths, Spark session, counters read from
outside the program, percentiles.

Everything the benchmark writes goes under `<checkout>/.perfbench-work`
(removed when a run ends) and `<checkout>/.perfbench-out` (span dumps).
"""

from __future__ import annotations

import contextlib
import itertools
import math
import os
import shutil
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench-work")
OUT = os.path.join(ROOT, ".perfbench-out")
DRIVER_MEMORY = "2g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Point the program, the JVM and the Python workers at the checkout:
    imports resolve from it and every temp file lands in `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = ROOT
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # Every JVM, the spark-submit launcher included: no hsperfdata in /tmp,
    # and C1-only JIT.  Each run is a fresh, short-lived JVM; with C2 the
    # Spark planning paths keep recompiling for 30+ s on 4 cores and the
    # numbers drift through the whole run, with C1 they settle in ~30 s.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -XX:TieredStopAtLevel=1 -Djava.io.tmpdir={tmp}"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    import tempfile

    tempfile.tempdir = tmp


def start_spark(work: str, app: str):
    from versatiles_rs_spark.session import get_spark

    n = nproc()
    return get_spark(
        app_name=app,
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # a fixed heap: with only -Xmx the JVM grew its heap at a
            # different point in each run and its RSS varied by 40%
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY}",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then its JVM, and reap the JVM so it does not
    outlive (or linger as a zombie of) this process."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=30)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in [0, 1])."""
    vals = sorted(values)
    if not vals:
        raise ValueError("percentile of no values")
    return vals[max(0, math.ceil(q * len(vals)) - 1)]


# ---------------------------------------------------------------------------
# Spark job / task counts per layer call
# ---------------------------------------------------------------------------

_group_ids = itertools.count(1)


@contextlib.contextmanager
def spark_jobs(sc, label: str):
    """Tag every Spark job the block starts (in this thread) with a fresh
    job group; on exit the yielded dict holds the group's job and task
    counts from `statusTracker()`."""
    gid = f"perfbench-{label}-{next(_group_ids)}"
    counts = {"jobs": 0, "tasks": 0}
    sc.setJobGroup(gid, label)
    try:
        yield counts
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(gid)
        counts["jobs"] = len(job_ids)
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                stage = tracker.getStageInfo(sid)
                counts["tasks"] += stage.numTasks if stage else 0


# ---------------------------------------------------------------------------
# Peak RSS of a process tree (JVM + Python workers), from /proc VmHWM
# ---------------------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children_map()
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak memory of the process tree under `root`: every `period` seconds
    the VmHWM of the processes alive in the tree is summed, and the largest
    sum is kept.  A Python worker that exits and is replaced by a new one is
    not counted twice."""

    def __init__(self, root: int | None = None, period: float = 0.5):
        self.root = root or os.getpid()
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        total = sum(_vm_hwm_kb(pid) for pid in process_tree(self.root))
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def start(self) -> "PeakRss":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return self.peak_kb / 1024.0


def measure_ops(w, seconds: float, min_ops: int = 1) -> dict:
    """Repeat `w.op()` until `seconds` of measured time and at least
    `min_ops` operations; end-to-end metrics over the operations (each a
    dict of seconds, items, out_bytes, in_bytes, errors).  `p50_ms` is the
    median operation's wall time, `throughput_per_s` the median of the
    operations' items per second, so one slow operation moves neither."""
    ops = []
    while len(ops) < min_ops or sum(o["seconds"] for o in ops) < seconds:
        ops.append(w.op())
    walls = [o["seconds"] * 1e3 for o in ops]
    return {
        "attempted": len(ops),
        "errors": [e for o in ops for e in o["errors"]],
        "failed": sum(1 for o in ops if o["errors"]),
        "metrics": {
            "throughput_per_s": statistics.median(o["items"] / o["seconds"] for o in ops),
            "p50_ms": statistics.median(walls),
            "bytes_per_byte": sum(o["out_bytes"] for o in ops) / sum(o["in_bytes"] for o in ops),
        },
    }


def timed(fn, *a, **kw):
    t0 = time.perf_counter()
    out = fn(*a, **kw)
    return out, time.perf_counter() - t0
