"""Session, timing and reporting plumbing shared by every perfbench workload.

One driver process, one closed-loop client: each workload runs one action
or micro-batch at a time on ``local[N]`` with N <= nproc.  Everything the
benchmark writes (inputs, outputs, checkpoints, Spark scratch, JVM and
Python temp files) lives under ``<checkout>/.perfbench_work``.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from typing import Dict, List, Optional, Sequence

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
TMP = os.path.join(WORK, "tmp")

#: driver JVM heap: every workload's working set fits with room to spare,
#: and it stays far below the physical RAM of a small host.
DRIVER_MEMORY = "2g"


def cores() -> int:
    return max(1, min(4, os.cpu_count() or 1))


def process_start_time() -> float:
    """Wall-clock time this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    with open("/proc/stat") as fh:
        btime = next(int(l.split()[1]) for l in fh if l.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def prepare_environment() -> None:
    """Point every temp-file writer at the work directory and make the
    package importable by the driver and by Spark's Python workers (the
    JVM passes its own environment's PYTHONPATH to the workers)."""
    os.makedirs(TMP, exist_ok=True)
    os.environ["TMPDIR"] = TMP
    # also reaches the short-lived launcher JVM spark-submit starts before
    # the driver, which would otherwise write under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={TMP}"
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import tempfile

    tempfile.tempdir = TMP


def start_session():
    """The run's SparkSession; the call launches the driver JVM."""
    from pyspark.sql import SparkSession

    n = cores()
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config(
            "spark.driver.extraJavaOptions",
            # a fixed-size heap: no resizing during the run
            f"-Xms{DRIVER_MEMORY}",
        )
        .config("spark.local.dir", os.path.join(WORK, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # the trace reads jobs, stages, tasks and SQL executions back from
        # the status stores after each pass; keep them all, traced or not,
        # so both modes run with the same listener state
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.ui.retainedTasks", "1000000")
        .config("spark.sql.ui.retainedExecutions", "100000")
        .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    spark.stop()


def shutdown_jvm() -> None:
    """Stop the gateway JVM this process launched and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    from py4j.protocol import Py4JError

    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Py4JError:  # the JVM may already be gone; the wait below decides
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    _wait_for_python_workers()


def _wait_for_python_workers(timeout: float = 30.0) -> None:
    """Spark's Python daemon and its workers exit on their own once the JVM
    is gone, but after it; wait until none is left."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        alive = False
        for pid in os.listdir("/proc"):
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as fh:
                    alive = alive or b"pyspark.daemon" in fh.read()
            except OSError:  # not a process, or it exited while we looked
                continue
        if not alive:
            return
        time.sleep(0.1)


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the driver JVM, in MB."""
    pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def canon_rows(df) -> List[tuple]:
    """Order-insensitive canonical rows of a pandas frame, for comparing a
    Spark result with its DuckDB oracle: columns by name, numbers to nine
    significant digits (integral values as integers), timestamps as ISO
    strings."""
    import decimal

    import numpy as np

    df = df[sorted(df.columns)]
    rows = []
    for row in df.itertuples(index=False):
        vals = []
        for v in row:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                vals.append("NULL")
            elif isinstance(v, (bool, np.bool_)):
                vals.append(f"b:{bool(v)}")
            elif isinstance(v, (int, np.integer)):
                vals.append(f"n:{int(v)}")
            elif isinstance(v, (float, np.floating, decimal.Decimal)):
                f = float(v)
                vals.append(f"n:{int(f)}" if f == int(f) else f"n:{f:.9g}")
            else:
                vals.append(str(v))
        rows.append(tuple(vals))
    return sorted(rows)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path


def median(values: Sequence[float]) -> float:
    return float(statistics.median(values))


def geomean(values: Sequence[float]) -> float:
    return math.exp(sum(math.log(max(v, 1e-9)) for v in values) / len(values))


def tail(values: Sequence[float]) -> Dict[str, Optional[float]]:
    """The highest percentile with at least ten samples beyond it, with the
    sample count; no percentile qualifies with ten samples or fewer."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return {"pct": None, "value": None, "n": n}
    pct = math.floor(100.0 * (n - 10) / n)
    idx = max(0, math.ceil(pct / 100.0 * n) - 1)
    return {"pct": float(pct), "value": xs[idx], "n": n}


class Clock:
    """Spans recorded from outside the package: name, start, end, parent
    and the run id, kept in memory.  With ``spark`` set (the traced run)
    each span also gets its own Spark job group, so the status stores can
    attribute jobs, stages and SQL executions to it afterwards."""

    def __init__(self, run_id: str, spark=None):
        self.run_id = run_id
        self.spark = spark
        self.spans: List[dict] = []
        self._stack: List[int] = []

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def _set_group(self, group: Optional[str]) -> None:
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(group, group)


class _Span:
    def __init__(self, clock: Clock, name: str, attrs: dict):
        self.clock = clock
        self.name = name
        self.attrs = attrs
        self.rec: Optional[dict] = None

    def __enter__(self) -> dict:
        c = self.clock
        sid = len(c.spans)
        self.rec = {
            "id": sid,
            "name": self.name,
            "parent": c._stack[-1] if c._stack else None,
            "run": c.run_id,
            "group": f"pb-{c.run_id}-{sid}",
            "start": time.time(),
            "end": None,
            "counts": dict(self.attrs),
        }
        c.spans.append(self.rec)
        c._stack.append(sid)
        if c.spark is not None:
            c._set_group(self.rec["group"])
        return self.rec

    def __exit__(self, *exc) -> None:
        c = self.clock
        self.rec["end"] = time.time()
        c._stack.pop()
        if c.spark is not None:
            parent = c.spans[c._stack[-1]]["group"] if c._stack else None
            c._set_group(parent)
