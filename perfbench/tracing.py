"""Outside-in trace collector: reads what Spark itself recorded about the
jobs a traced pass ran, and attributes it to the benchmark's spans.

Sources, all read through py4j after the pass (never inside it):

- the core status store (``AppStatusStore``): jobs with their job group,
  ``lastStageAttempt(sid)`` per stage, and the task list of the longest
  stage for the skew ratio;
- the SQL status store (``sharedState().statusStore()``): every plan
  node's metrics per SQL execution, including the Python-worker metrics
  ("time to run Python workers", "time to start Python workers", "data
  sent to / returned from Python workers");
- ``StreamingQuery.recentProgress``, read by the streaming workload.

A job is attributed to the span whose job group it carries; a job with
no benchmark group (a streaming micro-batch runs under its query's run
id) goes to the innermost span whose interval holds its submission.
"""

from __future__ import annotations

from typing import Dict, Iterable, List, Optional, Tuple

_UNITS = {
    "ns": 1e-9,
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "h": 3600.0,
    "B": 1.0,
    "KiB": 1024.0,
    "MiB": 1024.0**2,
    "GiB": 1024.0**3,
    "TiB": 1024.0**4,
}

PYTHON_RUN = "time to run Python workers"
PYTHON_START = "time to start Python workers"
PYTHON_SENT = "data sent to Python workers"
PYTHON_RETURNED = "data returned from Python workers"
OUTPUT_ROWS = "number of output rows"
AGG_BUILD = "time in aggregation build"
FILES_WRITTEN = "number of written files"
BYTES_WRITTEN = "written output"


def parse_metric(text: str) -> float:
    """A formatted SQL metric value ("1,000", "8.4 s", "total (min, med,
    max ...)\\n1.2 MiB (...)") -> seconds, bytes or a plain number."""
    line = text.strip().split("\n")[-1]
    head = line.split(" (")[0].strip()
    parts = head.split()
    if len(parts) == 2 and parts[1] in _UNITS:
        return float(parts[0].replace(",", "")) * _UNITS[parts[1]]
    return float(head.replace(",", ""))


def _opt(o):
    return o.get() if o.isDefined() else None


def _secs(date_opt) -> Optional[float]:
    d = _opt(date_opt)
    return None if d is None else d.getTime() / 1000.0


def _seq(s) -> List:
    return [s.apply(i) for i in range(s.size())]


class Collector:
    """Reads the status stores of one session; remembers which jobs and
    SQL executions it has already returned, so each pass sees only its
    own."""

    def __init__(self, spark):
        self.spark = spark
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._seen_jobs: set = set()
        self._seen_execs: set = set()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self._bus.waitUntilEmpty()

    def new_jobs(self) -> List[dict]:
        self.drain()
        out = []
        for j in _seq(self._store.jobsList(None)):
            jid = int(j.jobId())
            if jid in self._seen_jobs:
                continue
            self._seen_jobs.add(jid)
            out.append(
                {
                    "job": jid,
                    "group": _opt(j.jobGroup()),
                    "submitted": _secs(j.submissionTime()),
                    "completed": _secs(j.completionTime()),
                    "stages": [self._stage(int(s)) for s in _seq(j.stageIds())],
                }
            )
        return out

    def _stage(self, sid: int) -> dict:
        from py4j.protocol import Py4JJavaError

        try:
            sd = self._store.lastStageAttempt(sid)
        except Py4JJavaError:  # a stage that never ran has no attempt record
            return {"stage": sid, "status": "NONE"}
        return {
            "stage": sid,
            "attempt": int(sd.attemptId()),
            "status": sd.status().toString(),
            "tasks": int(sd.numCompleteTasks()),
            "run_s": sd.executorRunTime() / 1e3,
            "cpu_s": sd.executorCpuTime() / 1e9,
            "gc_s": sd.jvmGcTime() / 1e3,
            "shuffle_write_b": int(sd.shuffleWriteBytes()),
            "shuffle_read_b": int(sd.shuffleReadBytes()),
            "spill_b": int(sd.memoryBytesSpilled()) + int(sd.diskBytesSpilled()),
            "output_b": int(sd.outputBytes()),
            "submitted": _secs(sd.submissionTime()),
            "first_task": _secs(sd.firstTaskLaunchedTime()),
            "completed": _secs(sd.completionTime()),
        }

    def task_durations(self, sid: int, attempt: int) -> List[float]:
        tasks = _seq(self._store.taskList(sid, attempt, 1 << 30))
        return [d / 1e3 for d in (_opt(t.duration()) for t in tasks) if d is not None]

    def new_sql_nodes(self, job_ids: Iterable[int]) -> List[dict]:
        """Plan nodes, with parsed metrics, of the SQL executions that ran
        any of ``job_ids``."""
        wanted = set(job_ids)
        out = []
        for e in _seq(self._sql.executionsList()):
            eid = int(e.executionId())
            if eid in self._seen_execs:
                continue
            it = e.jobs().keysIterator()
            jobs = set()
            while it.hasNext():
                jobs.add(int(it.next()))
            if not jobs:
                continue
            self._seen_execs.add(eid)
            if not jobs & wanted:
                continue
            values = self._sql.executionMetrics(eid)
            for node in _seq(self._sql.planGraph(eid).allNodes()):
                metrics = {}
                for m in _seq(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        try:
                            metrics[m.name()] = parse_metric(v.get())
                        except ValueError:
                            pass
                out.append(
                    {
                        "execution": eid,
                        "jobs": sorted(jobs),
                        "name": node.name(),
                        "desc": node.desc(),
                        "metrics": metrics,
                    }
                )
        return out


def attribute(jobs: List[dict], spans: List[dict]) -> Dict[int, List[dict]]:
    """span id -> the jobs that ran under it."""
    by_group = {s["group"]: s["id"] for s in spans}
    out: Dict[int, List[dict]] = {s["id"]: [] for s in spans}
    for j in jobs:
        sid = by_group.get(j["group"])
        if sid is None and j["submitted"] is not None:
            inner = [
                s
                for s in spans
                if s["start"] <= j["submitted"] <= (s["end"] or j["submitted"])
            ]
            if inner:
                sid = max(inner, key=lambda s: s["start"])["id"]
        if sid is not None:
            out[sid].append(j)
    return out


def union_length(intervals: Iterable[Tuple[float, float]]) -> float:
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def stage_intervals(jobs: List[dict]) -> List[Tuple[float, float]]:
    seen = set()
    out = []
    for j in jobs:
        for st in j["stages"]:
            if st.get("submitted") is None or st.get("completed") is None:
                continue
            if st["stage"] in seen:
                continue
            seen.add(st["stage"])
            out.append((st["submitted"], st["completed"]))
    return out


def engine_totals(collector: Collector, jobs: List[dict], wall_s: float) -> dict:
    """The ``engine.*`` metrics of a set of jobs that ran inside ``wall_s``
    seconds of span time."""
    stages = {}
    for j in jobs:
        for st in j["stages"]:
            if st["status"] in ("COMPLETE", "FAILED"):
                stages[st["stage"]] = st
    sts = list(stages.values())
    busy = union_length(stage_intervals(jobs))
    skew = 1.0
    if sts:
        longest = max(sts, key=lambda s: (s["completed"] or 0) - (s["submitted"] or 0))
        durs = sorted(collector.task_durations(longest["stage"], longest["attempt"]))
        if durs and durs[len(durs) // 2] > 0:
            skew = durs[-1] / durs[len(durs) // 2]
    sched = sum(
        max(0.0, s["first_task"] - s["submitted"])
        for s in sts
        if s["first_task"] is not None and s["submitted"] is not None
    )
    mb = 1024.0 * 1024.0
    return {
        "engine.jobs": len(jobs),
        "engine.stages": len(sts),
        "engine.tasks": sum(s["tasks"] for s in sts),
        "engine.executor_run_s": sum(s["run_s"] for s in sts),
        "engine.executor_cpu_s": sum(s["cpu_s"] for s in sts),
        "engine.gc_s": sum(s["gc_s"] for s in sts),
        "engine.shuffle_write_mb": sum(s["shuffle_write_b"] for s in sts) / mb,
        "engine.shuffle_read_mb": sum(s["shuffle_read_b"] for s in sts) / mb,
        "engine.spill_mb": sum(s["spill_b"] for s in sts) / mb,
        "engine.output_mb": sum(s["output_b"] for s in sts) / mb,
        "engine.sched_delay_s": sched,
        "engine.non_executor_s": max(0.0, wall_s - busy),
        "engine.task_skew": skew,
    }


def node_sum(nodes: List[dict], metric: str, match=lambda n: True) -> float:
    return sum(n["metrics"].get(metric, 0.0) for n in nodes if match(n))
