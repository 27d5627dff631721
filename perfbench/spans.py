"""Spans around layer calls, and the Spark status-store reads that
turn them into per-layer costs.

A span is one call into a layer's public function, timed from the
benchmark's side. Spans are always timed (two clock reads). Only a
traced run also tags the call's jobs (``SparkContext.addJobTag``) and,
after the measured loop, reads the status store to sum each span's
stage metrics. Untraced runs attribute jobs to whole ops by submission
time instead, once, after the loop.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

STAGE_FIELDS = {
    # status-store accessor -> (metric key, scale)
    "executorCpuTime": ("cpu_s", 1e-9),
    "executorRunTime": ("run_s", 1e-3),
    "jvmGcTime": ("gc_s", 1e-3),
    "numTasks": ("tasks", 1),
    "shuffleReadBytes": ("shuffle_read_mb", 1 / 2**20),
    "shuffleWriteBytes": ("shuffle_write_mb", 1 / 2**20),
    "shuffleReadRecords": ("shuffle_read_records", 1),
    "inputBytes": ("input_mb", 1 / 2**20),
    "outputBytes": ("output_mb", 1 / 2**20),
    "memoryBytesSpilled": ("spill_mb", 1 / 2**20),
}


@dataclass
class Span:
    name: str
    op: int
    start: float  # time.time(), to match job submission times
    seconds: float
    tag: str | None
    cost: dict = field(default_factory=dict)


class Tracer:
    """Records spans; ``traced`` also tags each span's jobs."""

    def __init__(self, spark, traced: bool) -> None:
        self.sc = spark.sparkContext
        self.traced = traced
        self.spans: list[Span] = []
        self.op = -1  # the harness sets the current op index

    @contextmanager
    def span(self, name: str):
        tag = f"perfbench-span-{len(self.spans)}" if self.traced else None
        if tag:
            self.sc.addJobTag(tag)
        wall0 = time.time()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            seconds = time.perf_counter() - t0
            if tag:
                self.sc.removeJobTag(tag)
            self.spans.append(Span(name, self.op, wall0, seconds, tag))

    def of_op(self, op: int) -> list[Span]:
        return [s for s in self.spans if s.op == op]


def _opt_seconds(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _ints(seq) -> list[int]:
    text = seq.mkString(",")
    return [int(x) for x in text.split(",")] if text else []


def read_jobs(spark) -> list[dict]:
    """Every retained job: id, tags, submission time, stage ids."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    out = []
    it = jobs.iterator()
    while it.hasNext():
        j = it.next()
        tags = j.jobTags().mkString(",").split(",")
        out.append({"id": j.jobId(), "tags": tags, "submitted": _opt_seconds(j.submissionTime()),
                    "stages": _ints(j.stageIds())})
    out.sort(key=lambda j: j["id"])
    return out


def read_stage(spark, stage_id: int) -> dict | None:
    """Summed metrics of a stage's last attempt; None if it never ran."""
    from py4j.protocol import Py4JJavaError

    store = spark.sparkContext._jsc.sc().statusStore()
    try:
        sd = store.lastStageAttempt(stage_id)
    except Py4JJavaError:
        return None
    if sd.status().toString() != "COMPLETE":
        return None
    return {key: getattr(sd, acc)() * scale for acc, (key, scale) in STAGE_FIELDS.items()}


def stage_costs(spark, jobs: list[dict]) -> dict[int, dict]:
    """Per job: summed metrics of the stages it RAN. A stage listed by
    several jobs (a reused shuffle) is charged to the first."""
    seen: set[int] = set()
    out = {}
    for j in jobs:
        cost = {"jobs": 1, "stages": 0}
        for sid in j["stages"]:
            if sid in seen:
                continue
            seen.add(sid)
            m = read_stage(spark, sid)
            if m is None:
                continue
            cost["stages"] += 1
            for k, v in m.items():
                cost[k] = cost.get(k, 0) + v
        out[j["id"]] = cost
    return out


def add_cost(total: dict, cost: dict) -> None:
    for k, v in cost.items():
        total[k] = total.get(k, 0) + v


def attribute_spans(spark, tracer: Tracer) -> None:
    """Traced runs: charge each tagged job's stages to its span."""
    jobs = read_jobs(spark)
    costs = stage_costs(spark, jobs)
    by_tag = {s.tag: s for s in tracer.spans if s.tag}
    for j in jobs:
        for t in j["tags"]:
            if t in by_tag:
                add_cost(by_tag[t].cost, costs[j["id"]])


def op_cpu_seconds(spark, windows: list[tuple[float, float]]) -> list[float]:
    """Untraced runs: executor CPU per op, charging each job to the op
    whose [start, end] wall window holds its submission time."""
    jobs = read_jobs(spark)
    costs = stage_costs(spark, jobs)
    out = [0.0] * len(windows)
    for j in jobs:
        t = j["submitted"]
        if t is None:
            continue
        for i, (a, b) in enumerate(windows):
            if a - 0.001 <= t <= b + 0.001:
                out[i] += costs[j["id"]].get("cpu_s", 0.0)
                break
    return out


# ---------------------------------------------------------------------------
# box state
# ---------------------------------------------------------------------------


def _java_pids() -> list[int]:
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/comm") as f:
                if f.read().strip() == "java":
                    pids.append(int(d))
        except OSError:
            continue
    return pids


def _steal_s() -> float:
    """CPU time the hypervisor took from this machine since boot."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def box_state(own_jvm: int | None) -> dict:
    return {
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "other_jvms": len([p for p in _java_pids() if p != own_jvm]),
        "cpu_steal_s": _steal_s(),
        "time": round(time.time(), 3),
    }


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def sql_actions(spark, span: Span) -> int:
    """SQL executions (one per DataFrame action) started inside a span."""
    store = spark._jsparkSession.sharedState().statusStore()
    it = store.executionsList().iterator()
    lo, hi = span.start - 0.001, span.start + span.seconds + 0.001
    n = 0
    while it.hasNext():
        e = it.next()
        if e.rootExecutionId() == e.executionId() and lo <= e.submissionTime() / 1000.0 <= hi:
            n += 1
    return n


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def equi_join_rows(spark, span: Span) -> int:
    """Rows out of the equi-join operators of the SQL executions started
    inside a span (the SQL status store's per-node row counts)."""
    store = spark._jsparkSession.sharedState().statusStore()
    lo, hi = span.start - 0.001, span.start + span.seconds + 0.001
    total = 0
    for e in _scala_iter(store.executionsList()):
        if not lo <= e.submissionTime() / 1000.0 <= hi:
            continue
        values = {kv._1(): kv._2() for kv in _scala_iter(store.executionMetrics(e.executionId()))}
        for node in _scala_iter(store.planGraph(e.executionId()).allNodes()):
            name = node.name()
            if "Join" not in name or "NestedLoop" in name:
                continue
            for m in _scala_iter(node.metrics()):
                if m.name() == "number of output rows" and m.accumulatorId() in values:
                    total += int("".join(ch for ch in values[m.accumulatorId()] if ch.isdigit()))
    return total
