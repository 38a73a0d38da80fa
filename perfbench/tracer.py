"""Spans around calls into the package's layers, and the Spark cost of each.

A span has a name, start, end, parent and run id. Spans are kept in
memory and written as JSON when the benchmark ends. Every layer span has
two children, ``build`` (the time inside the public call) and ``exec``
(the time to materialize its output at the layer boundary), and each
child runs its Spark jobs under its own job group, so after the run the
jobs and stages in Spark's AppStatusStore can be charged to the span that
launched them. Nothing is read from the store while the run is timed.

``NullTracer`` has the same interface and does nothing: the timed runs
take exactly the code path of the traced run minus the tracing.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass

MB = 1e6


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float | None = None

    @property
    def group(self) -> str:
        return f"{self.run_id}/{self.id}"

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
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


def self_time(span: Span, spans: list[Span]) -> float:
    """Span duration minus the part of it covered by its child spans."""
    kids = [(max(c.start, span.start), min(c.end, span.end)) for c in spans
            if c.parent == span.id and c.end is not None]
    return span.duration - union_length([k for k in kids if k[1] > k[0]])


class NullTracer:
    @contextmanager
    def run(self, name: str):
        yield None

    @contextmanager
    def span(self, name: str):
        yield _NullPhase()


class _NullPhase:
    def built(self) -> None:
        pass


class Tracer:
    """Records spans and runs each span's Spark jobs under its own job group."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _open(self, name: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), name, parent, self.run_id, time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.time()
        self._stack.pop()
        parent = self._stack[-1].group if self._stack else None
        self.sc.setLocalProperty("spark.jobGroup.id", parent)

    @contextmanager
    def run(self, name: str):
        root = self._open(name)
        try:
            yield root
        finally:
            self._close(root)

    @contextmanager
    def span(self, name: str):
        layer = self._open(name)
        phase = _Phase(self, name)
        try:
            yield phase
        finally:
            phase.close()
            self._close(layer)


class _Phase:
    """Switches a layer span from its ``build`` child to its ``exec`` child."""

    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name
        self.cur = tracer._open(f"{name}.build")

    def built(self) -> None:
        self.tracer._close(self.cur)
        self.cur = self.tracer._open(f"{self.name}.exec")

    def close(self) -> None:
        if self.cur is not None:
            self.tracer._close(self.cur)
            self.cur = None


# --- AppStatusStore ---------------------------------------------------------

def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def read_status(spark) -> tuple[list[dict], dict[int, dict]]:
    """All jobs and stages the AppStatusStore holds → (jobs, stages by id).

    Waits for the listener bus to drain first, so every job that has
    returned to the caller is in the store."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jvm = spark.sparkContext._jvm
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    jobs = []
    for j in conv.asJava(store.jobsList(None)):
        g = j.jobGroup()
        jobs.append({
            "id": j.jobId(),
            "group": g.get() if g.isDefined() else None,
            "submit": _opt_ms(j.submissionTime()),
            "end": _opt_ms(j.completionTime()),
            "stages": list(conv.asJava(j.stageIds())),
        })
    gw = spark.sparkContext._gateway
    seq = store.stageList(jvm.java.util.ArrayList(), False, False,
                          gw.new_array(gw.jvm.double, 0), jvm.java.util.ArrayList())
    stages: dict[int, dict] = {}
    for i in range(seq.size()):
        s = seq.apply(i)
        acc = stages.setdefault(s.stageId(), dict.fromkeys(
            ("run_s", "cpu_s", "gc_s", "shuffle_b", "spill_b", "input_b", "output_b"), 0.0))
        acc["run_s"] += s.executorRunTime() / 1e3
        acc["cpu_s"] += s.executorCpuTime() / 1e9
        acc["gc_s"] += s.jvmGcTime() / 1e3
        acc["shuffle_b"] += s.shuffleWriteBytes()
        acc["spill_b"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        acc["input_b"] += s.inputBytes()
        acc["output_b"] += s.outputBytes()
    return jobs, stages


def span_costs(tracer: Tracer, jobs: list[dict], stages: dict[int, dict]) -> dict[str, dict]:
    """Per layer span: its eight per-layer metrics plus read/write bytes.

    A layer span owns the jobs run under its ``build`` and ``exec`` children's
    job groups, and the stages of those jobs (a stage shared by two jobs
    counts once)."""
    by_group: dict[str, list[dict]] = {}
    for j in jobs:
        by_group.setdefault(j["group"], []).append(j)
    out: dict[str, dict] = {}
    spans = tracer.spans
    for sp in spans:
        kids = {c.name.rsplit(".", 1)[-1]: c for c in spans if c.parent == sp.id}
        if set(kids) != {"build", "exec"}:
            continue
        own = by_group.get(kids["build"].group, []) + by_group.get(kids["exec"].group, [])
        sids = {s for j in own for s in j["stages"] if s in stages}
        tot = {k: sum(stages[s][k] for s in sids) for k in
               ("run_s", "cpu_s", "gc_s", "shuffle_b", "spill_b", "input_b", "output_b")}
        out[sp.name] = {
            "build_s": kids["build"].duration,
            "eager_jobs": len(by_group.get(kids["build"].group, [])),
            "exec_s": kids["exec"].duration,
            "cpu_s": tot["cpu_s"],
            "python_s": max(tot["run_s"] - tot["cpu_s"], 0.0),
            "gc_s": tot["gc_s"],
            "shuffle_mb": tot["shuffle_b"] / MB,
            "spill_mb": tot["spill_b"] / MB,
            "read_mb": tot["input_b"] / MB,
            "write_mb": tot["output_b"] / MB,
            "self_s": self_time(sp, spans),
        }
    return out


def driver_time(root: Span, jobs: list[dict]) -> tuple[float, int]:
    """(wall time of the run with no Spark job running, jobs in the run)."""
    prefix = f"{root.run_id}/"
    iv = []
    for j in jobs:
        if (j["group"] or "").startswith(prefix) and j["submit"] and j["end"]:
            iv.append((max(j["submit"], root.start), min(j["end"], root.end)))
    busy = union_length([i for i in iv if i[1] > i[0]])
    return root.duration - busy, len(iv)


def spans_json(tracer: Tracer) -> list[dict]:
    return [{"id": s.id, "name": s.name, "parent": s.parent, "run_id": s.run_id,
             "start": s.start, "end": s.end, "self_s": self_time(s, tracer.spans)}
            for s in tracer.spans]
