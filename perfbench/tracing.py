"""Tracing for the benchmark's traced run.

Three sources, all read from outside the program:

- ``Tracer``: spans kept in memory (name, start, end, parent, run id)
  for workload -> phase -> layer call, recorded by wrappers the benchmark
  puts around the package's public functions for the traced pass only.
- ``StageCollector``: per-stage executor numbers from the JVM status
  store, which Spark keeps even with the UI off.
- ``RssSampler``: resident memory of the Python worker processes, read
  from /proc at a fixed period.

``attribute`` splits a traced pass's wall time into layers: an instant
where stages run belongs to the modules of those stages (shared equally
between modules when stages of several run at once); an instant with no
stage belongs to the innermost layer-call span open at that time; an
instant with neither is ``unattributed``. Layer times plus
``unattributed`` therefore add up to the pass wall exactly.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import threading
import time
from dataclasses import dataclass

UNATTRIBUTED = "unattributed"


@dataclass
class Span:
    span_id: int
    name: str
    module: str | None  # layer the span's own time belongs to; None for workload/phase
    start_ns: int
    end_ns: int
    parent: int | None
    run_id: str


class Tracer:
    """In-memory span recorder. Times are ``time.time_ns`` so that they
    line up with the status store's epoch-millisecond stage times."""

    enabled = True

    def __init__(self, run_id: str, spark):
        self.run_id = run_id
        self.spark = spark
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, module: str | None = None, job_label: str | None = None):
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        sc = self.spark.sparkContext if job_label else None
        prev = sc.getLocalProperty("spark.job.description") if sc else None
        if sc:
            sc.setJobDescription(job_label)
        self._stack.append(sid)
        start = time.time_ns()
        try:
            yield sid
        finally:
            end = time.time_ns()
            self._stack.pop()
            if sc:
                sc.setJobDescription(prev)
            self.spans.append(Span(sid, name, module, start, end, parent, self.run_id))

    def wrap(self, fn, name: str, module: str, job_label: str | None = None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, module, job_label):
                return fn(*args, **kwargs)

        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start_ns):
                f.write(json.dumps(s.__dict__) + "\n")


class NullTracer:
    """Tracing off: the untraced passes that give the end-to-end metrics."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name, module=None, job_label=None):
        yield None

    def wrap(self, fn, name, module, job_label=None):
        return fn


@contextlib.contextmanager
def patched(replacements):
    """Temporarily set ``(obj, attr, value)`` triples; restore on exit."""
    saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in replacements]
    try:
        for obj, attr, value in replacements:
            setattr(obj, attr, value)
        yield
    finally:
        for obj, attr, value in reversed(saved):
            setattr(obj, attr, value)


# --------------------------------------------------------------------------
# In-process call trace (core.* and operators.extract)
# --------------------------------------------------------------------------


class CallTrace:
    """Self time per function from nested wrapped calls, in one process:
    a call's self time is its duration minus the durations of the wrapped
    calls directly inside it."""

    def __init__(self):
        self.self_ns: dict[str, int] = {}
        self.calls: dict[str, int] = {}
        self.doc_ns: list[int] = []
        self._child_ns: list[int] = []

    def wrap(self, fn, name: str, per_doc: bool = False):
        perf = time.perf_counter_ns
        stack = self._child_ns
        self_ns = self.self_ns
        calls = self.calls
        doc_ns = self.doc_ns

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack.append(0)
            t0 = perf()
            try:
                return fn(*args, **kwargs)
            finally:
                dur = perf() - t0
                children = stack.pop()
                if stack:
                    stack[-1] += dur
                self_ns[name] = self_ns.get(name, 0) + dur - children
                calls[name] = calls.get(name, 0) + 1
                if per_doc:
                    doc_ns.append(dur)

        return traced


# --------------------------------------------------------------------------
# Spark status store
# --------------------------------------------------------------------------


@dataclass
class StageInfo:
    stage_id: int
    job_label: str
    operators: tuple[str, ...]
    submit_ms: int
    complete_ms: int
    num_tasks: int
    run_ms: int
    cpu_ms: float
    gc_ms: int
    shuffle_write_bytes: int
    shuffle_read_bytes: int
    input_records: int
    output_bytes: int
    task_ms_p50: float
    task_ms_max: float
    task_read_bytes_p50: float
    task_read_bytes_max: float


class StageCollector:
    """Reads completed stages and jobs from the JVM AppStatusStore."""

    def __init__(self, spark):
        self.spark = spark
        self.jvm = spark._jvm
        self.gw = spark.sparkContext._gateway
        self.store = spark._jsc.sc().statusStore()

    def _list(self, seq):
        return list(self.jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))

    def job_ids(self) -> set[int]:
        return {j.jobId() for j in self._list(self.store.jobsList(None))}

    def jobs_since(self, before: set[int]) -> list[str]:
        """Job descriptions (labels) of the jobs not in ``before``."""
        out = []
        for j in self._list(self.store.jobsList(None)):
            if j.jobId() not in before:
                d = j.description()
                out.append(d.get() if d.isDefined() else "")
        return out

    def stage_ids(self) -> set[tuple[int, int]]:
        empty = self.gw.new_array(self.jvm.double, 0)
        seq = self.store.stageList(None, False, False, empty, self.jvm.java.util.ArrayList())
        return {(s.stageId(), s.attemptId()) for s in self._list(seq)}

    def _operators(self, stage_id: int) -> tuple[str, ...]:
        names = []
        todo = [self.store.operationGraphForStage(stage_id).rootCluster()]
        while todo:
            c = todo.pop()
            names.append(c.name().strip())
            todo.extend(self._list(c.childClusters()))
        return tuple(names)

    def stages_since(self, before: set[tuple[int, int]]) -> list[StageInfo]:
        empty = self.gw.new_array(self.jvm.double, 0)
        seq = self.store.stageList(None, False, False, empty, self.jvm.java.util.ArrayList())
        out = []
        quantiles = self.gw.new_array(self.jvm.double, 2)
        quantiles[0] = 0.5
        quantiles[1] = 1.0
        for s in self._list(seq):
            key = (s.stageId(), s.attemptId())
            if key in before or s.submissionTime().isEmpty() or s.completionTime().isEmpty():
                continue  # skipped stages (reused shuffle output) never ran
            desc = s.description()
            p50 = pmax = r50 = rmax = 0.0
            summary = self.store.taskSummary(s.stageId(), s.attemptId(), quantiles)
            if summary.isDefined():
                d = summary.get()
                run = list(self.jvm.scala.jdk.javaapi.CollectionConverters.asJava(d.executorRunTime()))
                rb = list(
                    self.jvm.scala.jdk.javaapi.CollectionConverters.asJava(
                        d.shuffleReadMetrics().readBytes()
                    )
                )
                p50, pmax = float(run[0]), float(run[1])
                r50, rmax = float(rb[0]), float(rb[1])
            out.append(
                StageInfo(
                    stage_id=s.stageId(),
                    job_label=desc.get() if desc.isDefined() else "",
                    operators=self._operators(s.stageId()),
                    submit_ms=s.submissionTime().get().getTime(),
                    complete_ms=s.completionTime().get().getTime(),
                    num_tasks=s.numTasks(),
                    run_ms=s.executorRunTime(),
                    cpu_ms=s.executorCpuTime() / 1e6,
                    gc_ms=s.jvmGcTime(),
                    shuffle_write_bytes=s.shuffleWriteBytes(),
                    shuffle_read_bytes=s.shuffleReadBytes(),
                    input_records=s.inputRecords(),
                    output_bytes=s.outputBytes(),
                    task_ms_p50=p50,
                    task_ms_max=pmax,
                    task_read_bytes_p50=r50,
                    task_read_bytes_max=rmax,
                )
            )
        return sorted(out, key=lambda s: s.submit_ms)


PYTHON_OPERATORS = ("MapInArrow", "MapInPandas", "ArrowEvalPython", "BatchEvalPython")


def stage_module(stage: StageInfo) -> str:
    """The module a stage's time belongs to.

    A job label names the module when the benchmark knows it from the
    call that submitted the job (a catalog append, a leaf query, the
    driver-side partition sizing): the stage is that call's cost, even
    when it re-runs operators of another module. Unlabelled stages are
    the extraction job itself; their operators decide: the Python UDF
    stage is operators.extract; a broadcast or sort-merge join, or an
    exchange straight off a scan, is operators.resume's done-set; an
    exchange after the giant/normal filter is operators.skew's salted
    repartition. Anything else stays unattributed."""
    label = stage.job_label
    if label.startswith("module:"):
        return label.split(":", 2)[1]
    ops = stage.operators
    if any(op.startswith(PYTHON_OPERATORS) for op in ops):
        return "operators.extract"
    if "BroadcastExchange" in ops or "SortMergeJoin" in ops:
        return "operators.resume"
    if "Exchange" in ops and "Filter" in ops:
        return "operators.skew"
    if "Exchange" in ops and "Scan parquet" in ops:
        return "operators.resume"
    return UNATTRIBUTED


def attribute(t0_ms: float, t1_ms: float, stages: list[StageInfo], spans: list[Span]) -> dict:
    """Split [t0_ms, t1_ms] into per-layer milliseconds (see module doc)."""
    events = {t0_ms, t1_ms}
    st = [(max(s.submit_ms, t0_ms), min(s.complete_ms, t1_ms), stage_module(s)) for s in stages]
    st = [x for x in st if x[1] > x[0]]
    sp = [
        (max(s.start_ns / 1e6, t0_ms), min(s.end_ns / 1e6, t1_ms), s.module, s.end_ns - s.start_ns)
        for s in spans
        if s.module is not None
    ]
    sp = [x for x in sp if x[1] > x[0]]
    for a, b, *_ in st + sp:
        events.update((a, b))
    cuts = sorted(events)
    out: dict[str, float] = {}
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        mods = sorted({m for s0, s1, m in st if s0 <= mid < s1})
        if mods:
            for m in mods:
                out[m] = out.get(m, 0.0) + (b - a) / len(mods)
            continue
        open_spans = [(dur, m) for s0, s1, m, dur in sp if s0 <= mid < s1]
        m = min(open_spans)[1] if open_spans else UNATTRIBUTED
        out[m] = out.get(m, 0.0) + (b - a)
    return out


# --------------------------------------------------------------------------
# Python worker memory
# --------------------------------------------------------------------------


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` in the process tree."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


class RssSampler:
    """Samples the RSS of every Python process descended from this one
    (Spark's pyspark.daemon and its forked workers) every ``period_s``."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak_kb = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    def sample(self) -> None:
        for pid in descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/status") as f:
                    status = f.read()
            except OSError:
                continue  # the process ended between listing and reading
            if not status.startswith("Name:\tpython"):
                continue
            for line in status.splitlines():
                if line.startswith("VmRSS:"):
                    self.peak_kb = max(self.peak_kb, int(line.split()[1]))
                    break
        self.samples += 1

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
