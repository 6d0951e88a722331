"""Per-layer tracing: spans around calls into the package, Spark's status
store read per span, and PySpark worker CPU read from ``/proc``.

A span is entered around one call into one layer (a package module). While
it is open, every Spark job the thread submits carries the span's own job
group, so after the iteration the status store tells which jobs, stages and
tasks each span caused. Spans live in memory and are written out once at
the end of the run.

Numbers per span:

- ``ms``: self wall time, i.e. the span minus its child spans;
- ``driver_ms``: self wall time minus the time its own jobs were running
  (compose, Catalyst planning and py4j);
- ``jobs``, ``stages``, ``tasks``, ``shuffle_write_bytes``, ``gc_ms``,
  ``output_bytes``: summed over the span's own jobs. Skipped stages
  (shuffle output reused) are not counted;
- ``scan_bytes``: the "size of files read" SQL metric of every file scan
  in the SQL executions whose jobs ran in the span, i.e. the size of the
  files each scan lists, counted once per scan. The stages' own
  ``inputBytes`` is not used: Parquet's vectored reads bypass the
  filesystem statistics it comes from, so it counts little more than the
  footers.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

#: Counters read from the status store for each span's jobs.
STAGE_COUNTERS = ("stages", "tasks", "shuffle_write_bytes", "gc_ms", "output_bytes")
#: ``(module, attribute)``: the public calls wrapped in a span whose layer
#: is the module. ``Class.method`` attributes wrap the method on the class.
LAYER_CALLS = (
    ("plans.config", "rules_from_config"),
    ("plans.analysis", "AnalysisRunner.run"),
    ("result", "ResultObj.get_valid_df"),
    ("result", "ResultObj.get_invalid_df"),
    ("result", "ResultObj.annotated_df"),
    ("result", "ResultObj.get_group_diagnostics"),
    ("sinks.metrics", "monitor_metrics"),
    ("sinks.metrics", "read_metrics"),
    ("sinks.metrics", "write_metrics"),
    ("sinks.quarantine", "quarantine_route"),
    ("pipelines.curation", "curate_corpus"),
    ("pipelines.curation", "curation_stats"),
    ("operators.dedup", "minhash_near_dup_pairs"),
    ("operators.text", "text_profile"),
    ("operators.text", "contamination_pairs"),
)
PACKAGE = "pyspark_data_quality_spark"


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    iteration: int
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)
    job_ms: float = 0.0
    child_ms: float = 0.0

    @property
    def wall_ms(self) -> float:
        return (self.end - self.start) * 1000.0

    @property
    def self_ms(self) -> float:
        return self.wall_ms - self.child_ms

    @property
    def driver_ms(self) -> float:
        return max(0.0, self.self_ms - self.job_ms)


class Tracer:
    """Collects spans for one run; ``enabled`` False makes every call a
    no-op so untraced units pay nothing."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = False
        self.iteration = 0
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_id = 0
        self._patched: list[tuple[object, str, object]] = []
        jvm = self.sc._jvm
        self._store = self.sc._jsc.sc().statusStore()
        self._empty_list = jvm.java.util.ArrayList
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())

    # -- spans ---------------------------------------------------------------

    def _group(self, span: Span | None) -> str | None:
        return None if span is None else f"perfbench:{span.iteration}:{span.span_id}"

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, self._next_id, parent.span_id if parent else None,
                 self.iteration, time.time())
        self._next_id += 1
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setLocalProperty("spark.jobGroup.id", self._group(s))
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if parent is not None:
                parent.child_ms += s.wall_ms
            self.sc.setLocalProperty("spark.jobGroup.id", self._group(parent))

    def install(self) -> None:
        """Wrap every ``LAYER_CALLS`` entry in a span of its layer."""
        for layer, attr in LAYER_CALLS:
            mod = importlib.import_module(f"{PACKAGE}.{layer}")
            owner, _, fn_name = attr.rpartition(".")
            target = getattr(mod, owner) if owner else mod
            raw = target.__dict__[fn_name]
            is_static = isinstance(raw, staticmethod)
            fn = raw.__func__ if is_static else raw
            wrapped = self._wrap(fn, layer)
            setattr(target, fn_name, staticmethod(wrapped) if is_static else wrapped)
            self._patched.append((target, fn_name, raw))

    def uninstall(self) -> None:
        for target, fn_name, raw in reversed(self._patched):
            setattr(target, fn_name, raw)
        self._patched.clear()

    def _wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(layer):
                return fn(*args, **kwargs)

        return wrapper

    # -- status store ----------------------------------------------------------

    def collect_iteration(self, iteration: int, first_execution: int) -> dict:
        """Read the status stores for every span of ``iteration`` (call it
        right after the iteration, before retention evicts its jobs; the
        iteration's SQL executions have ids ``>= first_execution``) and
        return the iteration-wide counters."""
        spans = [s for s in self.spans if s.iteration == iteration]
        totals = {"run_ms": 0.0, "sched_ms": 0.0, "spill": 0, "stages": []}
        seen_stages: set[int] = set()
        tracker = self.sc.statusTracker()
        span_of_job: dict[int, Span] = {}
        for s in spans:
            c = dict.fromkeys(("jobs",) + STAGE_COUNTERS + ("scan_bytes",), 0)
            intervals = []
            for jid in tracker.getJobIdsForGroup(self._group(s)):
                span_of_job[jid] = s
                job = self._store.job(jid)
                c["jobs"] += 1
                start = job.submissionTime()
                end = job.completionTime()
                if start.isDefined() and end.isDefined():
                    intervals.append((start.get().getTime() / 1000.0,
                                      end.get().getTime() / 1000.0))
                ids = job.stageIds()
                for i in range(ids.length()):
                    sid = ids.apply(i)
                    if sid in seen_stages:
                        continue
                    st = self._stage(sid)
                    if st is None:
                        continue
                    seen_stages.add(sid)
                    c["stages"] += 1
                    c["tasks"] += st["tasks"]
                    c["shuffle_write_bytes"] += st["shuffle_write_bytes"]
                    c["gc_ms"] += st["gc_ms"]
                    c["output_bytes"] += st["output_bytes"]
                    totals["run_ms"] += st["run_ms"]
                    totals["sched_ms"] += st["sched_ms"]
                    totals["spill"] += st["spill"]
                    totals["stages"].append(st)
            s.counters = c
            s.job_ms = 1000.0 * _covered(intervals, s.start, s.end, self._child_windows(s))
        for span, size in self._scan_bytes(first_execution, span_of_job):
            span.counters["scan_bytes"] += size
        return totals

    def _scan_bytes(self, first_execution: int, span_of_job: dict[int, Span]):
        """``(span, bytes)`` for every file scan of the SQL executions with
        id ``>= first_execution``; an execution belongs to the span of its
        jobs."""
        store, execs = self._executions()
        for ex in execs:
            if ex.executionId() < first_execution:
                continue
            jobs = ex.jobs().keysIterator()
            span = None
            while span is None and jobs.hasNext():
                span = span_of_job.get(jobs.next())
            if span is None:
                continue
            values = store.executionMetrics(ex.executionId())
            # an adaptive plan lists a scan's metric once per plan version
            seen: set[int] = set()
            metrics = ex.metrics()
            for j in range(metrics.length()):
                m = metrics.apply(j)
                if m.name() != "size of files read" or m.accumulatorId() in seen:
                    continue
                seen.add(m.accumulatorId())
                opt = values.get(m.accumulatorId())
                if opt.isDefined():
                    yield span, parse_size(opt.get())

    def _child_windows(self, span: Span) -> list[tuple[float, float]]:
        return [(c.start, c.end) for c in self.spans if c.parent == span.span_id]

    def _stage(self, sid: int) -> dict | None:
        try:
            data = self._store.stageAttempt(
                sid, 0, False, self._empty_list(), False, self._no_quantiles
            )._1()
        except Py4JJavaError:  # NoSuchElementException: evicted or never submitted
            return None
        if data.status().toString() == "SKIPPED":
            return None
        sub, first = data.submissionTime(), data.firstTaskLaunchedTime()
        sched = 0
        if sub.isDefined() and first.isDefined():
            sched = first.get().getTime() - sub.get().getTime()
        return {
            "id": sid,
            "tasks": data.numTasks(),
            "input_records": data.inputRecords(),
            "shuffle_write_bytes": data.shuffleWriteBytes(),
            "gc_ms": data.jvmGcTime(),
            "output_bytes": data.outputBytes(),
            "run_ms": data.executorRunTime(),
            "sched_ms": sched,
            "spill": data.memoryBytesSpilled() + data.diskBytesSpilled(),
        }

    def _executions(self):
        store = self.spark._jsparkSession.sharedState().statusStore()
        execs = store.executionsList()
        return store, [execs.apply(i) for i in range(execs.length())]

    def next_execution_id(self) -> int:
        """The id the next SQL execution will get (or one below it)."""
        _, execs = self._executions()
        return max((e.executionId() + 1 for e in execs), default=0)

    def python_bytes_sent(self, min_execution: int) -> float:
        """Bytes sent to Python workers by every SQL execution with id
        ``>= min_execution``: the SQL metric of the Arrow/pandas eval nodes."""
        store, execs = self._executions()
        total = 0.0
        for ex in execs:
            if ex.executionId() < min_execution:
                continue
            metrics = ex.metrics()
            wanted = [metrics.apply(j).accumulatorId() for j in range(metrics.length())
                      if metrics.apply(j).name() == "data sent to Python workers"]
            if not wanted:
                continue
            values = store.executionMetrics(ex.executionId())
            for acc in wanted:
                opt = values.get(acc)
                if opt.isDefined():
                    total += parse_size(opt.get())
        return total

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "iteration": s.iteration, "span_id": s.span_id,
                    "parent": s.parent, "name": s.name, "start": s.start,
                    "end": s.end, "self_ms": round(s.self_ms, 3),
                    "driver_ms": round(s.driver_ms, 3), **s.counters,
                }) + "\n")


def _covered(intervals, lo: float, hi: float, holes) -> float:
    """Seconds of ``[lo, hi]`` covered by the union of ``intervals``,
    excluding the ``holes`` (child spans, whose jobs are their own)."""
    pts = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    merged: list[list[float]] = []
    for a, b in pts:
        if merged and a <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    total = sum(b - a for a, b in merged)
    for ha, hb in holes:
        for a, b in merged:
            total -= max(0.0, min(b, hb) - max(a, ha))
    return max(0.0, total)


_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}


def parse_size(text: str) -> float:
    """Total of a formatted size SQL metric: the first ``<number> <unit>``
    after the header line (``"total (min, med, max ...)\\n1.2 MiB (...)"``),
    or the whole string when it has a single line."""
    line = text.strip().split("\n")[-1] if "\n" in text else text
    parts = line.strip().split()
    try:
        return float(parts[0].replace(",", "")) * _UNITS.get(parts[1], 1)
    except (IndexError, ValueError):
        return 0.0


# -- /proc -----------------------------------------------------------------

_CLK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may contain spaces; fields resume after ')'
    return raw[raw.rindex(")") + 2 :].split()


def python_worker_cpu_s(jvm_pid: int) -> float:
    """utime+stime of every process below the JVM (the PySpark daemon and
    its forked workers), plus the reaped children the daemon accounts
    for in cutime+cstime."""
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is None:
            continue
        stats[int(name)] = st
        children.setdefault(int(st[1]), []).append(int(name))
    total = 0
    todo = list(children.get(jvm_pid, []))
    while todo:
        pid = todo.pop()
        st = stats[pid]
        # fields after ')': state ppid ... utime(11) stime(12) cutime(13) cstime(14)
        total += int(st[11]) + int(st[12]) + int(st[13]) + int(st[14])
        todo.extend(children.get(pid, []))
    return total / _CLK


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
