"""Spans around the benchmark's calls into the package, plus what Spark
itself recorded for each call.

With tracing off a span is a pair of clock reads, plus a read of the
process tree's CPU time for a top-level call.  With tracing on, each
call's Spark jobs are tagged with the span id through ``setJobGroup``;
after the call the tracer drains the listener bus and reads the status
store: the jobs of the group, their stages' task metrics, and the SQL
metrics of the Python exec nodes of the executions those jobs ran.
Phase spans of an ingest job (its own ``SpanRecorder``) nest beneath
the call span.  Spans stay in memory and are written out at the end.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager

#: SQL metric names of the Python exec nodes (MapInPandas,
#: ArrowEvalPython, FlatMap(Co)GroupsInPandas, ...) summed per span.
#: "time to initialize Python workers" is left out: a reused worker
#: starts that clock when it begins waiting for its next task, so the
#: figure includes idle time between tasks and can exceed the call's
#: wall time.
PY_METRICS = {
    "time to start Python workers": "py_start_s",
    "time to run Python workers": "py_run_s",
    "data sent to Python workers": "arrow_mb_in",
    "data returned from Python workers": "arrow_mb_out",
}
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1e-6, "KiB": 1024 / 1e6, "MiB": 1024**2 / 1e6,
    "GiB": 1024**3 / 1e6, "TiB": 1024**4 / 1e6,
}
_TOTAL_RE = re.compile(r"^\s*([0-9][0-9,]*\.?[0-9]*)\s*([A-Za-z]+)")
ENGINE_KEYS = (
    "jobs", "tasks", "run_s", "cpu_s", "gc_s", "shuffle_mb", "spill_mb",
    "job_cover_s",
)


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric: the line after the header for
    timing/size metrics ("total (min, med, max ...)\\n7.8 s (...)"),
    in seconds or MB."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _TOTAL_RE.match(line)
    if m is None or m.group(2) not in _UNITS:
        raise ValueError(f"unparsed SQL metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


def _iter(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def _proc_tree() -> list[tuple[int, list[str]]]:
    """(pid, fields of /proc/<pid>/stat after the command name) for
    this process and all its descendants: the driver JVM, the Python
    worker daemon and its workers."""
    stats, children = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        stats[int(d)] = fields
        children.setdefault(int(fields[1]), []).append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append((pid, stats[pid]))
        todo.extend(children.get(pid, ()))
    return out


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds used so far by the process tree, reaped children
    included (utime + stime + cutime + cstime of every live member)."""
    return _TICK_S * sum(
        sum(int(x) for x in fields[11:15]) for _pid, fields in _proc_tree()
    )


def _union_s(intervals, lo, hi) -> float:
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Span:
    __slots__ = ("sid", "parent", "name", "kind", "t0", "dur", "cpu",
                 "attrs", "engine")

    def __init__(self, sid, parent, name, kind, t0, dur=0.0, attrs=None):
        self.sid, self.parent, self.name, self.kind = sid, parent, name, kind
        self.t0, self.dur = t0, dur
        #: CPU seconds of the process tree over a top-level span
        self.cpu = 0.0
        self.attrs = dict(attrs or {})
        self.engine: dict = {}


class Tracer:
    """Records spans; ``enabled`` adds the Spark-side collection."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        #: seconds the tracer itself spent collecting, outside any span
        self.bookkeeping_s = 0.0
        self._stack: list[int] = []
        self._sql_seen = 0
        self._exec_jobs: dict[int, set] = {}
        self._exec_py: dict[int, dict] = {}

    @contextmanager
    def call(self, name: str, kind: str, **attrs):
        """Time one call.  Yields the span; ``span.attrs`` may be filled
        in by the caller."""
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        span = Span(sid, parent, name, kind, time.time(), attrs=attrs)
        self.spans.append(span)
        sc = self.spark.sparkContext
        if self.enabled:
            sc.setJobGroup(f"perfbench-{sid}", name)
        self._stack.append(sid)
        cpu0 = tree_cpu_s() if parent is None else 0.0
        t0 = time.perf_counter()
        try:
            yield span
        finally:
            span.dur = time.perf_counter() - t0
            if parent is None:
                span.cpu = tree_cpu_s() - cpu0
            self._stack.pop()
            if self.enabled:
                parent_group = (
                    f"perfbench-{self._stack[-1]}" if self._stack
                    else "perfbench-none"
                )
                sc.setJobGroup(parent_group, "")
                if not self._stack:
                    tb = time.perf_counter()
                    self._collect(span)
                    self.bookkeeping_s += time.perf_counter() - tb

    def add_recorder(self, span: Span, recorder) -> None:
        """Nest an ingest job's ``SpanRecorder`` phases under ``span``."""
        if recorder is None:
            return
        base = len(self.spans)
        for _tid, rsid, rparent, name, start_ms, dur_ms, _ok, attrs in sorted(
            recorder.rows, key=lambda r: r[1]
        ):
            parent = span.sid if rparent is None else base + rparent
            assert base + rsid == len(self.spans), "recorder ids not dense"
            self.spans.append(
                Span(base + rsid, parent, name, "phase", start_ms / 1000.0,
                     dur_ms / 1000.0, attrs)
            )

    # -- Spark status store -------------------------------------------

    def _collect(self, span: Span) -> None:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        group_ids = {
            s.sid for s in self.spans[span.sid:] if s.kind != "phase"
        }
        eng = {k: 0.0 for k in ENGINE_KEYS}
        job_ids, intervals = set(), []
        for sid in group_ids:
            for j in sc.statusTracker().getJobIdsForGroup(f"perfbench-{sid}"):
                job_ids.add(int(j))
        for j in sorted(job_ids):
            jd = store.job(j)
            eng["jobs"] += 1
            sub, comp = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and comp.isDefined():
                intervals.append(
                    (sub.get().getTime() / 1000.0, comp.get().getTime() / 1000.0)
                )
            for stage_id in _iter(jd.stageIds()):
                try:
                    sd = store.lastStageAttempt(stage_id)
                except Exception as e:  # skipped stages have no attempt
                    if "NoSuchElement" not in type(e).__name__ + str(e):
                        raise
                    continue
                eng["tasks"] += sd.numCompleteTasks()
                eng["run_s"] += sd.executorRunTime() / 1e3
                eng["cpu_s"] += sd.executorCpuTime() / 1e9
                eng["gc_s"] += sd.jvmGcTime() / 1e3
                eng["shuffle_mb"] += (
                    sd.shuffleReadBytes() + sd.shuffleWriteBytes()
                ) / 1e6
                eng["spill_mb"] += (
                    sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                ) / 1e6
        eng["job_cover_s"] = _union_s(intervals, span.t0, span.t0 + span.dur)
        self._refresh_sql()
        py = {v: 0.0 for v in PY_METRICS.values()}
        for eid, jobs in self._exec_jobs.items():
            if jobs & job_ids:
                for k, v in self._exec_py[eid].items():
                    py[k] += v
        eng.update(py)
        span.engine = eng

    def _refresh_sql(self) -> None:
        """Read SQL executions added since the last call (the store
        lists them in id order)."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        total = int(sql.executionsCount())
        if total <= self._sql_seen:
            return
        for e in _iter(sql.executionsList(self._sql_seen, total - self._sql_seen)):
            eid = int(e.executionId())
            self._exec_jobs[eid] = {int(j) for j in _iter(e.jobs().keys())}
            vals = sql.executionMetrics(eid)
            py = {v: 0.0 for v in PY_METRICS.values()}
            seen = set()
            for node in _iter(sql.planGraph(eid).allNodes()):
                for m in _iter(node.metrics()):
                    key = PY_METRICS.get(m.name())
                    if key is None or m.accumulatorId() in seen:
                        continue
                    seen.add(m.accumulatorId())
                    v = vals.get(m.accumulatorId())
                    if v.isDefined():
                        py[key] += parse_sql_metric(v.get())
            self._exec_py[eid] = py
        self._sql_seen = total

    # -- output -------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """Span duration minus its direct children's durations."""
        kids: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent] = kids.get(s.parent, 0.0) + s.dur
        return {s.sid: s.dur - kids.get(s.sid, 0.0) for s in self.spans}

    def write(self, path: str) -> None:
        """The per-span table: one JSON object per line."""
        selfs = self.self_times()
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "span_id": s.sid, "parent_id": s.parent, "name": s.name,
                    "kind": s.kind, "start_s": round(s.t0, 6),
                    "dur_s": s.dur, "self_s": selfs[s.sid], "cpu_s": s.cpu,
                    "attrs": {k: str(v) for k, v in s.attrs.items()},
                    "engine": s.engine,
                }) + "\n")


class RssPeak:
    """Peak resident set of this process and all its descendants (the
    driver JVM and the Python workers), sampled from /proc."""

    INTERVAL_S = 0.5

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss_mb(self) -> float:
        # field 24 of /proc/<pid>/stat: resident pages
        return sum(
            int(fields[21]) for _pid, fields in _proc_tree()
        ) * self._page / 1e6

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, self._tree_rss_mb())
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, self._tree_rss_mb())
