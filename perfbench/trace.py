"""Spans around the benchmark's calls into each layer, plus the Spark work
they launched.

A span records its name, start, end, parent and the Spark job group that
was set on the calling thread while it was open. Spans stay in memory;
after a traced pass the harness reads the jobs of each group from
``statusTracker()`` and the stage totals of those jobs from the Spark driver's
status store, which stays readable with the Spark UI off.

The Extractor and Inserter seams are Protocols, so the timing proxies here
wrap the objects handed to ``DatabaseMigrator`` and the program needs no
change. ``map_schema`` is timed through the name ``migrator.py`` imports it
under, for the duration of a traced pass only.
"""

from __future__ import annotations

import contextlib
import itertools
import threading
import time
from dataclasses import dataclass, field

JOB_GROUP = "spark.jobGroup.id"
GROUP_PREFIX = "perfbench"

STAGE_FIELDS = {
    # metric suffix: (StageData accessor, scale to the reported unit)
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_bytes": ("inputBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "tasks": ("numTasks", 1),
    "failed_tasks": ("numFailedTasks", 1),
}


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    group: str | None
    key: str | None = None  # the table or query the call was about
    jobs: list[int] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans; a disabled tracer records nothing and sets no job
    groups, so untraced passes pay only the ``with`` statement."""

    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self.root: int | None = None

    @contextlib.contextmanager
    def span(self, name: str, key: str | None = None, group: bool = True,
             as_root: bool = False):
        """Open a span. Spans opened on a thread with no open span (the
        migrator's pool threads) take the innermost ``as_root`` span as
        their parent."""
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else self.root
        gid = f"{GROUP_PREFIX}-{sid}" if group else None
        prev = self.sc.getLocalProperty(JOB_GROUP) if group else None
        if group:
            self.sc.setLocalProperty(JOB_GROUP, gid)
        stack.append(sid)
        prev_root = self.root
        if as_root:
            self.root = sid
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            self.root = prev_root
            if group:
                self.sc.setLocalProperty(JOB_GROUP, prev)
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, gid, key))

    def resolve_jobs(self, spans: list[Span]) -> None:
        tracker = self.sc.statusTracker()
        for s in spans:
            if s.group is not None:
                s.jobs = list(tracker.getJobIdsForGroup(s.group))

    def stage_totals(self, job_ids: list[int]) -> dict[str, float]:
        """Sum the stage metrics of the given jobs' stages (each stage once).

        ``stageList`` has Scala default arguments that py4j cannot fill, so
        all five are passed explicitly."""
        tracker = self.sc.statusTracker()
        wanted: set[int] = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                wanted.update(info.stageIds)
        totals = {k: 0.0 for k in STAGE_FIELDS}
        totals["stages"] = 0.0
        if not wanted:
            return totals
        jvm = self.sc._jvm
        seq = self.sc._jsc.sc().statusStore().stageList(
            jvm.java.util.ArrayList(), False, False,
            self.sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
        for i in range(seq.size()):
            st = seq.apply(i)
            if st.stageId() not in wanted or st.status().toString() == "SKIPPED":
                continue
            totals["stages"] += 1
            for k, (attr, scale) in STAGE_FIELDS.items():
                totals[k] += getattr(st, attr)() * scale
        return totals

    def take(self) -> list[Span]:
        with self._lock:
            spans, self.spans = self.spans, []
        return spans


def union_length(intervals: list[tuple[float, float]]) -> float:
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


def self_time(parent: Span, spans: list[Span]) -> float:
    """The parent's duration minus the part its direct children cover."""
    kids = [(max(s.start, parent.start), min(s.end, parent.end))
            for s in spans if s.parent == parent.id]
    return parent.dur - union_length([k for k in kids if k[1] > k[0]])


class TracedExtractor:
    """Extractor proxy: one span per call."""

    def __init__(self, inner, tracer: Tracer, tables: "TableClock"):
        self._inner = inner
        self._t = tracer
        self._tables = tables

    def fetch_tables(self):
        with self._t.span("sources.fetch_tables"):
            return self._inner.fetch_tables()

    def get_table_schema(self, table):
        self._tables.begin(table)
        with self._t.span("sources.get_table_schema", table):
            return self._inner.get_table_schema(table)

    def read_table(self, table):
        with self._t.span("sources.read_table", table):
            return self._inner.read_table(table)


class TracedInserter:
    """Inserter proxy: one span per call."""

    def __init__(self, inner, tracer: Tracer, tables: "TableClock"):
        self._inner = inner
        self._t = tracer
        self._tables = tables

    def list_tables(self):
        with self._t.span("sinks.list_tables"):
            return self._inner.list_tables()

    def table_exists(self, table):
        with self._t.span("sinks.table_exists", table):
            return self._inner.table_exists(table)

    def table_rows_count(self, table):
        with self._t.span("sinks.table_rows_count", table):
            return self._inner.table_rows_count(table)

    def reset_tables(self, tables, action):
        with self._t.span("sinks.reset_tables"):
            return self._inner.reset_tables(tables, action)

    def create_table(self, table, schema):
        with self._t.span("sinks.create_table", table):
            return self._inner.create_table(table, schema)

    def write_table(self, df, table, schema):
        try:
            with self._t.span("sinks.write_table", table):
                return self._inner.write_table(df, table, schema)
        finally:
            self._tables.end(table)

    def create_constraints(self, table, schema, migrated_tables):
        with self._t.span("sinks.create_constraints", table):
            return self._inner.create_constraints(table, schema, migrated_tables)

    def max_allowed_packet(self):
        return self._inner.max_allowed_packet()


class TableClock:
    """Per-table latency, traced or not: from a table's first
    ``get_table_schema`` call to the return of its ``write_table``. The
    migrator snake-cases output names, so ``end`` is keyed by output name
    and matched through ``out_name``."""

    def __init__(self, out_name):
        self._out_name = out_name
        self._start: dict[str, float] = {}
        self.latencies: dict[str, float] = {}
        self._lock = threading.Lock()

    def begin(self, source_table: str) -> None:
        now = time.perf_counter()
        with self._lock:
            self._start.setdefault(self._out_name(source_table), now)

    def end(self, out_table: str) -> None:
        now = time.perf_counter()
        with self._lock:
            start = self._start.get(out_table)
            if start is not None:
                self.latencies[out_table] = now - start
