"""Spans around the harness's calls into the package, and Spark's own
per-execution statistics read back from the status stores.

Everything here observes from outside the package: the harness opens a
span around each public call it makes, and after each operation the
:class:`Harvester` reads what Spark recorded for the SQL executions the
operation started. Both status stores are maintained by listeners
that run with the UI off: the SQL one
(``spark._jsparkSession.sharedState().statusStore()``) holds each
execution's jobs, stages, physical plan and formatted node metrics;
the core one (``SparkContext.statusStore()``) holds exact per-stage
task, byte and spill counters.
"""

from __future__ import annotations

import re
import time
import uuid
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    """One traced call. ``start``/``end`` are ``perf_counter`` seconds;
    ``wall_start``/``wall_end`` are epoch seconds, comparable with the
    submission times Spark records for its executions."""

    index: int
    name: str
    start: float
    end: float
    wall_start: float
    wall_end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. With ``enabled=False`` every span is a
    no-op, so the untraced run pays nothing for the instrumentation."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        index = len(self.spans)
        sp = Span(
            index, name, time.perf_counter(), 0.0, time.time(), 0.0,
            parent, self.run_id, attrs,
        )
        self.spans.append(sp)
        self._stack.append(index)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.wall_end = time.time()
            self._stack.pop()

    def descendants(self, root: Span) -> list[Span]:
        """Spans opened inside ``root`` (they follow it in the list)."""
        out = []
        for sp in self.spans[root.index + 1 :]:
            if sp.start > root.end:
                break
            out.append(sp)
        return out

    def innermost_at(self, epoch_ms: float, since: int = 0) -> Span | None:
        """The latest-opened span among ``spans[since:]`` whose wall
        interval holds ``epoch_ms``."""
        best = None
        for sp in self.spans[since:]:
            if sp.wall_start * 1000 <= epoch_ms <= sp.wall_end * 1000:
                best = sp
        return best

    def total(self, name: str) -> float:
        return sum(s.seconds for s in self.spans if s.name == name)


# ---------------------------------------------------------------------------
# Spark status-store harvesting
# ---------------------------------------------------------------------------

_TIME_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE_UNITS = {
    "B": 1,
    "KiB": 1 << 10,
    "MiB": 1 << 20,
    "GiB": 1 << 30,
    "TiB": 1 << 40,
    "PiB": 1 << 50,
}
_VALUE = re.compile(r"^(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)$")

# SQL node metric name → bucket. Timings are summed in seconds.
SQL_METRIC_BUCKETS = {
    "scan time": "spark.scan_s",
    "time in aggregation build": "spark.agg_sort_s",
    "sort time": "spark.agg_sort_s",
    "size of files read": "spark.bytes_read",
    "time to run Python workers": "spark.python_s",
}
# Exchanges that move data; a ReusedExchange moves nothing new.
_EXCHANGES = frozenset({"Exchange", "BroadcastExchange"})

# What the harvester reports per execution, with units. spark.python_s
# is kept apart by the caller: it counts build executions too.
SPARK_METRICS = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.exchanges": "count",
    "spark.rows_out": "count",
    "spark.bytes_read": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.scan_s": "s",
    "spark.fetch_wait_s": "s",
    "spark.agg_sort_s": "s",
    "spark.python_s": "s",
}


def parse_metric(text: str) -> float | None:
    """A formatted SQL metric value → a number in base units (seconds
    for timings, bytes for sizes, the count for sums). Aggregated
    metrics render as ``"total (min, med, max ...)\\n<total> (...)"``;
    the total is the first token of the last line. Returns None for
    averages and anything else that is not a single total."""
    line = text.strip().split("\n")[-1]
    head = line.split(" (")[0].strip()
    m = _VALUE.match(head)
    if m is None:
        return None
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if not unit:
        return num
    if unit in _TIME_UNITS:
        return num * _TIME_UNITS[unit]
    if unit in _SIZE_UNITS:
        return num * _SIZE_UNITS[unit]
    return None


def _iter(jcoll):
    it = jcoll.iterator()
    while it.hasNext():
        yield it.next()


class Harvester:
    """Reads the SQL executions that ran since the last call.

    Call :meth:`harvest` after an operation, outside its timed region:
    it drains the listener bus so the stores are current, then returns
    one summary per new execution. Executions are found by their
    position in the store, which holds while a run stays under
    ``spark.sql.ui.retainedExecutions`` (1,000) executions; a run of
    either workload makes fewer than 200."""

    def __init__(self, spark):
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._core = spark.sparkContext._jsc.sc().statusStore()
        self._bus = spark.sparkContext._jsc.sc().listenerBus()
        self._seen = self._sql.executionsCount()

    def harvest(self) -> list[dict]:
        self._bus.waitUntilEmpty()
        count = self._sql.executionsCount()
        if count <= self._seen:
            return []
        new = list(_iter(self._sql.executionsList(self._seen, count - self._seen)))
        self._seen = count
        return [self._summarize(e) for e in new]

    def _summarize(self, e) -> dict:
        eid = e.executionId()
        out: dict = defaultdict(float)
        out["execution_id"] = eid
        out["submitted_ms"] = e.submissionTime()
        done = e.completionTime()
        out["completed_ms"] = (
            done.get().getTime() if done.isDefined() else out["submitted_ms"]
        )
        out["spark.jobs"] = e.jobs().size()
        stages = list(_iter(e.stages()))
        out["spark.stages"] = len(stages)
        for sid in stages:
            try:
                st = self._core.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage that never ran has no attempt
                continue
            out["spark.tasks"] += st.numCompleteTasks()
            out["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
            out["spark.fetch_wait_s"] += st.shuffleFetchWaitTime() / 1000.0
            out["spark.spill_bytes"] += st.diskBytesSpilled()
        values = self._sql.executionMetrics(eid)
        rows_seen = False
        for node in _iter(self._sql.planGraph(eid).allNodes()):
            name = node.name()
            if name in _EXCHANGES:
                out["spark.exchanges"] += 1
            for m in _iter(node.metrics()):
                mname = m.name()
                bucket = SQL_METRIC_BUCKETS.get(mname)
                if bucket is None and not (
                    mname == "number of output rows" and not rows_seen
                ):
                    continue
                raw = values.get(m.accumulatorId())
                if raw.isEmpty():
                    continue
                val = parse_metric(str(raw.get()))
                if val is None:
                    continue
                if bucket is not None:
                    out[bucket] += val
                else:
                    # the plan graph lists nodes root first: the first
                    # row count met is what the execution produced
                    out["spark.rows_out"] += val
                    rows_seen = True
        return dict(out)
