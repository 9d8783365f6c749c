"""Stage attribution for the traced run: driver-side spans plus Spark's
event log.

Spans time calls into the pipeline's public functions from outside: each
target is patched for the duration of one traced rep and restored after.
A target that no longer exists is skipped, so the trace keeps working when
a later change deletes or merges a function; its metrics then read 0.

The event log gives what spans cannot see: every stage's executor time and
the SQL metrics of its physical operators: bytes of files scanned, shuffle
bytes per exchange, rows, and the Python ones of ``MapInArrow``. A stage belongs to
a layer by the operators it ran, not by its task count.
"""

from __future__ import annotations

import importlib
import json
import math
import re
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Dict, Iterator, List, Optional, Tuple

PKG = "corsearch_project_spark"

# (module, attribute, span name). ``Class.method`` patches the method.
SPAN_TARGETS: Tuple[Tuple[str, str, str], ...] = (
    (f"{PKG}.sources.io", "scan_pages", "io.scan_pages"),
    (f"{PKG}.sources.io", "done_buckets", "io.done_buckets"),
    (f"{PKG}.sources.io", "ParquetBucketedFormat.write_extracted", "io.write_extracted"),
    (f"{PKG}.sources.io", "ParquetBucketedFormat.read_extracted", "io.read_extracted"),
    (f"{PKG}.sources.io", "ParquetBucketedFormat.append_lineage", "lineage.append_lineage"),
    (f"{PKG}.sources.snapshots", "append_snapshot", "lineage.append_snapshot"),
    (f"{PKG}.sources.lineage", "lineage_rows", "lineage.lineage_rows"),
    (f"{PKG}.operators.partitioning", "hot_hosts", "partitioning.hot_hosts"),
    (f"{PKG}.operators.partitioning", "with_url_bucket", "partitioning.with_url_bucket"),
    (f"{PKG}.operators.partitioning", "with_salt", "partitioning.with_salt"),
    (f"{PKG}.plans.extract_pipeline", "dedupe_latest", "pipeline.dedupe_latest"),
    (f"{PKG}.operators.kernel", "run_kernel", "kernel.run_kernel"),
    (f"{PKG}.operators.kernel", "run_dual_kernel", "kernel.run_dual_kernel"),
    (f"{PKG}.operators.kernel", "run_doc_assets_kernel", "kernel.run_doc_assets_kernel"),
    (f"{PKG}.operators.kernel", "run_doc_tables_kernel", "kernel.run_doc_tables_kernel"),
)


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, the clock Spark's event log uses
    end: float
    parent: Optional[str]

    @property
    def dur(self) -> float:
        return self.end - self.start


class Spans:
    """Records spans around SPAN_TARGETS while ``active()`` is entered."""

    def __init__(self) -> None:
        self.records: List[Span] = []
        self._stack: List[str] = []

    def _wrapper(self, fn, name):
        def wrapped(*args, **kwargs):
            parent = self._stack[-1] if self._stack else None
            self._stack.append(name)
            start = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                self._stack.pop()
                self.records.append(Span(name, start, time.time(), parent))

        return wrapped

    @contextmanager
    def active(self) -> Iterator["Spans"]:
        patches: List[Tuple[object, str, object]] = []
        for module, attr, name in SPAN_TARGETS:
            try:
                mod = importlib.import_module(module)
            except ImportError:
                continue
            owner, _, meth = attr.rpartition(".")
            target = getattr(mod, owner, None) if owner else mod
            orig = getattr(target, meth, None) if target is not None else None
            if orig is None:
                continue
            wrapped = self._wrapper(orig, name)
            patches.append((target, meth, orig))
            setattr(target, meth, wrapped)
            if not owner:
                # modules that imported the function by name hold their own
                # reference; patch those too
                for other in list(sys.modules.values()):
                    if (other is not mod and getattr(other, "__name__", "").startswith(PKG)
                            and getattr(other, meth, None) is orig):
                        patches.append((other, meth, orig))
                        setattr(other, meth, wrapped)
        try:
            yield self
        finally:
            for target, meth, orig in reversed(patches):
                setattr(target, meth, orig)

    def total(self, name: str) -> float:
        return sum(s.dur for s in self.records if s.name == name)

    def top_level(self) -> List[Span]:
        return [s for s in self.records if s.parent is None]


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

_INSERT_RE = re.compile(r"InsertIntoHadoopFsRelationCommand (\S+?),")
_PLAN_EVENTS = ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")


@dataclass
class Execution:
    id: int
    start: float
    end: float = 0.0
    target: Optional[str] = None  # last path component of an insert's table

    @property
    def dur(self) -> float:
        return max(0.0, self.end - self.start)


@dataclass
class Stage:
    id: int
    execution: Optional[int]
    run_ms: List[int] = field(default_factory=list)  # per task
    sql: Dict[int, List[int]] = field(default_factory=dict)  # acc id -> task updates

    @property
    def executor_s(self) -> float:
        return sum(self.run_ms) / 1000.0


@dataclass
class Metric:
    execution: int
    node: str
    detail: str  # the node's simpleString
    name: str


class EventLog:
    """One application's event log, restricted to a time window on demand."""

    def __init__(self, path: str) -> None:
        self.executions: Dict[int, Execution] = {}
        self.metrics: Dict[int, Metric] = {}  # accumulator id -> metric
        self.driver_updates: Dict[int, int] = {}
        self.jobs: List[Tuple[float, int, Optional[int]]] = []  # (submit, job id, execution)
        self.stages: Dict[int, Stage] = {}
        self.stage_start: Dict[int, float] = {}
        stage_exec: Dict[int, Optional[int]] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"].rsplit(".", 1)[-1]
                if kind in _PLAN_EVENTS:
                    eid = ev["executionId"]
                    ex = self.executions.setdefault(eid, Execution(eid, ev.get("time", 0) / 1000.0))
                    self._walk(ex, ev["sparkPlanInfo"])
                elif kind == "SparkListenerSQLExecutionEnd":
                    self.executions[ev["executionId"]].end = ev["time"] / 1000.0
                elif kind == "SparkListenerDriverAccumUpdates":
                    for acc, val in ev["accumUpdates"]:
                        self.driver_updates[acc] = self.driver_updates.get(acc, 0) + int(val)
                elif kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    eid = props.get("spark.sql.execution.id")
                    eid = int(eid) if eid is not None else None
                    self.jobs.append((ev["Submission Time"] / 1000.0, ev["Job ID"], eid))
                    for sid in ev["Stage IDs"]:
                        stage_exec[sid] = eid
                elif kind == "SparkListenerTaskEnd":
                    self._task(ev, stage_exec)

    def _walk(self, ex: Execution, node: dict) -> None:
        name, detail = node["nodeName"], node["simpleString"]
        m = _INSERT_RE.search(detail)
        if m:
            ex.target = m.group(1).rstrip("/").rsplit("/", 1)[-1]
        for met in node.get("metrics", []):
            self.metrics[met["accumulatorId"]] = Metric(ex.id, name.strip(), detail, met["name"])
        for child in node.get("children", []):
            self._walk(ex, child)

    def _task(self, ev: dict, stage_exec: Dict[int, Optional[int]]) -> None:
        sid = ev["Stage ID"]
        info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
        st = self.stages.get(sid)
        if st is None:
            st = self.stages[sid] = Stage(sid, stage_exec.get(sid))
            self.stage_start[sid] = info["Launch Time"] / 1000.0
        st.run_ms.append(int(tm.get("Executor Run Time", 0)))
        for acc in info.get("Accumulables", []):
            if acc.get("Metadata") == "sql":
                st.sql.setdefault(acc["ID"], []).append(int(acc["Update"]))

    def window(self, t0: float, t1: float) -> "Window":
        return Window(self, t0, t1)


class Window:
    """The jobs, stages and executions of one rep, chosen by start time."""

    def __init__(self, log: EventLog, t0: float, t1: float) -> None:
        self.log = log
        self.executions = [e for e in log.executions.values() if t0 <= e.start <= t1]
        self.jobs = [j for j in log.jobs if t0 <= j[0] <= t1]
        self.stages = [s for s in log.stages.values() if t0 <= log.stage_start[s.id] <= t1]
        self._ids = {e.id for e in self.executions}

    def _exec(self, stage: Stage) -> Optional[Execution]:
        return self.log.executions.get(stage.execution) if stage.execution is not None else None

    def layer(self, stage: Stage, input_path: str) -> str:
        """kernel:<table> | scan | write:<table> | other, where <table> is
        the table the stage's query inserts into."""
        ex = self._exec(stage)
        target = ex.target if ex else None
        mets = [self.log.metrics[a] for a in stage.sql if a in self.log.metrics]
        if any(m.node == "MapInArrow" for m in mets):
            return f"kernel:{target}"
        if any(m.node.startswith("Scan parquet") and input_path in m.detail for m in mets):
            return "scan"
        if target is not None and any(m.node.startswith("Execute InsertInto") for m in mets):
            return f"write:{target}"
        return "other"

    def stages_of(self, layer: str, input_path: str) -> List[Stage]:
        return [s for s in self.stages if self.layer(s, input_path) == layer]

    def sql_per_task(self, pred, metric: str) -> List[int]:
        """Per-task updates of a SQL metric on the nodes ``pred(Metric)``
        accepts."""
        vals: List[int] = []
        for st in self.stages:
            for acc, ups in st.sql.items():
                m = self.log.metrics.get(acc)
                if m is not None and m.name == metric and pred(m):
                    vals.extend(ups)
        return vals

    def sql_total(self, pred, metric: str) -> int:
        return sum(self.sql_per_task(pred, metric))

    def driver_total(self, metric: str, pred=lambda m: True) -> int:
        """Sum of a metric the driver updates (file counts and sizes)."""
        total = 0
        for acc, v in self.log.driver_updates.items():
            m = self.log.metrics.get(acc)
            if m is not None and m.name == metric and m.execution in self._ids and pred(m):
                total += v
        return total


def max_over_median(values: List[float]) -> float:
    if not values:
        return 0.0
    med = statistics.median(values)
    return max(values) / med if med > 0 else 0.0


def rows_per_batch(task_rows: List[int], batch_rows: int) -> float:
    """Mean rows per Arrow batch when each task cuts its rows into batches
    of at most ``batch_rows``."""
    batches = sum(math.ceil(n / batch_rows) for n in task_rows if n > 0)
    return sum(task_rows) / batches if batches else 0.0
