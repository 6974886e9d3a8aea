"""Spans and Spark counters for the benchmark's traced runs.

The package is traced from outside: :func:`install` wraps its public
functions (one layer per module) so each call records a span. Spans stay
in memory; at the end :meth:`Tracer.spark_jobs` reads Spark's status store
once and :meth:`Tracer.job_owner` gives every job to the innermost span
whose job-id window ``[nextJobId at entry, nextJobId at exit)`` holds it.
Job groups are left alone because ``RunContext.measure`` sets its own.

Self time is a span's duration minus the part of it that its child spans
cover. A span opened on a worker thread with an empty stack (the bronze
loader's pool) is a child of the innermost span open on the main thread.
"""

from __future__ import annotations

import functools
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

#: executed-plan node names that cross into a Python worker
_PY_NODE = re.compile(r"(Python|InPandas|InArrow)")
_EXCHANGE_NODE = re.compile(r"^(Exchange|BroadcastExchange|ShuffleExchange)\b")


@dataclass
class Span:
    layer: str
    name: str
    phase: str
    parent: int | None
    depth: int
    t0: float
    job0: int
    t1: float = 0.0
    job1: int = 0
    children: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.t1 - self.t0


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``intervals`` (pairs), clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Per span: duration minus the union of its children's intervals."""
    return [
        s.duration
        - union_length([(spans[c].t0, spans[c].t1) for c in s.children], s.t0, s.t1)
        for s in spans
    ]


def plan_counts(plan_text: str) -> dict[str, int]:
    """Exchange and Python-crossing node counts in an executed-plan tree."""
    exchanges = python_nodes = 0
    for line in plan_text.splitlines():
        node = line.lstrip(" :+-").lstrip()
        node = re.sub(r"^\*\(\d+\)\s*", "", node)  # whole-stage codegen marker
        if _EXCHANGE_NODE.match(node):
            exchanges += 1
        first = node.split(" ", 1)[0]
        if _PY_NODE.search(first):
            python_nodes += 1
    return {"exchanges": exchanges, "python_nodes": python_nodes}


class Tracer:
    """In-memory spans plus call counters for one traced run."""

    def __init__(self, spark, next_job_id=None):
        self.spark = spark
        self._next_job_id = next_job_id or spark.sparkContext._jsc.sc().dagScheduler().nextJobId
        self.spans: list[Span] = []
        self.counters: dict[tuple[str, str], float] = defaultdict(float)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[int] = []
        #: set by the workload: "build", "check" or "op"; spans and
        #: counters carry the phase they were recorded in
        self.phase = "setup"

    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open_layers(self) -> set[str]:
        return {self.spans[i].layer for i in self._stack()}

    @contextmanager
    def span(self, layer: str, name: str):
        stack = self._stack()
        if stack:
            parent = stack[-1]
        elif stack is not self._main_stack and self._main_stack:
            parent = self._main_stack[-1]
        else:
            parent = None
        with self._lock:
            depth = 0 if parent is None else self.spans[parent].depth + 1
            idx = len(self.spans)
            sp = Span(layer, name, self.phase, parent, depth, time.time(), int(self._next_job_id()))
            self.spans.append(sp)
            if parent is not None:
                self.spans[parent].children.append(idx)
        stack.append(idx)
        try:
            yield idx
        finally:
            stack.pop()
            sp.job1 = int(self._next_job_id())
            sp.t1 = time.time()

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counters[(self.phase, name)] += n

    def wrap(self, owner, attr: str, layer: str, before=None) -> None:
        """Replace ``owner.attr`` by a spanned version; ``before`` (optional)
        sees the call's arguments first, for counters."""
        fn = getattr(owner, attr)
        name = f"{layer}.{attr}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            self.count(f"{layer}.calls")
            if before is not None:
                before(*args, **kwargs)
            with self.span(layer, name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    # -- status store --------------------------------------------------
    def spark_jobs(self) -> tuple[dict[int, dict], dict[int, dict]]:
        """Jobs and stages retained by the status store, as plain dicts."""
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = sc._jsc.sc().statusStore()
        jvm, gw = sc._jvm, sc._gateway
        jobs: dict[int, dict] = {}
        it = store.jobsList(jvm.java.util.ArrayList()).iterator()
        while it.hasNext():
            j = it.next()
            sub, end = j.submissionTime(), j.completionTime()
            stage_ids = []
            sit = j.stageIds().iterator()
            while sit.hasNext():
                stage_ids.append(int(sit.next()))
            jobs[int(j.jobId())] = {
                "t0": sub.get().getTime() / 1e3 if sub.isDefined() else None,
                "t1": end.get().getTime() / 1e3 if end.isDefined() else None,
                "stages": stage_ids,
                "failed_tasks": int(j.numFailedTasks()),
            }
        stages: dict[int, dict] = {}
        it = store.stageList(
            jvm.java.util.ArrayList(), False, False,
            gw.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        ).iterator()
        while it.hasNext():
            s = it.next()
            if str(s.status()) != "COMPLETE":
                continue  # SKIPPED stages reused earlier output
            stages[int(s.stageId())] = {
                "tasks": int(s.numCompleteTasks()),
                "task_s": float(s.executorRunTime()) / 1e3,
                "shuffle_mb": float(s.shuffleWriteBytes()) / 1e6,
                "spill_mb": float(s.diskBytesSpilled()) / 1e6,
            }
        return jobs, stages

    def job_owner(self) -> dict[int, int]:
        """job id -> index of the innermost span whose window holds it."""
        owner: dict[int, int] = {}
        for i, s in enumerate(self.spans):
            for j in range(s.job0, s.job1):
                cur = owner.get(j)
                if cur is None or (self.spans[cur].depth, self.spans[cur].t0) < (s.depth, s.t0):
                    owner[j] = i
        return owner


def job_totals(job_ids, jobs: dict[int, dict], stages: dict[int, dict]) -> dict[str, float]:
    """Sum stage counters over ``job_ids`` (jobs missing from the store are
    counted as jobs with no stages)."""
    out = {"jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0, "shuffle_mb": 0.0,
           "spill_mb": 0.0, "failed_tasks": 0}
    for j in job_ids:
        out["jobs"] += 1
        info = jobs.get(j)
        if info is None:
            continue
        out["failed_tasks"] += info["failed_tasks"]
        for sid in info["stages"]:
            st = stages.get(sid)
            if st is None:
                continue
            out["stages"] += 1
            for k in ("tasks", "task_s", "shuffle_mb", "spill_mb"):
                out[k] += st[k]
    return out


def install(tracer: Tracer) -> None:
    """Wrap the package's public layer functions. Called once per traced
    process, before any warehouse work."""
    from pyspark.sql import SparkSession

    from sql_data_warehouse_analytics_project_spark.catalog import Catalog
    from sql_data_warehouse_analytics_project_spark.medallion import bronze, gold, silver
    from sql_data_warehouse_analytics_project_spark.ops.context import RunContext

    tracer.wrap(bronze, "load_csv_to_bronze", "bronze")
    # the cleaners and builders too: the replay queries call them directly
    for attr in ("run_silver", "run_silver_incremental", "clean_crm_customers",
                 "clean_crm_products", "clean_crm_sales", "clean_erp_customers",
                 "clean_erp_locations", "clean_erp_product_categories"):
        tracer.wrap(silver, attr, "silver")
    for attr in ("run_gold", "run_gold_incremental", "build_dim_customers",
                 "build_dim_products", "build_fact_sales", "build_customer_report",
                 "build_product_report", "fact_key_skew"):
        tracer.wrap(gold, attr, "gold")
    for attr in ("create_table", "append", "overwrite", "add_column", "read",
                 "table_exists", "create_layers"):
        tracer.wrap(Catalog, attr, "catalog")

    def count_flush(ctx, table=None):
        # rows waiting in the context's per-table buffers (read, not changed)
        names = [table] if table is not None else list(ctx._buffers)
        rows = sum(len(ctx._buffers.get(n, ())) for n in names)
        tracer.count("ops.rows_flushed", rows)
        tracer.count("ops.flushes")

    tracer.wrap(RunContext, "flush", "ops", before=count_flush)
    for attr in ("start_process", "end_process", "log_lineage", "record_metric"):
        tracer.wrap(RunContext, attr, "ops")

    sql = SparkSession.sql

    @functools.wraps(sql)
    def counted_sql(self, *args, **kwargs):
        if "catalog" in tracer.open_layers():
            tracer.count("catalog.sql_stmts")
        return sql(self, *args, **kwargs)

    SparkSession.sql = counted_sql
