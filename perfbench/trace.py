"""Span tracing around the program's public layer boundaries.

The tracer wraps methods from the outside (``install``) and restores them
(``uninstall``), so untraced reps run the program exactly as shipped.
Spans are ``[name, start, end, parent]`` rows kept in memory. Each thread
keeps its own parent stack; a span opened on a worker thread with an empty
stack attaches to the innermost span open on the main thread, which is the
enclosing ``Scheduler.run`` (or ``PlanEvaluator.apply`` for promotion).

Self time is a span's duration minus the union of its children's
intervals, so children running in parallel are not counted twice.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[list] = []
        self.active = False
        self._main_stack: list[int] = []
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self.render_hits = 0
        self.render_misses = 0
        self._render_base: dict | None = None

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        stack = self._stack()
        if stack:
            parent = stack[-1]
        elif self._main_stack and stack is not self._main_stack:
            parent = self._main_stack[-1]
        else:
            parent = None
        row = [name, time.perf_counter(), None, parent]
        # list.append is atomic under the GIL, so the index is stable.
        self.spans.append(row)
        stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            row[2] = time.perf_counter()
            stack.pop()

    def wrap(self, owner: type, attr: str, name: str) -> None:
        orig = owner.__dict__[attr]

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()
        self.active = False
        if self._render_base is not None:
            from sqlmesh_spark.core.scheduler import RENDER_STATS

            self.render_hits += RENDER_STATS["hits"] - self._render_base["hits"]
            self.render_misses += RENDER_STATS["misses"] - self._render_base["misses"]
            self._render_base = None


ADAPTER_WRITES = (
    "insert_overwrite_by_time_partition", "merge", "replace_query", "ctas", "insert_append",
)
ADAPTER_CATALOG_READS = ("table_exists", "columns", "get_data_objects")
ADAPTER_DDL = (
    "create_view", "create_schema", "create_table", "drop_table", "drop_view",
    "drop_schema", "rename_table", "alter_table",
)


def install(tracer: Tracer) -> None:
    """Wrap every public boundary the per-layer metrics read."""
    from sqlmesh_spark.adapter import SparkAdapter
    from sqlmesh_spark.core.context import Context
    from sqlmesh_spark.core.plan import PlanEvaluator
    from sqlmesh_spark.core.scheduler import RENDER_STATS, Scheduler, SnapshotEvaluator
    from sqlmesh_spark.core.state import StateStore
    from sqlmesh_spark.macros import MacroEvaluator

    tracer.wrap(Context, "add_model", "context.add_model")
    tracer.wrap(PlanEvaluator, "plan", "plan.plan")
    tracer.wrap(PlanEvaluator, "apply", "plan.apply")
    tracer.wrap(Scheduler, "run", "scheduler.run")
    tracer.wrap(SnapshotEvaluator, "render", "scheduler.render")
    tracer.wrap(SnapshotEvaluator, "evaluate", "scheduler.evaluate")
    tracer.wrap(SnapshotEvaluator, "run_audits", "scheduler.audit")
    tracer.wrap(MacroEvaluator, "render", "macros.render")
    for m in ADAPTER_WRITES:
        tracer.wrap(SparkAdapter, m, "adapter.write")
    for m in ADAPTER_CATALOG_READS:
        tracer.wrap(SparkAdapter, m, "adapter.catalog")
    for m in ADAPTER_DDL:
        tracer.wrap(SparkAdapter, m, "adapter.ddl")
    for m, fn in list(vars(StateStore).items()):
        if not m.startswith("_") and callable(fn):
            tracer.wrap(StateStore, m, "state")
    tracer._render_base = dict(RENDER_STATS)
    tracer.active = True


def _union(intervals: list[tuple[float, float]]) -> float:
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


def summarize(spans: list[list]) -> dict[str, dict[str, float]]:
    """Per span name: calls, outermost inclusive seconds (nested spans of
    the same name count once) and self seconds."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for name, s, e, parent in spans:
        if parent is not None and e is not None:
            children[parent].append((s, e))
    out: dict[str, dict[str, float]] = defaultdict(lambda: {"calls": 0, "s": 0.0, "self_s": 0.0})
    for i, (name, s, e, parent) in enumerate(spans):
        if e is None:
            continue
        agg = out[name]
        agg["calls"] += 1
        clipped = [(max(cs, s), min(ce, e)) for cs, ce in children[i] if ce > s and cs < e]
        agg["self_s"] += (e - s) - _union(clipped)
        p = parent
        while p is not None and spans[p][0] != name:
            p = spans[p][3]
        if p is None:
            agg["s"] += e - s
    return dict(out)


def spark_jvm_metrics(event_log_dir: str, windows: list[tuple[float, float]]) -> dict[str, float]:
    """Jobs, tasks, executor run time, shuffle write and spill bytes from an
    uncompressed, non-rolling Spark event log, counting only jobs submitted
    and tasks finished inside ``windows`` (epoch seconds)."""
    import glob

    def inside(ms: float) -> bool:
        return any(lo * 1000 <= ms <= hi * 1000 for lo, hi in windows)

    out = {"jobs": 0, "tasks": 0, "executor_run_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0}
    for path in glob.glob(f"{event_log_dir}/*"):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart" and inside(ev.get("Submission Time", 0)):
                    out["jobs"] += 1
                elif kind == "SparkListenerTaskEnd":
                    if not inside(ev.get("Task Info", {}).get("Finish Time", 0)):
                        continue
                    m = ev.get("Task Metrics") or {}
                    out["tasks"] += 1
                    out["executor_run_s"] += m.get("Executor Run Time", 0) / 1000
                    out["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return out
