"""Tracing for the benchmark: spans around calls into the package's
layers, and Spark counters read after each step.

Spans are recorded by wrapping public functions of the package from the
benchmark's side. A function is replaced on its defining module and on
every already-imported package module that bound the same object at
import time, so both ``module.fn(...)`` and ``from module import fn``
callers are traced. Spans stay in memory until the run writes them out.

Spark counters come from the AppStatusStore, keyed by the job group the
benchmark sets per step, and from the executed plan and
``StreamingQuery.recentProgress``. All of them are read outside every
timer.
"""

from __future__ import annotations

import functools
import re
import sys
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager

PKG = "amazon_macie_activity_generator_spark"

# (module, function, span name). A callable span name receives the call's
# arguments and returns the name, for spans split by a target's type.
WRAPPED: list[tuple[str, str, str | Callable[..., str]]] = [
    ("sources.tables", "load_table", "sources.load_table"),
    ("plans.generate", "generate", "plans.generate"),
    ("plans.pipeline", "run_blueprint", "plans.run_blueprint"),
    ("plans.pipeline", "execute_target",
     lambda fact, target, *a, **k: "plans.execute_target." + (
         f"s3_{target.config.get('action', 'get')}" if target.type == "s3" else target.type)),
    ("sinks.local", "write_queue", "plans.write_queue"),
    ("streaming.replay", "replay_to_table", "streaming.replay_to_table"),
    ("operators.dedup", "connected_components", "dedup.connected_components"),
    ("operators.similarity", "embedding_near_dup", "similarity.embedding_near_dup"),
    ("cache", "scoped_persist", "cache.scoped_persist"),
]

_PLAN_NODES = {
    "plan.filescans": re.compile(r"^(FileScan|Scan parquet|BatchScan)"),
    "plan.exchanges": re.compile(r"^Exchange\b"),
    "plan.broadcasts": re.compile(r"^BroadcastExchange\b"),
    "plan.python_evals": re.compile(r"^(ArrowEvalPython|BatchEvalPython|MapInPandas)\b"),
}
_TREE_PREFIX = re.compile(r"^[\s:|+\-]*(\*\(\d+\)\s*)?")


class Tracer:
    """In-memory span recorder. ``pass_id`` tags every span with the
    benchmark pass it belongs to."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.pass_id = 0
        self._stack: list[int] = []
        self._restore: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        idx = len(self.spans)
        rec = {"name": name, "pass": self.pass_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def install(self) -> None:
        for mod_name, attr, name in WRAPPED:
            module = sys.modules.get(f"{PKG}.{mod_name}") or __import__(
                f"{PKG}.{mod_name}", fromlist=[attr])
            orig = getattr(module, attr)
            wrapper = self._wrap(orig, name)
            for m in [module] + [m for k, m in list(sys.modules.items())
                                 if k.startswith(PKG) and m is not module]:
                if getattr(m, attr, None) is orig:
                    self._restore.append((m, attr, orig))
                    setattr(m, attr, wrapper)

    def uninstall(self) -> None:
        for m, attr, orig in reversed(self._restore):
            setattr(m, attr, orig)
        self._restore.clear()

    def _wrap(self, fn: Callable, name: str | Callable[..., str]) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name(*args, **kwargs) if callable(name) else name):
                return fn(*args, **kwargs)
        return traced

    def intervals(self, name: str, pass_id: int) -> list[tuple[float, float]]:
        """(start, end) of every span named ``name`` in one pass."""
        return [(s["start"], s["end"]) for s in self.spans
                if s["name"] == name and s["pass"] == pass_id]

    def total(self, name: str, pass_id: int) -> float:
        """Summed seconds of the spans named ``name`` in one pass."""
        return sum(b - a for a, b in self.intervals(name, pass_id))


def wait_listeners(spark) -> None:
    """Let the listener bus drain so the status store has every job."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30000)


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def job_groups(spark, groups: set[str]) -> dict[str, dict]:
    """Per job group: job intervals (epoch seconds), task counts and the
    summed stage counters of the group's stages."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = {g: {"jobs": [], "stage_ids": set(), "tasks": 0, "tasks_ok": 0,
               "tasks_failed": 0} for g in groups}
    for j in _seq(store.jobsList(sc._jvm.java.util.ArrayList())):
        grp = j.jobGroup()
        if not grp.isDefined() or grp.get() not in out:
            continue
        rec = out[grp.get()]
        sub, done = j.submissionTime(), j.completionTime()
        start = sub.get().getTime() / 1000.0 if sub.isDefined() else None
        end = done.get().getTime() / 1000.0 if done.isDefined() else start
        if start is not None:
            rec["jobs"].append((start, end))
        rec["tasks"] += j.numTasks()
        rec["tasks_ok"] += j.numCompletedTasks()
        rec["tasks_failed"] += j.numFailedTasks()
        rec["stage_ids"].update(_seq(j.stageIds()))
    stage_of = {sid: g for g, rec in out.items() for sid in rec["stage_ids"]}
    keys = ("input_bytes", "input_records", "shuffle_read", "shuffle_write",
            "spill", "cpu_ns", "gc_ms")
    for rec in out.values():
        rec.update(dict.fromkeys(keys, 0))
    stages = store.stageList(sc._jvm.java.util.ArrayList(), False, False,
                             sc._gateway.new_array(sc._jvm.double, 0),
                             sc._jvm.java.util.ArrayList())
    for s in _seq(stages):
        g = stage_of.get(s.stageId())
        if g is None:
            continue
        rec = out[g]
        rec["input_bytes"] += s.inputBytes()
        rec["input_records"] += s.inputRecords()
        rec["shuffle_read"] += s.shuffleReadBytes()
        rec["shuffle_write"] += s.shuffleWriteBytes()
        rec["spill"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        rec["cpu_ns"] += s.executorCpuTime()
        rec["gc_ms"] += s.jvmGcTime()
    return out


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def plan_counts(df) -> dict[str, int]:
    """Node counts of the executed (final adaptive) plan of ``df``."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    counts = dict.fromkeys(_PLAN_NODES, 0)
    for line in plan.treeString().splitlines():
        node = _TREE_PREFIX.sub("", line)
        for key, pat in _PLAN_NODES.items():
            if pat.match(node):
                counts[key] += 1
    return counts


def cached_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def stream_progress(query) -> dict:
    """Micro-batch durations and state size from ``recentProgress``.
    A tick is a micro-batch that read input."""
    ticks = [p for p in query.recentProgress if p.numInputRows > 0]
    state = ticks[-1].stateOperators if ticks else []
    return {
        "tick_s": [p.durationMs.get("triggerExecution", 0) / 1000.0 for p in ticks],
        "commit_ms": sum(p.durationMs.get("walCommit", 0) + p.durationMs.get("commitOffsets", 0)
                         for p in ticks),
        "add_batch_ms": sum(p.durationMs.get("addBatch", 0) for p in ticks),
        "state_rows": sum(s.numRowsTotal for s in state),
        "state_bytes": sum(s.memoryUsedBytes for s in state),
    }
