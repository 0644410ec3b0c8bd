"""Spans, per-operation Spark job groups and the stage record.

Every operation the benchmark issues is timed through :class:`Tracer`, so
untraced and traced runs share one code path. With tracing on:

- each span (name, start, end, parent) is kept in memory and written out
  when the run ends;
- each operation runs under its own Spark job group, and its jobs and
  stages are read back from the driver's status store after the measured
  window (the Spark UI stays off);
- :func:`instrument` wraps the engine's internal public functions
  (``ingest.normalize_docs`` ...) so the spans nest below the API call
  that invoked them. DataFrame-returning functions are lazy: their spans
  cover plan construction, and execution shows in the ``query.exec`` span.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import threading
import time
from contextlib import contextmanager

#: (module, attribute, span name) wrapped in traced runs.
#: The same function is bound under several module names, so each
#: binding a caller goes through is listed.
_WRAPPED = (
    ("tickdb_spark.ingest", "normalize_docs", "ingest.normalize_docs"),
    ("tickdb_spark.ingest", "append_batch", "ingest.append_batch"),
    ("tickdb_spark.ingest", "delete_range", "ingest.delete_range"),
    ("tickdb_spark.ingest", "read_ticks", "ingest.read_ticks"),
    ("tickdb_spark.rollup", "read_ticks", "ingest.read_ticks"),
    ("tickdb_spark.tickquery", "run_tick_query", "tickquery.run_tick_query"),
    ("tickdb_spark.rollup", "run_tick_query", "tickquery.run_tick_query"),
    ("tickdb_spark.api", "run_tick_query", "tickquery.run_tick_query"),
)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        """Time a block. The record is kept only when tracing."""
        stack = self._stack()
        rec = {"id": next(self._ids), "name": name, "parent": stack[-1] if stack else None}
        stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if self.enabled:
                self.spans.append(rec)

    @contextmanager
    def op(self, kind: str):
        """One operation: a top-level span, plus its own job group when
        tracing. ``rec["ms"]`` is its latency; hook time is kept apart."""
        rec = {"kind": kind, "group": None, "hook_ms": 0.0}
        sc = self.spark.sparkContext
        if self.enabled:
            t = time.perf_counter()
            rec["group"] = f"perfbench-{kind}-{next(self._ids)}"
            sc.setJobGroup(rec["group"], kind)
            rec["hook_ms"] += (time.perf_counter() - t) * 1e3
        rec["wall0"] = time.time()
        try:
            with self.span(kind) as s:
                yield rec
        finally:
            rec["wall1"] = time.time()
            rec["ms"] = (s["end"] - s["start"]) * 1e3
            if self.enabled:
                t = time.perf_counter()
                sc.setLocalProperty("spark.jobGroup.id", None)
                rec["hook_ms"] += (time.perf_counter() - t) * 1e3


def instrument(tracer: Tracer):
    """Wrap the engine functions in ``_WRAPPED`` with spans; returns a
    function that restores the originals."""
    saved = []
    for mod, attr, name in _WRAPPED:
        owner = importlib.import_module(mod)
        orig = getattr(owner, attr)

        def wrapper(*args, _orig=orig, _name=name, **kwargs):
            with tracer.span(_name):
                return _orig(*args, **kwargs)

        setattr(owner, attr, functools.wraps(orig)(wrapper))
        saved.append((owner, attr, orig))

    def restore():
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)

    return restore


def self_times_ms(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name: a span's duration minus its
    children's. Children run in their parent's thread, one at a time."""
    child = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    out: dict[str, float] = {}
    for s in spans:
        own = s["end"] - s["start"] - child.get(s["id"], 0.0)
        out[s["name"]] = out.get(s["name"], 0.0) + own * 1e3
    return out


_STAGE_FIELDS = (
    ("tasks", "numCompleteTasks"),
    ("executor_run_ms", "executorRunTime"),
    ("input_bytes", "inputBytes"),
    ("input_records", "inputRecords"),
    ("output_bytes", "outputBytes"),
    ("shuffle_read_bytes", "shuffleReadBytes"),
    ("shuffle_write_bytes", "shuffleWriteBytes"),
    ("spill_bytes", "diskBytesSpilled"),
)
VECTOR_KEYS = ("jobs",) + tuple(k for k, _ in _STAGE_FIELDS) + ("driver_gap_ms",)


def _seq(jvm, seq) -> list:
    """A Scala Seq as a Python list (one conversion, not one call per item)."""
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))


def _epoch_ms(opt) -> float | None:
    return float(opt.get().getTime()) if opt.isDefined() else None


def stage_vectors(spark, ops: list[dict]) -> None:
    """Attach ``rec["spark"]``, the op's compact stage vector, to every
    traced op: job and task counts, executor run time, input, output,
    shuffle and spill bytes summed over the op's stages, and the driver
    gap — the op's wall time not covered by any of its jobs."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    empty = sc._jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    stages: dict[int, dict] = {}
    for st in _seq(sc._jvm, store.stageList(empty, False, False, no_quantiles, empty)):
        acc = stages.setdefault(st.stageId(), dict.fromkeys((k for k, _ in _STAGE_FIELDS), 0))
        for key, getter in _STAGE_FIELDS:
            acc[key] += getattr(st, getter)()
    jobs: dict[str, list] = {}
    for job in _seq(sc._jvm, store.jobsList(empty)):
        group = job.jobGroup()
        if group.isDefined():
            jobs.setdefault(group.get(), []).append(
                (_epoch_ms(job.submissionTime()), _epoch_ms(job.completionTime()), _seq(sc._jvm, job.stageIds()))
            )
    for rec in ops:
        mine = jobs.get(rec["group"], [])
        vec = dict.fromkeys(VECTOR_KEYS, 0.0)
        vec["jobs"] = len(mine)
        for sid in {sid for _, _, ids in mine for sid in ids}:
            for key, val in stages.get(sid, {}).items():
                vec[key] += val
        lo, hi = rec["wall0"] * 1e3, rec["wall1"] * 1e3
        covered, edge = 0.0, lo
        for start, end in sorted((max(s, lo), min(e, hi)) for s, e, _ in mine if s and e):
            if end > edge:
                covered += end - max(start, edge)
                edge = end
        vec["driver_gap_ms"] = max(0.0, rec["ms"] - covered)
        rec["spark"] = vec
