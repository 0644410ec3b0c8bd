"""Set-up and measured closed loops of the two workloads.

Every call goes through the engine's public API from this one process:
``api.TickDB.put/get/delete``, ``rollup.route_tick_query`` for every range
and bucket query, and ``rollup.RollupStore.refresh_incremental`` after each
put (``RollupStore.refresh`` after a delete). Answers
are checked against :class:`oracle.Truth` outside the timed spans.
"""

from __future__ import annotations

import itertools
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from contextlib import contextmanager

import gen
from metrics import LEVELS
from oracle import Truth, rows_match, same
from tracing import Tracer, instrument, self_times_ms, stage_vectors

WORKLOADS = ("dashboard_rollup", "ingest_refresh")
#: Closed-loop clients per workload, below the 4 cores Spark runs on.
CLIENTS = {"dashboard_rollup": 2, "ingest_refresh": 1}
SPARK_THREADS = 4
#: Warehouse builds per run; setup_s is their median and the last is used.
#: The first build in a fresh JVM also pays JIT warm-up, so two builds put
#: setup_s halfway between a cold and a warm build; a third would cost
#: 8-12 s per run, which the 48 runs of a benchmark pass cannot carry.
SETUP_REPS = 2
#: Untimed dashboard queries per client before the window; together the
#: clients walk one rotation of ``gen.SHAPES``. A count, not a time, so
#: every run starts its window with the JVM equally warmed. The
#: routed-query median still falls over the first ~25 s of query traffic
#: in a fresh JVM, so the window measures a warming engine, as a freshly
#: started one is; settling fully does not fit the per-run budget.
WARMUP_QUERIES = 16
#: Ad-hoc raw reads per ingest cycle: half a rotation of
#: ``gen.raw_stream``, so each round of two cycles issues one of each.
RAW_READS_PER_CYCLE = 2
#: Every this many ingest cycles, the last one also deletes a series-hour.
DELETE_EVERY = 2


def start_session(work: str, traced: bool):
    """Start Spark with every scratch path inside ``work``. A fixed 1 GB
    heap keeps GC heap sizing, which otherwise differs run to run, out of
    the timings. Traced runs keep every job and stage in the driver's
    status store, for the per-operation stage record."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    import tempfile

    tempfile.tempdir = None
    t = time.perf_counter()
    from tickdb_spark.session import get_spark

    conf = {
        "spark.driver.memory": "1g",
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms1g",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{SPARK_THREADS}]",
        shuffle_partitions=SPARK_THREADS,
        extra_conf=conf,
    )
    return spark, time.perf_counter() - t


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _jvm_proc():
    from pyspark import SparkContext

    return SparkContext._gateway.proc


def peak_rss_mb() -> dict[str, float]:
    """Peak resident memory of this process and of its JVM child."""
    return {"python": _vm_hwm_mb("self"), "jvm": _vm_hwm_mb(_jvm_proc().pid)}


def jvm_gc_ms(spark) -> float:
    """Time the JVM's garbage collectors have spent since it started."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return float(sum(gc.getCollectionTime() for gc in mf.getGarbageCollectorMXBeans()))


def jvm_live_heap_mb(spark) -> float:
    """Heap the JVM still uses after a full collection: what the driver
    retains. Unlike resident size, it is not bounded by the fixed heap's
    GC sizing (the heap pools' peaks sit at G1's sizing thresholds)."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return heap.getUsed() / 2**20


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits at end of stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise


def _to_ticks(spark, points):
    from pyspark.sql import functions as F

    from tickdb_spark.schema import ns_to_ts

    sdf = spark.createDataFrame(points)
    pairs = [x for f in gen.FIELDS for x in (F.lit(f), F.col(f))]
    value = F.map_filter(F.create_map(*pairs), lambda k, v: v.isNotNull() & ~F.isnan(v))
    return sdf.select("series", "ts", ns_to_ts(F.col("ts")).alias("ts_utc"), value.alias("value"))


def _disk(path: str) -> dict[str, int]:
    """Bytes of every file under the database's ticks/ and rollups/."""
    out = {}
    for sub in ("ticks", "rollups"):
        top = os.path.join(path, sub)
        for d, _, files in os.walk(top):
            for f in files:
                p = os.path.join(d, f)
                out[os.path.relpath(p, path)] = os.path.getsize(p)
    return out


def _bytes_by_area(files: dict[str, int]) -> dict[str, int]:
    out: dict[str, int] = {}
    for rel, size in files.items():
        parts = rel.split(os.sep)
        area = parts[0] if parts[0] == "ticks" else f"rollups.{parts[1]}"
        out[area] = out.get(area, 0) + size
    return out


def _files_per_series(path: str) -> dict[str, float]:
    out = {}
    for level in LEVELS:
        top = os.path.join(path, "rollups", level)
        dirs = [d for d in os.listdir(top) if d.startswith("series=")] if os.path.isdir(top) else []
        files = sum(
            1 for d in dirs for f in os.listdir(os.path.join(top, d)) if f.endswith(".parquet")
        )
        out[level] = files / len(dirs) if dirs else 0.0
    return out


class Bench:
    """One run: a Spark session, its tracer and the database under test."""

    def __init__(self, spark, tracer: Tracer, warehouse: str, workload: str, seed: int):
        from tickdb_spark import TickDB

        self.spark = spark
        self.tracer = tracer
        self.tdb = TickDB(spark, warehouse)
        self.workload = workload
        self.seed = seed
        self.base = gen.base_points(seed)
        self.raw_ops = gen.raw_stream(seed, self.base)
        self.db = None
        self.path = None
        self.probe_s = 0.0

    # -- set-up -----------------------------------------------------------
    def build(self, name: str) -> dict:
        """Load the warehouse: bulk append, compact, then build the full
        rollup cascade."""
        from tickdb_spark import ingest, rollup

        tr = self.tracer
        self.tdb.create_db(name)
        path = self.tdb.catalog.db_path(name)
        out = {}
        with tr.span("setup") as whole:
            with tr.span("ingest.bulk_append") as s:
                ingest.append_batch(path, _to_ticks(self.spark, self.base))
            out["bulk_append_s"] = s["end"] - s["start"]
            with tr.span("ingest.compact") as s:
                self.tdb.compact(name)
            out["compact_s"] = s["end"] - s["start"]
            with tr.span("rollup.refresh_full") as s:
                rollup.RollupStore(self.spark, path).refresh()
            out["refresh_full_s"] = s["end"] - s["start"]
        out["total_s"] = whole["end"] - whole["start"]
        return out

    def use(self, name: str) -> None:
        from tickdb_spark import rollup

        self.db = name
        self.path = self.tdb.catalog.db_path(name)
        self.store = rollup.RollupStore(self.spark, self.path)

    # -- operations -------------------------------------------------------
    def read(self, kind: str, spec: dict) -> dict:
        from tickdb_spark import rollup

        tr = self.tracer
        with tr.op(kind) as rec:
            try:
                if kind == "point_get":
                    with tr.span("api.TickDB.get"):
                        result = self.tdb.get(self.db, spec["index"], spec["time"])
                else:
                    with tr.span("rollup.route_tick_query") as plan:
                        df = rollup.route_tick_query(self.spark, self.path, spec)
                    with tr.span("query.exec") as exe:
                        result = df.collect()
            except Exception:
                rec["error"] = traceback.format_exc()
        rec["spec"] = spec
        if "error" not in rec:
            if kind == "point_get":
                rec["result"] = result
            else:
                rec["result"] = [tuple(r) for r in result]
                rec["plan_ms"] = (plan["end"] - plan["start"]) * 1e3
                rec["exec_ms"] = (exe["end"] - exe["start"]) * 1e3
                if tr.enabled:
                    rec["df"] = df
        return rec

    def write(self, kind: str, span: str, fn) -> dict:
        with self.tracer.op(kind) as rec:
            try:
                with self.tracer.span(span):
                    fn()
            except Exception:
                rec["error"] = traceback.format_exc()
        rec["ok"] = "error" not in rec
        return rec

    @contextmanager
    def probe(self):
        """A traced-only measurement between operations; its time is kept
        apart so it can be taken out of the freshness it interrupts."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.probe_s += time.perf_counter() - t

    def refresh_full(self) -> dict:
        return self.write("refresh_full", "rollup.RollupStore.refresh", self.store.refresh)

    def refresh(self) -> dict:
        traced = self.tracer.enabled
        if traced:
            with self.probe():
                with open(os.path.join(self.path, "_meta.json")) as f:
                    dirty = len(json.load(f).get("dirty", []))
                before = _disk(self.path)
        rec = self.write("refresh", "rollup.RollupStore.refresh_incremental", self.store.refresh_incremental)
        if traced:
            with self.probe():
                after = _disk(self.path)
                rec["files_per_series"] = _files_per_series(self.path)
            rec["dirty_partitions"] = dirty
            rec["bytes_written"] = sum(
                size for rel, size in after.items() if rel.startswith("rollups") and rel not in before
            )
        return rec


def check(truth: Truth, rec: dict) -> None:
    """Compare a read's answer with the model; drops the answer."""
    result = rec.pop("result", None)
    if "error" in rec:
        rec["ok"] = False
        return
    spec = rec["spec"]
    if rec["kind"] == "point_get":
        rec["ok"] = same(truth.get(spec["index"], spec["time"]), result)
    else:
        rec["ok"] = rows_match(result, truth.answer(spec))
        rec["rows_returned"] = len(result)


def _docs_frame(docs: list[dict]):
    import pandas as pd

    return pd.DataFrame([{"series": d["index"], "ts": d["time"], **d["value"]} for d in docs]).reindex(
        columns=["series", "ts", *gen.FIELDS]
    )


# -- loops ------------------------------------------------------------------

def _read_loop(bench: Bench, stream, deadline: float, out: list) -> None:
    for kind, spec in stream:
        if time.perf_counter() >= deadline:
            return
        out.append(bench.read(kind, spec))


def _clients(bench: Bench, streams: list, deadline: float) -> list[dict]:
    """Closed loop: one thread per stream issues its next query when the
    last one returns, until the stream ends or the deadline passes."""
    outs: list[list[dict]] = [[] for _ in streams]
    threads = [
        threading.Thread(target=_read_loop, args=(bench, stream, deadline, out))
        for stream, out in zip(streams, outs)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
        if t.is_alive():
            raise RuntimeError("a client did not finish")
    return [rec for out in outs for rec in out]


def dashboard_window(bench: Bench, seconds: float) -> tuple[list[dict], float]:
    """Every client runs its query stream until the window closes."""
    streams = [gen.dashboard_stream(bench.seed, c) for c in range(CLIENTS[bench.workload])]
    t0 = time.perf_counter()
    ops = _clients(bench, streams, t0 + seconds)
    return ops, time.perf_counter() - t0


def ingest_cycle(bench: Bench, cycle: int, truth: Truth | None) -> tuple[list[dict], float | None]:
    """put -> refresh_incremental -> dashboard panels over the touched day
    -> ad-hoc raw reads; every ``DELETE_EVERY``-th cycle then deletes one
    series-hour and runs the full refresh it needs (``refresh_incremental``
    keeps the rollup rows of buckets a delete emptied; see
    known_defects.py). With a ``truth``, the reads
    are checked against it after the batch is applied. Returns the cycle's
    operations and its freshness: from the start of the put until the
    first panel returned, less any traced-only probe time in between."""
    seed = bench.seed
    traced = bench.tracer.enabled
    docs = gen.to_docs(seed, cycle, gen.cycle_batch(seed, cycle, bench.base))
    if traced:
        with bench.probe():
            before = _disk(bench.path)
    probe0 = bench.probe_s
    put = bench.write("put", "api.TickDB.put", lambda: bench.tdb.put(bench.db, docs))
    put["points"] = len(docs)
    if traced:
        with bench.probe():
            added = {rel: size for rel, size in _disk(bench.path).items() if rel not in before}
        put["append_files"] = sum(1 for rel in added if rel.endswith(".parquet"))
        put["append_bytes"] = sum(added.values())
    refresh = bench.refresh()
    if traced and put.get("append_bytes"):
        refresh["write_amp"] = refresh["bytes_written"] / put["append_bytes"]
    panels = [bench.read("agg_query", spec) for spec in gen.cycle_panels(cycle)]
    freshness = None
    if "error" not in put and "error" not in panels[0]:
        freshness = (panels[0]["wall1"] - put["wall0"] - (bench.probe_s - probe0)) * 1e3
    raw = [bench.read(*next(bench.raw_ops)) for _ in range(RAW_READS_PER_CYCLE)]
    recs = [put, refresh, *panels, *raw]
    dele = None
    if cycle % DELETE_EVERY == DELETE_EVERY - 1:
        series, frm, to = dele = gen.cycle_delete(seed, cycle)
        if traced:
            with bench.probe():
                before = _disk(bench.path)
        delete = bench.write("delete", "api.TickDB.delete", lambda: bench.tdb.delete(bench.db, series, frm, to))
        if traced:
            with bench.probe():
                delete["bytes_rewritten"] = sum(
                    size for rel, size in _disk(bench.path).items() if rel.startswith("ticks") and rel not in before
                )
        recs += [delete, bench.refresh_full()]
    if truth is not None:
        truth.upsert(_docs_frame(docs))
        for rec in panels + raw:
            check(truth, rec)
        if dele:
            truth.delete(*dele)
    return recs, freshness


def ingest_window(bench: Bench, truth: Truth, seconds: float) -> tuple[list[dict], float, list[float]]:
    """Closed loop, one client, of whole rounds of ``DELETE_EVERY``
    cycles until the window closes, so every run has the same operation
    mix. Busy time is the sum of the operations' latencies, so neither the
    answer checks between cycles nor traced-only probes count."""
    ops: list[dict] = []
    freshness: list[float] = []
    deadline = time.perf_counter() + seconds
    cycle = 0
    while cycle % DELETE_EVERY or time.perf_counter() < deadline:
        recs, fresh = ingest_cycle(bench, cycle, truth)
        ops += recs
        if fresh is not None:
            freshness.append(fresh)
        cycle += 1
    bench.cycles = cycle
    return ops, sum(r["ms"] for r in ops) / 1e3, freshness


def warm_up(bench: Bench) -> None:
    """Untimed operations on a throwaway build, so JIT compilation and
    first-use costs land before the window: ``WARMUP_QUERIES`` dashboard
    queries per client from other seeds' streams, or one put, the
    incremental refresh it needs and one of each raw read."""
    if bench.workload == "dashboard_rollup":
        streams = [
            itertools.islice(gen.dashboard_stream(bench.seed + 1, c), WARMUP_QUERIES)
            for c in range(CLIENTS[bench.workload])
        ]
        _clients(bench, streams, math.inf)
        return
    far = 10_000  # a cycle number whose edge lies far beyond the window's
    bench.tdb.put(bench.db, gen.to_docs(bench.seed, far, gen.cycle_batch(bench.seed, far, bench.base)))
    bench.store.refresh_incremental()
    raw = gen.raw_stream(bench.seed + 1, bench.base)
    for _ in range(2 * RAW_READS_PER_CYCLE):
        bench.read(*next(raw))


def _verify_ingest(bench: Bench, truth: Truth) -> list[dict]:
    """After the window: whole-history hourly counts, once routed through
    the rollups and once forced onto the raw path by an unaligned bound,
    so every put and delete is checked."""
    end = gen.T_END + (bench.cycles + 1) * gen.CYCLE_SPAN
    fields = {"close": "count", "volume": "sum", **{f: "count" for f in gen.SPARSE_FIELDS}}
    recs = []
    for frm in (gen.T0, gen.T0 + gen.NS):
        rec = bench.read("agg_query", {"index": None, "from": frm, "to": end, "group": "hour", "fields": fields})
        rec.pop("df", None)
        check(truth, rec)
        recs.append(rec)
    return recs


# -- traced-only probes -------------------------------------------------------

def _level(df) -> str:
    files = df.inputFiles()
    for level in LEVELS:
        if any(f"/rollups/{level}/" in f for f in files):
            return level
    return "raw"


def _timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return (time.perf_counter() - t) * 1e3


def _dedup_share(bench: Bench, ops: list[dict]) -> float | None:
    """Share of raw-read latency the LWW dedup aggregate costs: the same
    reads once as the engine runs them and once over ``read_ticks(...,
    dedup=False)``, alternating, two each on up to six loop operations."""
    from pyspark.sql import functions as F

    from tickdb_spark import ingest, rollup, tickquery

    sample = []
    for kind in ("point_get", "range_scan", "raw_agg_query"):
        sample += [r for r in ops if r["kind"] == kind and r["ok"]][:2]
    if not sample:
        return None

    def engine(rec):
        spec = rec["spec"]
        if rec["kind"] == "point_get":
            return lambda: bench.tdb.get(bench.db, spec["index"], spec["time"])
        return lambda: rollup.route_tick_query(bench.spark, bench.path, spec).collect()

    def nodedup(rec):
        spec = rec["spec"]
        raw = ingest.read_ticks(bench.spark, bench.path, dedup=False)
        if rec["kind"] == "point_get":
            cond = (F.col("series") == spec["index"]) & (F.col("ts") == spec["time"])
            return lambda: raw.where(cond).select("value").take(1)
        return lambda: tickquery.run_tick_query(raw, spec).collect()

    on, off = [], []
    for rec in sample:
        for _ in range(2):
            on.append(_timed(engine(rec)))
            off.append(_timed(nodedup(rec)))
    return max(0.0, 1 - statistics.median(off) / statistics.median(on))


def _incremental_vs_full(bench: Bench) -> dict:
    """One more put, then the same warehouse state refreshed both ways:
    incrementally in place and fully on a copy."""
    from tickdb_spark import rollup

    seed, cycle = bench.seed, bench.cycles + 1
    bench.tdb.put(bench.db, gen.to_docs(seed, cycle, gen.cycle_batch(seed, cycle, bench.base)))
    copy = bench.db + "_copy"
    shutil.copytree(bench.path, bench.tdb.catalog.db_path(copy))
    inc = _timed(bench.store.refresh_incremental)
    full = _timed(rollup.RollupStore(bench.spark, bench.tdb.catalog.db_path(copy)).refresh)
    bench.tdb.drop_db(copy)
    return {
        "rollup.refresh_incremental_probe_ms": {"value": inc, "unit": "ms"},
        "rollup.refresh_full_probe_ms": {"value": full, "unit": "ms"},
        "rollup.incremental_vs_full": {"value": inc / full, "unit": "ratio"},
    }


def _median_of(ops: list[dict], key: str):
    vals = [r[key] for r in ops if key in r]
    return statistics.median(vals) if vals else None


def _trace_extras(bench: Bench, ops: list[dict]) -> dict:
    """Per-layer numbers that only some workloads have (printed in the
    report, not in the result line)."""
    extra = {}

    def put(name, value, unit):
        if value is not None:
            extra[name] = {"value": value, "unit": unit}

    puts = [r for r in ops if r["kind"] == "put"]
    refreshes = [r for r in ops if r["kind"] == "refresh"]
    span_ms: dict[str, list[float]] = {}
    for s in bench.tracer.spans:
        span_ms.setdefault(s["name"], []).append((s["end"] - s["start"]) * 1e3)
    if puts:
        put("ingest.normalize_docs_ms", statistics.median(span_ms["ingest.normalize_docs"]), "ms")
        put("ingest.append_batch_ms", statistics.median(span_ms["ingest.append_batch"]), "ms")
        put("ingest.append_batch.files", _median_of(puts, "append_files"), "count")
    if refreshes:
        put("ingest.dirty_partitions", _median_of(refreshes, "dirty_partitions"), "count")
        put("rollup.refresh.spark_jobs", statistics.median(r["spark"]["jobs"] for r in refreshes), "count")
        put("rollup.refresh.bytes_written", _median_of(refreshes, "bytes_written"), "B")
        put("rollup.refresh.write_amp", _median_of(refreshes, "write_amp"), "ratio")
        for level, n in refreshes[-1]["files_per_series"].items():
            put(f"rollup.files_per_series.{level}.after_incremental", n, "count")
    for kind in ("agg_query", "raw_agg_query", "range_scan"):
        routed = [r for r in ops if r["kind"] == kind and "level" in r]
        if routed:
            hits = sum(1 for r in routed if r["level"] != "raw")
            put(f"rollup.route_hit_ratio.{kind}", hits / len(routed), "ratio")
    deletes = [r for r in ops if r["kind"] == "delete"]
    if deletes:
        put("ingest.delete_range_ms", statistics.median(span_ms["ingest.delete_range"]), "ms")
        put("ingest.delete_range.bytes_rewritten", _median_of(deletes, "bytes_rewritten"), "B")
    return extra


# -- one run ------------------------------------------------------------------

def run_workload(workload: str, seed: int, seconds: float, traced: bool, work: str) -> dict:
    """Set up, measure and check one workload; returns the samples that
    :func:`metrics.assemble` turns into metrics, plus the span record."""
    spark, session_start_s = start_session(work, traced)
    try:
        tracer = Tracer(spark, traced)
        bench = Bench(spark, tracer, os.path.join(work, "warehouse"), workload, seed)
        setups = [bench.build(f"bench{i}") for i in range(SETUP_REPS)]
        bench.use("bench0")  # a throwaway build takes the warm-up
        warm_up(bench)
        for i in range(SETUP_REPS - 1):
            bench.tdb.drop_db(f"bench{i}")
        bench.use(f"bench{SETUP_REPS - 1}")
        truth = Truth(bench.base)
        fps_before = _files_per_series(bench.path)

        restore = instrument(tracer) if traced else None
        freshness: list[float] = []
        try:
            if workload == "ingest_refresh":
                ops, busy, freshness = ingest_window(bench, truth, seconds)
            else:
                ops, busy = dashboard_window(bench, seconds)
        finally:
            if restore:
                restore()
        verify = []
        extra: dict = {}
        if workload == "ingest_refresh":
            verify = _verify_ingest(bench, truth)
            extra["ingest.cycles"] = {"value": bench.cycles, "unit": "count"}
        else:
            for rec in ops:
                check(truth, rec)

        if traced:
            stage_vectors(spark, ops)
            for rec in ops:
                if "df" in rec:
                    rec["level"] = _level(rec.pop("df"))
            extra.update(_trace_extras(bench, ops))
            if workload == "ingest_refresh":
                share = _dedup_share(bench, ops)
                if share is not None:
                    extra["ingest.read_ticks.dedup_share"] = {"value": share, "unit": "ratio"}
        disk = _disk(bench.path)
        for area, size in sorted(_bytes_by_area(disk).items()):
            extra[f"disk_bytes.{area}"] = {"value": size, "unit": "B"}
        extra["live_points"] = {"value": truth.live_points(), "unit": "count"}
        run = {
            "workload": workload,
            "traced": traced,
            "ops": ops,
            "verify": verify,
            "busy_s": busy,
            "freshness_ms": freshness,
            "setups": setups,
            "session_start_s": session_start_s,
            "disk_bytes": sum(disk.values()),
            "live_points": truth.live_points(),
            "files_per_series_before": fps_before,
            "files_per_series_after": _files_per_series(bench.path),
            "self_ms": self_times_ms(tracer.spans),
            "spans": tracer.spans,
            "extra": extra,
        }
        if traced and workload == "ingest_refresh":
            run["extra"].update(_incremental_vs_full(bench))
        rss = peak_rss_mb()
        run["peak_rss_mb"] = sum(rss.values())
        for proc, mb in rss.items():
            run["extra"][f"peak_rss_mb.{proc}"] = {"value": mb, "unit": "MB"}
        run["extra"]["jvm_gc_ms"] = {"value": jvm_gc_ms(spark), "unit": "ms"}
        run["extra"]["jvm_live_heap_mb"] = {"value": jvm_live_heap_mb(spark), "unit": "MB"}
        return run
    finally:
        stop_session(spark)
