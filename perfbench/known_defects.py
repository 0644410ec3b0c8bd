"""Reproduces the two engine defects the benchmark's workloads steer
around, on a few hand-made points. Exits 1 while either shows, 0 once
both are fixed; a fix should then put the affected operations back into
the workloads (see README.md, Correctness).

Run from the repository root:

    python3 perfbench/known_defects.py

1. ``rollup.route_tick_query`` drops a bucket whose points hold none of
   the queried fields; the raw path (``TickDB.query``) returns it with
   NULL reducers and ``count`` 0.
2. ``RollupStore.refresh_incremental`` keeps the rollup rows of a bucket
   a delete emptied, so routed answers still count the deleted points.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

T0 = 1_470_009_600 * 1_000_000_000  # 2016-08-01T00:00:00Z
HOUR = 3_600 * 1_000_000_000
DAY = 24 * HOUR


def _rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


def _compare(spark, path, spec: dict) -> tuple[list, list]:
    """The same bucket query routed and forced onto the raw path."""
    from tickdb_spark import ingest, rollup, tickquery

    routed = _rows(rollup.route_tick_query(spark, path, spec))
    raw = _rows(tickquery.run_tick_query(ingest.read_ticks(spark, path), spec))
    return routed, raw


def main() -> int:
    if not os.path.isfile(os.path.join(ROOT, "tickdb_spark", "__init__.py")):
        print(f"known_defects: no tickdb_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from workloads import start_session, stop_session

    from tickdb_spark import TickDB, rollup

    work = os.path.join(ROOT, ".perfbench_work", f"defects-{os.getpid()}-{time.time_ns()}")
    os.makedirs(work)
    spark = None
    try:
        spark, _ = start_session(work, traced=False)
        tdb = TickDB(spark, os.path.join(work, "warehouse"))
        tdb.create_db("d")
        path = tdb.catalog.db_path("d")
        tdb.put("d", [
            {"time": T0 + 60 * 10**9, "index": "s", "value": {"foo": 1.0}},
            {"time": T0 + HOUR + 60 * 10**9, "index": "s", "value": {"bar": 2.0}},
            {"time": T0 + 2 * HOUR + 60 * 10**9, "index": "s", "value": {"foo": 3.0}},
        ])
        store = rollup.RollupStore(spark, path)
        store.refresh()
        spec = {"index": "s", "from": T0, "to": T0 + DAY, "group": "hour", "fields": {"foo": "count"}}

        shown = 0
        routed, raw = _compare(spark, path, spec)
        print(f"1. bucket without a queried field: routed {routed} raw {raw}")
        shown += routed != raw

        tdb.delete("d", "s", T0 + 2 * HOUR, T0 + 3 * HOUR)
        store.refresh_incremental()
        spec["fields"] = {"foo": "count", "bar": "count"}
        routed, raw = _compare(spark, path, spec)
        print(f"2. bucket emptied by a delete, after refresh_incremental: routed {routed} raw {raw}")
        shown += routed != raw
        print(f"{shown} of 2 defects show")
        return 1 if shown else 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
