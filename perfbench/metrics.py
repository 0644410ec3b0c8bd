"""Turns one run's samples into named metrics. Pure Python, no Spark.

Every metric is ``{"value": number, "unit": str}``. ``end_to_end`` and
``per_layer`` hold the metrics ``BENCHMARK.json`` declares, which exist on
every workload; ``report`` adds those that apply only to the workloads
issuing a given operation, and is printed but not part of the result line.
"""

from __future__ import annotations

import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9_.-]+$")
LEVELS = ("minute", "hour", "day", "month", "year")
#: Operation kinds: routable bucket queries, point gets, raw range scans,
#: bucket queries no rollup answers, and the write path (``refresh`` is
#: ``refresh_incremental``; ``refresh_full`` follows a delete).
OP_KINDS = ("agg_query", "point_get", "range_scan", "raw_agg_query", "put", "refresh", "delete", "refresh_full")
_TAIL_QS = (0.999, 0.99, 0.95, 0.9, 0.75, 0.5)


def _rank(n: int, q: float) -> int:
    """1-based nearest rank of quantile q among n samples."""
    return max(1, math.ceil(round(q * n, 9)))


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile."""
    return sorted(values)[_rank(len(values), q) - 1]


def tail(values: list[float]) -> tuple[float, str] | None:
    """The highest percentile with at least ten samples beyond it."""
    for q in _TAIL_QS:
        if len(values) - _rank(len(values), q) >= 10:
            return quantile(values, q), f"p{q * 100:g}"
    return None


def _m(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def assemble(run: dict) -> dict:
    """``run`` holds the samples (see ``workloads.run_workload``); returns
    ``{"end_to_end", "per_layer", "report"}`` metric maps."""
    ops = run["ops"]
    by_kind: dict[str, list[dict]] = {}
    for rec in ops:
        by_kind.setdefault(rec["kind"], []).append(rec)

    def ms(kind):
        return [r["ms"] for r in by_kind.get(kind, [])]

    e2e = {
        "setup_s": _m(statistics.median(r["total_s"] for r in run["setups"]), "s"),
        "ops_per_s": _m(len(ops) / run["busy_s"], "1/s"),
        "agg_query_ms.p50": _m(statistics.median(ms("agg_query")), "ms"),
        "bytes_per_point": _m(run["disk_bytes"] / run["live_points"], "B/point"),
        "peak_rss_mb": _m(run["peak_rss_mb"], "MB"),
    }

    report: dict[str, dict] = {}
    for kind in OP_KINDS:
        prefix = f"{kind}_ms"
        values = ms(kind)
        if not values:
            continue
        report[f"{prefix}.p50"] = _m(statistics.median(values), "ms")
        report[f"{prefix}.n"] = _m(len(values), "count")
        t = tail(values)
        if t:
            report[f"{prefix}.tail"] = _m(t[0], "ms")
            report[f"{prefix}.tail_percentile"] = _m(float(t[1][1:]), "%")
    puts = by_kind.get("put", [])
    if puts:
        report["ingest_pts_per_s"] = _m(sum(r["points"] for r in puts) / sum(r["ms"] for r in puts) * 1e3, "pts/s")
    if run["freshness_ms"]:
        report["freshness_ms.p50"] = _m(statistics.median(run["freshness_ms"]), "ms")
    failed = sum(1 for r in ops if not r["ok"])
    report["error_rate"] = _m(failed / len(ops), "ratio")
    for level in LEVELS:
        report[f"rollup.files_per_series.{level}.before"] = _m(run["files_per_series_before"][level], "count")
    for key, val in run.get("extra", {}).items():
        report[key] = val

    layer: dict[str, dict] = {}
    if run["traced"]:
        layer["session.start_s"] = _m(run["session_start_s"], "s")
        layer["ingest.bulk_append_s"] = _m(statistics.median(r["bulk_append_s"] for r in run["setups"]), "s")
        layer["ingest.compact_s"] = _m(statistics.median(r["compact_s"] for r in run["setups"]), "s")
        layer["rollup.refresh_full_s"] = _m(statistics.median(r["refresh_full_s"] for r in run["setups"]), "s")
        aggs = [r for r in by_kind.get("agg_query", []) if "plan_ms" in r]
        layer["query.plan_ms"] = _m(statistics.median(r["plan_ms"] for r in aggs), "ms")
        layer["query.exec_ms"] = _m(statistics.median(r["exec_ms"] for r in aggs), "ms")
        routed = [r for r in ops if "level" in r]
        hits = [r for r in routed if r["level"] != "raw"]
        layer["rollup.route_hit_ratio"] = _m(len(hits) / len(routed), "ratio")
        for level in LEVELS[:4]:
            share = sum(1 for r in routed if r["level"] == level) / len(routed)
            layer[f"rollup.level_share.{level}"] = _m(share, "ratio")
        read = [r for r in ops if "rows_returned" in r]
        layer["query.rows_scanned_per_row_returned"] = _m(
            sum(r["spark"]["input_records"] for r in read) / max(1, sum(r["rows_returned"] for r in read)),
            "ratio",
        )
        for level in LEVELS:
            layer[f"rollup.files_per_series.{level}"] = _m(run["files_per_series_after"][level], "count")
        for kind in OP_KINDS:
            recs = by_kind.get(kind, [])
            if not recs:
                continue
            target = layer if kind == "agg_query" else report
            for key in ("jobs", "tasks", "executor_run_ms", "input_bytes", "shuffle_read_bytes",
                        "shuffle_write_bytes", "spill_bytes", "driver_gap_ms"):
                unit = "ms" if key.endswith("_ms") else "B" if key.endswith("_bytes") else "count"
                target[f"spark.{kind}.{key}"] = _m(statistics.median(r["spark"][key] for r in recs), unit)
        layer["trace.hook_ms_per_op"] = _m(sum(r["hook_ms"] for r in ops) / len(ops), "ms")
        for name, total in sorted(run["self_ms"].items()):
            report[f"self_ms.{name}"] = _m(total, "ms")
    return {"end_to_end": e2e, "per_layer": layer, "report": report}
