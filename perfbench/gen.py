"""Seeded inputs for the tick-engine benchmark: warehouse data, upsert
batches, ingest-cycle documents and per-client query streams.

Pure numpy/pandas, no Spark: the same ``seed`` always yields the same
frames and the same operation streams, which the self-tests check.

Data shapes follow FIXTURES.md:
- F1 dense OHLC (``idx_a``, ``idx_b``): a regular grid, 5% of points
  dropped, ``open`` a random walk, ``close`` the next ``open``.
- F2 sparse fields (``sparse_1``): Poisson arrivals, 20% of them at
  sub-second (microsecond) precision; ``foo``/``bar``/``baz`` present with
  p = 0.7/0.4/0.1 and at least one field per point.
- F3-style upserts: ingest batches rewrite whole value maps of existing
  ``(series, ts)`` keys and arrive out of order.
Values are rounded to 4 decimals so that the rollups' DECIMAL sums are
exact and only the raw path's float summation order differs.
"""

from __future__ import annotations

import itertools

import numpy as np
import pandas as pd

NS = 1_000_000_000
MINUTE = 60 * NS
HOUR = 3_600 * NS
DAY = 86_400 * NS

#: 2016-08-01T00:00:00Z, the FIXTURES.md F1 start.
T0 = 1_470_009_600 * NS
#: Days of history in the warehouse; the ingest edge starts at its end.
DAYS = 7
T_END = T0 + DAYS * DAY

DENSE = ("idx_a", "idx_b")
SPARSE = ("sparse_1",)
SERIES = DENSE + SPARSE
DENSE_FIELDS = ("open", "high", "low", "close", "volume")
SPARSE_FIELDS = ("foo", "bar", "baz")
FIELDS = DENSE_FIELDS + SPARSE_FIELDS

#: Dense grid step and mean sparse gap.
DENSE_STEP_S = 30
SPARSE_GAP_S = 30.0

#: Ingest cycles: each moves "now" forward by this much and writes the
#: new span on a 3 s grid per dense series plus Poisson sparse points.
CYCLE_SPAN = 10 * MINUTE
EDGE_STEP_S = 3
#: Shares of an ingest batch that arrive late (new keys up to 6 hours
#: behind the edge) or upsert existing keys.
LATE_SHARE = 0.10
UPSERT_CYCLE_SHARE = 0.10


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _dense_rows(rng: np.random.Generator, series: str, ts: np.ndarray) -> pd.DataFrame:
    n = len(ts)
    opens = 10.0 + np.cumsum(rng.uniform(-0.05, 0.05, n + 1))
    open_, close = opens[:-1], opens[1:]
    high = np.maximum(open_, close) + rng.uniform(0, 0.02, n)
    low = np.minimum(open_, close) - rng.uniform(0, 0.02, n)
    return pd.DataFrame(
        {
            "series": series,
            "ts": ts,
            "open": open_,
            "high": high,
            "low": low,
            "close": close,
            "volume": np.round(rng.uniform(0, 1000, n)),
        }
    )


def _sparse_values(rng: np.random.Generator, n: int) -> dict[str, np.ndarray]:
    present = rng.random((n, 3)) < np.array([0.7, 0.4, 0.1])
    present[~present.any(axis=1), 0] = True
    values = {
        "foo": rng.normal(1.1, 0.3, n),
        "bar": rng.normal(1.2, 0.5, n),
        "baz": rng.uniform(0, 100, n),
    }
    return {f: np.where(present[:, i], values[f], np.nan) for i, f in enumerate(SPARSE_FIELDS)}


def _sparse_ts(rng: np.random.Generator, lo: int, hi: int, gap_s: float) -> np.ndarray:
    n = int((hi - lo) / (gap_s * NS) * 1.2) + 16
    offs = np.cumsum(rng.exponential(gap_s, n))
    secs = np.floor(offs)
    sub = np.where(rng.random(n) < 0.2, rng.integers(1, 1_000_000, n) * 1_000, 0)
    ts = lo + secs.astype(np.int64) * NS + sub.astype(np.int64)
    return np.unique(ts[ts < hi])


def _sparse_rows(rng: np.random.Generator, series: str, ts: np.ndarray) -> pd.DataFrame:
    return pd.DataFrame({"series": series, "ts": ts, **_sparse_values(rng, len(ts))})


def _finish(frames: list[pd.DataFrame]) -> pd.DataFrame:
    df = pd.concat(frames, ignore_index=True)
    for f in FIELDS:
        if f not in df:
            df[f] = np.nan
        df[f] = df[f].astype("float64").round(4)
    return df[["series", "ts", *FIELDS]].sort_values(["series", "ts"], ignore_index=True)


def base_points(seed: int) -> pd.DataFrame:
    """The warehouse's history: ``DAYS`` days of F1 + F2 points, one row
    per point with NaN for absent fields."""
    frames = []
    for i, s in enumerate(DENSE):
        rng = _rng(seed, 1, i)
        ts = T0 + np.arange(0, DAYS * 86_400, DENSE_STEP_S, dtype=np.int64) * NS
        frames.append(_dense_rows(rng, s, ts[rng.random(len(ts)) >= 0.05]))
    for i, s in enumerate(SPARSE):
        rng = _rng(seed, 2, i)
        frames.append(_sparse_rows(rng, s, _sparse_ts(rng, T0, T_END, SPARSE_GAP_S)))
    return _finish(frames)


def _rewrite(rng: np.random.Generator, keys: pd.DataFrame) -> pd.DataFrame:
    """New whole-map values for existing keys (an upsert replaces the map)."""
    frames = []
    for s, grp in keys.groupby("series", sort=True):
        ts = np.sort(grp["ts"].to_numpy())
        if s in DENSE:
            rows = _dense_rows(rng, s, ts)
            rows["close"] = rows["close"] + 1000.0  # make rewritten values visible
            frames.append(rows)
        else:
            frames.append(_sparse_rows(rng, s, ts))
    return _finish(frames)


def cycle_batch(seed: int, cycle: int, base: pd.DataFrame) -> pd.DataFrame:
    """Points of one ingest cycle: new points at the moving edge, late
    points behind it, and upserts of existing base keys."""
    rng = _rng(seed, 4, cycle)
    lo = T_END + cycle * CYCLE_SPAN
    hi = lo + CYCLE_SPAN
    frames = []
    for s in DENSE:
        ts = np.arange(lo, hi, EDGE_STEP_S * NS, dtype=np.int64)
        frames.append(_dense_rows(rng, s, ts))
    for s in SPARSE:
        frames.append(_sparse_rows(rng, s, _sparse_ts(rng, lo, hi, EDGE_STEP_S * 3.0)))
    edge = _finish(frames)
    n_late = int(len(edge) * LATE_SHARE)
    # late keys sit off the 3 s and 30 s grids (odd second + 1 ms), so
    # they are new points, not upserts
    late_ts = lo - rng.integers(1, 6 * 3_600 // 2, n_late) * 2 * NS + NS + 1_000_000
    late_series = rng.choice(np.array(SERIES), n_late)
    late = _rewrite(rng, pd.DataFrame({"series": late_series, "ts": late_ts}).drop_duplicates())
    recent = base[base["ts"] >= T_END - 2 * DAY]
    n_up = int(len(edge) * UPSERT_CYCLE_SHARE)
    ups = _rewrite(rng, recent.iloc[rng.choice(len(recent), n_up, replace=False)][["series", "ts"]])
    return pd.concat([edge, late, ups], ignore_index=True)


def to_docs(seed: int, cycle: int, batch: pd.DataFrame) -> list[dict]:
    """JSON documents in the reference's POST shape, shuffled so the batch
    arrives out of order."""
    order = _rng(seed, 5, cycle).permutation(len(batch))
    vals = batch[list(FIELDS)].to_numpy()
    series = batch["series"].to_numpy()
    ts = batch["ts"].to_numpy()
    docs = []
    for i in order:
        value = {f: float(v) for f, v in zip(FIELDS, vals[i]) if not np.isnan(v)}
        docs.append({"time": int(ts[i]), "index": str(series[i]), "value": value})
    return docs


def cycle_delete(seed: int, cycle: int) -> tuple[str, int, int]:
    """The series-hour a cycle deletes, inside the base history."""
    rng = _rng(seed, 6, cycle)
    series = str(rng.choice(np.array(SERIES)))
    start = T0 + int(rng.integers(0, (DAYS - 2) * 24)) * HOUR
    return series, start, start + HOUR


# -- query streams --------------------------------------------------------

_DENSE_BUNDLES = (
    {"open": "first", "high": "max", "low": "min", "close": "last"},
    {"open": "first", "high": "max", "low": "min", "close": "last", "volume": "sum"},
    {"close": ["last", "avg"], "volume": ["sum", "count"]},
    {"volume": ["sum", "count", "avg"]},
    {"high": "max", "low": "min"},
)
#: Every routed query that reads the sparse series names all three sparse
#: fields, and every one that reads a dense series names a dense field, so
#: each non-empty bucket holds a queried field. Routed answers omit buckets
#: that hold none of the queried fields, where the raw path returns them
#: with NULL reducers (see known_defects.py); the answer model keeps the
#: raw path's semantics.
_SPARSE_BUNDLES = (
    {"foo": ["avg", "count"], "bar": "count", "baz": "count"},
    {"foo": "sum", "bar": ["min", "max"], "baz": "count"},
    {"foo": "count", "bar": ["first", "last"], "baz": "count"},
    {"foo": "avg", "bar": "avg", "baz": ["sum", "max"]},
)
_SPARSE_COUNTS = {f: "count" for f in SPARSE_FIELDS}
_MIXED_BUNDLES = (
    {"close": "last", **_SPARSE_COUNTS, "foo": "avg"},
    {"volume": "sum", **_SPARSE_COUNTS},
)

#: Routable groups and their window lengths in days, bounded so result
#: sizes stay small. With day-aligned bounds N-minute groups route to the
#: minute level, hour groups to hour, and day/week/month to day;
#: ``calendar_month`` is a month query with month-aligned bounds, which
#: uses the month level.
_ROUTED_WINDOW_DAYS = {
    "5minutes": (1, 3),
    "15minutes": (1, 5),
    "hour": (1, 10),
    "2hours": (1, 20),
    "day": (3, 30),
    "week": (7, 30),
    "month": (7, 30),
    "calendar_month": (31, 31),
}
#: Which series a query reads: one dense series, the sparse one, the
#: dense pair, or all series.
_SERIES_KINDS = ("dense", "sparse", "pair", "all")
#: A fixed rotation through every (series kind, group) pair, ordered so
#: that any stretch of it mixes kinds and groups evenly. Every run then
#: issues the same mix of query shapes; the seed picks the series, the
#: fields, the window and its start within each shape.
SHAPES = tuple(
    (_SERIES_KINDS[i % 4], list(_ROUTED_WINDOW_DAYS)[(i + i // 8) % 8]) for i in range(32)
)


def _series_and_fields(rng: np.random.Generator, kind: str):
    if kind == "dense":
        return str(rng.choice(np.array(DENSE))), _DENSE_BUNDLES[rng.integers(len(_DENSE_BUNDLES))]
    if kind == "sparse":
        return SPARSE[0], _SPARSE_BUNDLES[rng.integers(len(_SPARSE_BUNDLES))]
    if kind == "pair":
        return list(DENSE), _DENSE_BUNDLES[rng.integers(len(_DENSE_BUNDLES))]
    return None, _MIXED_BUNDLES[rng.integers(len(_MIXED_BUNDLES))]


def _spec(index, frm: int, to: int, group: str, fields: dict) -> dict:
    return {"index": index, "from": int(frm), "to": int(to), "group": group, "fields": fields}


def dashboard_query(rng: np.random.Generator, shape: tuple[str, str]) -> dict:
    """One rollup-routable query of the given shape: day-aligned (or
    month-aligned) bounds, a 1-31 day window and a group some rollup
    level divides."""
    kind, group = shape
    index, fields = _series_and_fields(rng, kind)
    if group == "calendar_month":
        return _spec(index, T0, T0 + 31 * DAY, "month", fields)
    lo, hi = _ROUTED_WINDOW_DAYS[group]
    days = int(rng.integers(lo, hi + 1))
    start = T0 + int(rng.integers(0, DAYS)) * DAY
    return _spec(index, start, start + days * DAY, group, fields)


def dashboard_stream(seed: int, client: int):
    """Endless, seeded stream of ``("agg_query", spec)`` operations that
    walks ``SHAPES``; the two clients start half a rotation apart."""
    rng = _rng(seed, 10, client)
    for i in itertools.count(client * len(SHAPES) // 2):
        yield "agg_query", dashboard_query(rng, SHAPES[i % len(SHAPES)])


def _base_key(rng: np.random.Generator, base: pd.DataFrame) -> tuple[str, int]:
    row = base.iloc[int(rng.integers(len(base)))]
    return str(row["series"]), int(row["ts"])


def raw_stream(seed: int, base: pd.DataFrame):
    """Endless, seeded stream of ad-hoc raw-path reads on single series, in
    a fixed rotation: point get, hourly buckets over 3 days with unaligned
    bounds, a 2-hour raw range scan, hourly buckets over 3 days with a
    trailing ``ma:<k>``. One get in ten asks for an absent key. No rollup
    can answer any of them."""
    rng = _rng(seed, 20)
    for i in itertools.count():
        step = i % 4
        series = str(rng.choice(np.array(SERIES)))
        f = ("foo", "bar") if series in SPARSE else ("close", "volume")
        if step == 0:
            series, ts = _base_key(rng, base)
            if rng.random() < 0.10:
                ts += 7 * NS + 1_000  # off both grids: a miss
            yield "point_get", {"index": series, "time": ts}
        elif step == 1:
            start = T0 + int(rng.integers(0, (DAYS - 3) * 1_440)) * MINUTE + int(rng.integers(1, 60)) * NS
            fields = {f[0]: ["first", "last", "min", "max"], f[1]: ["sum", "count", "avg"]}
            yield "raw_agg_query", _spec(series, start, start + 3 * DAY, "hour", fields)
        elif step == 2:
            start = T0 + int(rng.integers(0, DAYS * 86_400 - 2 * 3_600)) * NS
            yield "range_scan", _spec(series, start, start + 2 * HOUR, "minute", {})
        else:
            start = T0 + int(rng.integers(0, DAYS - 3)) * DAY
            field = f[rng.integers(2)]
            yield "raw_agg_query", _spec(series, start, start + 3 * DAY, "hour", {field: f"ma:{int(rng.integers(2, 7))}"})


def cycle_panels(cycle: int) -> list[dict]:
    """The six routed queries a live dashboard reloads after an ingest
    cycle: the touched day by hour (the freshness check), by 15 minutes,
    by 5 minutes for the dense pair and by hour for the sparse series, and
    the week ending with the touched day by day, for the sparse series and
    for all series."""
    day = T_END + cycle * CYCLE_SPAN
    day -= (day - T0) % DAY
    week = day - 6 * DAY
    return [
        _spec(None, day, day + DAY, "hour", {"close": "last", "volume": "sum", **_SPARSE_COUNTS}),
        _spec(None, day, day + DAY, "15minutes", {**_DENSE_BUNDLES[0], **_SPARSE_COUNTS, "foo": "avg"}),
        _spec(list(DENSE), day, day + DAY, "5minutes", _DENSE_BUNDLES[1]),
        _spec(SPARSE[0], day, day + DAY, "hour", _SPARSE_BUNDLES[0]),
        _spec(SPARSE[0], week, day + DAY, "day", _SPARSE_BUNDLES[1]),
        _spec(None, week, day + DAY, "day", {"close": ["first", "last"], "volume": "sum", **_SPARSE_COUNTS}),
    ]
