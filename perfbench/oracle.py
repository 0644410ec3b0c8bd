"""Independent in-memory model of the generated warehouse.

The truth is the generated points with last-write-wins upserts and range
deletes applied, kept in pandas. Answers are computed from it with the
engine's documented semantics and never from the engine's files:

- ``[from, to)`` bounds, UTC calendar buckets (weeks start on Monday),
  N-unit fixed-width buckets anchored at ``from``;
- one row per non-empty (series, bucket), even when the queried fields
  are absent from every point in it (their reducers are then NULL and
  ``count`` is 0), which is what the raw path and the repo's own
  property-test oracle produce;
- ``first``/``last`` take the earliest/latest point where the field is
  present; ``ma:<k>`` is the trailing mean of the last k bucket averages.
"""

from __future__ import annotations

import math
import re

import numpy as np
import pandas as pd

from gen import DAY, FIELDS

_UNIT_NS = {
    "second": 1_000_000_000,
    "minute": 60_000_000_000,
    "hour": 3_600_000_000_000,
    "day": DAY,
    "week": 7 * DAY,
}
_GROUP_RE = re.compile(r"^(\d*)\s*(second|minute|hour|day|week|month|year)s?$")


def _bucket(ts: np.ndarray, group: str, anchor: int) -> np.ndarray:
    m = _GROUP_RE.match(group)
    count, unit = int(m.group(1) or 1), m.group(2)
    if count > 1:
        width = count * _UNIT_NS[unit]
        return ts - (ts - anchor) % width
    if unit == "week":
        days = ts // DAY
        return (days - (days + 3) % 7) * DAY  # 1970-01-01 was a Thursday
    if unit in _UNIT_NS:
        return ts - ts % _UNIT_NS[unit]
    code = {"month": "M", "year": "Y"}[unit]
    return ts.astype("datetime64[ns]").astype(f"datetime64[{code}]").astype("datetime64[ns]").astype(np.int64)


class Truth:
    """The live points per series, indexed by ts, NaN for absent fields."""

    def __init__(self, points: pd.DataFrame):
        self._series: dict[str, pd.DataFrame] = {}
        self.upsert(points)

    def upsert(self, batch: pd.DataFrame) -> None:
        """Apply a batch in arrival order: per key the last row wins and
        replaces the whole value map."""
        batch = batch.drop_duplicates(["series", "ts"], keep="last")
        for s, grp in batch.groupby("series", sort=False):
            new = grp.set_index("ts")[list(FIELDS)]
            cur = self._series.get(s)
            if cur is not None:
                new = pd.concat([cur[~cur.index.isin(new.index)], new])
            self._series[s] = new.sort_index()

    def delete(self, series: str, frm: int, to: int) -> None:
        cur = self._series.get(series)
        if cur is not None:
            self._series[series] = cur[(cur.index < frm) | (cur.index >= to)]

    def live_points(self) -> int:
        return sum(len(df) for df in self._series.values())

    def get(self, series: str, ts: int) -> dict | None:
        cur = self._series.get(series)
        if cur is None or ts not in cur.index:
            return None
        row = cur.loc[ts]
        return {f: float(v) for f, v in row.items() if not math.isnan(v)}

    def _slice(self, index, frm: int, to: int) -> pd.DataFrame:
        if isinstance(index, str):
            names = [index]
        elif index is None:
            names = sorted(self._series)
        else:
            names = sorted(index)
        frames = []
        for s in names:
            cur = self._series.get(s)
            if cur is None:
                continue
            lo, hi = cur.index.searchsorted(frm), cur.index.searchsorted(to)
            frames.append(cur.iloc[lo:hi].reset_index().assign(series=s))
        if not frames:
            return pd.DataFrame(columns=["series", "ts", *FIELDS])
        return pd.concat(frames, ignore_index=True)

    def answer(self, spec: dict) -> list[tuple]:
        """Expected rows of a range scan or bucket query, in engine order."""
        multi = not isinstance(spec["index"], str)
        df = self._slice(spec["index"], spec["from"], spec["to"])
        lead = ["series"] if multi else []
        if not spec["fields"]:
            vals = df[list(FIELDS)].to_numpy()
            rows = []
            for i, (s, ts) in enumerate(zip(df["series"], df["ts"])):
                value = {f: float(v) for f, v in zip(FIELDS, vals[i]) if not math.isnan(v)}
                rows.append(((s,) if multi else ()) + (int(ts), value))
            return rows
        if df.empty:
            return []
        df = df.assign(bucket=_bucket(df["ts"].to_numpy(np.int64), spec["group"], spec["from"]))
        grouped = df.groupby(lead + ["bucket"], sort=True)
        cols = []
        for field, reducers in spec["fields"].items():
            for red in [reducers] if isinstance(reducers, str) else reducers:
                name, _, k = red.partition(":")
                g = grouped[field]
                if name == "sum":
                    col = g.sum(min_count=1)
                elif name == "count":
                    col = g.count()
                elif name in ("avg", "ma"):
                    col = g.mean()
                    if k and int(k) > 1:
                        roll = col.groupby(level="series") if multi else col
                        col = roll.rolling(int(k), min_periods=1).mean()
                        if multi:
                            col = col.droplevel(0)
                else:  # max, min, first, last skip absent values
                    col = getattr(g, name)()
                cols.append(col)
        out = pd.concat(cols, axis=1)
        rows = []
        for key, vals in zip(out.index, out.itertuples(index=False)):
            key = key if isinstance(key, tuple) else (key,)
            rows.append(tuple(k if isinstance(k, str) else int(k) for k in key) + tuple(vals))
        return rows


def same(a, b) -> bool:
    """Value equality with NULL == NaN and a relative float tolerance (the
    raw path sums doubles in partition order, the rollups in DECIMAL)."""
    a_null = a is None or (isinstance(a, float) and math.isnan(a))
    b_null = b is None or (isinstance(b, float) and math.isnan(b))
    if a_null or b_null:
        return a_null and b_null
    if isinstance(a, dict) or isinstance(b, dict):
        return (
            isinstance(a, dict)
            and isinstance(b, dict)
            and a.keys() == b.keys()
            and all(same(a[k], b[k]) for k in a)
        )
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def rows_match(got: list, expected: list[tuple]) -> bool:
    return len(got) == len(expected) and all(
        len(g) == len(e) and all(same(x, y) for x, y in zip(g, e))
        for g, e in zip(got, expected)
    )
