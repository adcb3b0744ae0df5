"""Seeded ``events`` stream and the pandas reference of a collection.

The generator follows the sf0.1 ``events`` test table (100 k rows over
30 days; its measured per-day figures are in ``README.md``): rows fall
uniformly over the 30 days (about 3.3 k a day), ``event_id`` counts up
in ``ts`` order, ``user_id`` is uniform over 1500 users, the five
``event_type`` values are equally likely, ``value`` is exponential with
mean 50 rounded to cents, and ``props`` is ``{"k": n}`` with ``n``
uniform in 0-99.  Days are made one at a time, so a cycle can append
them as a stream would.  Every array comes from a numpy generator keyed
by ``(seed, day, purpose)``: the same seed gives the same rows, and the
parquet bytes written for a day are identical."""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from .helpers import row_crc

START = dt.datetime(2024, 1, 1)
#: rows of the sf0.1 table and the days they fall on
TABLE_ROWS, TABLE_DAYS = 100_000, 30
EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
USERS = 1500
VALUE_MEAN = 50.0
#: share of yesterday's rows an upsert corrects
CORRECTION_SHARE = 0.10
#: ``where`` threshold of the range read, near the lower quartile of
#: the daily ``value`` maxima: on the sf0.1 table the zone map keeps 22
#: of the 30 days, on generated days about two in three
RANGE_WHERE_VALUE = 400.0
COLUMNS = ["event_id", "ts", "user_id", "event_type", "value", "props"]
PROJECTED = ["ts", "user_id", "value"]

SCHEMA = pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                    ("user_id", pa.int64()), ("event_type", pa.string()),
                    ("value", pa.float64()), ("props", pa.string())])


def _rng(seed: int, day: int, purpose: int) -> np.random.Generator:
    return np.random.default_rng([seed, day, purpose])


def day_date(day: int) -> dt.date:
    return (START + dt.timedelta(days=day)).date()


def day_rows(seed: int, day: int) -> int:
    """Rows of day ``day``: the day's share of the table's rows."""
    return int(_rng(seed, day, 2).binomial(TABLE_ROWS, 1 / TABLE_DAYS))


def make_day(seed: int, day: int) -> pd.DataFrame:
    """The events of day ``day`` (0-based), sorted by a unique ``ts``."""
    rng = _rng(seed, day, 0)
    n = day_rows(seed, day)
    micros_per_day = 86_400_000_000
    offsets = np.sort(rng.choice(micros_per_day, size=n, replace=False))
    base = (int((START - dt.datetime(1970, 1, 1)).total_seconds())
            * 1_000_000 + day * micros_per_day)
    first_id = sum(day_rows(seed, d) for d in range(day))
    return pd.DataFrame({
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": pd.to_datetime(base + offsets, unit="us"),
        "user_id": rng.integers(0, USERS, size=n, dtype=np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES),
                                               size=n)],
        "value": np.round(rng.exponential(VALUE_MEAN, size=n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)],
    })


def make_correction(seed: int, day: int, rows: pd.DataFrame) -> pd.DataFrame:
    """A correction of about 10% of ``rows`` (day ``day``): same keys
    (``ts``) and ids, new ``value`` and ``props`` of the same shape."""
    rng = _rng(seed, day, 1)
    n = max(1, int(len(rows) * CORRECTION_SHARE))
    pick = np.sort(rng.choice(len(rows), size=n, replace=False))
    fixed = rows.iloc[pick][COLUMNS].reset_index(drop=True).copy()
    fixed["value"] = np.round(
        fixed["value"].to_numpy() * rng.uniform(0.5, 1.5, size=n), 2)
    fixed["props"] = [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]
    return fixed


def write_parquet(df: pd.DataFrame, path: Path) -> int:
    """Write ``df`` as one parquet file; returns its size in bytes."""
    table = pa.Table.from_pandas(df[COLUMNS], schema=SCHEMA,
                                 preserve_index=False)
    table = table.replace_schema_metadata()
    pq.write_table(table, path, compression="zstd")
    return path.stat().st_size


def bump_value(pdf: pd.DataFrame) -> pd.DataFrame:
    """The weekly ``update`` fn: every value of the past week rises by 1."""
    pdf = pdf.copy()
    pdf["value"] = pdf["value"] + 1.0
    return pdf[COLUMNS]


def days_filter(days) -> str:
    """Partition filter matching exactly the given day indices."""
    by_month: dict = {}
    for d in sorted(days):
        date = day_date(d)
        by_month.setdefault((date.year, date.month), []).append(date.day)
    clauses = [f"(year == {y} and month == {m} and day in "
               f"({', '.join(map(str, ds))},))"
               for (y, m), ds in sorted(by_month.items())]
    return " or ".join(clauses)


def relpath(day: int) -> str:
    date = day_date(day)
    return f"year={date.year}/month={date.month}/day={date.day}"


def _crcs(df: pd.DataFrame) -> "tuple[np.ndarray, np.ndarray]":
    micros = df["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
    cents = np.rint(df["value"].to_numpy() * 100).astype(np.int64)
    full = [row_crc(*r) for r in zip(df["event_id"], micros, df["user_id"],
                                     df["event_type"], cents, df["props"])]
    proj = [row_crc(*r) for r in zip(micros, df["user_id"], cents)]
    return np.array(full, dtype=np.int64), np.array(proj, dtype=np.int64)


class Reference:
    """Expected collection content, one pandas frame per live day, with
    the per-row digest terms kept beside the rows."""

    def __init__(self):
        self.days: dict[int, pd.DataFrame] = {}

    def _store(self, day: int, df: pd.DataFrame) -> None:
        df = df[COLUMNS].reset_index(drop=True)
        df["crc"], df["crc_proj"] = _crcs(df)
        self.days[day] = df

    def insert(self, day: int, rows: pd.DataFrame) -> None:
        self._store(day, rows)

    def upsert(self, day: int, fixed: pd.DataFrame) -> int:
        """Apply a correction keyed on (day, ts); returns the rows of
        the rewritten partition."""
        cur = self.days[day]
        kept = cur[~cur["ts"].isin(fixed["ts"])]
        self._store(day, pd.concat([kept[COLUMNS], fixed[COLUMNS]])
                    .sort_values("ts"))
        return len(self.days[day])

    def update(self, days, fn) -> int:
        rows = 0
        for d in days:
            self._store(d, fn(self.days[d]))
            rows += len(self.days[d])
        return rows

    def drop(self, days) -> None:
        for d in days:
            del self.days[d]

    def live(self) -> list[int]:
        return sorted(self.days)

    def digest(self, days, *, where: "float | None" = None,
               projected: bool = False) -> "tuple[int, int]":
        """``(rows, sum of row CRCs)`` of the given days, optionally
        restricted to ``value > where`` and projected."""
        count = total = 0
        for d in days:
            df = self.days.get(d)
            if df is None:
                continue
            if where is not None:
                df = df[df["value"] > where]
            count += len(df)
            total += int(df["crc_proj" if projected else "crc"].sum())
        return count, total

    def days_matching(self, days, where: float) -> int:
        """How many of ``days`` hold at least one row with value > where."""
        return sum(1 for d in days if d in self.days
                   and bool((self.days[d]["value"] > where).any()))
