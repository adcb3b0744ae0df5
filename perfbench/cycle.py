"""The ``parquet_cycle`` and ``zarr_cycle`` workloads.

One client drives one collection in a closed loop: each operation is
sent after the previous one returned, and its output is checked against
the pandas :class:`~perfbench.events.Reference` outside the timed
region.  Each simulated day runs

- ``insert`` of the new day,
- ``upsert``: ``insert(merge="upsert")`` of a correction of about 10%
  of yesterday's rows, keyed on (day, ``ts``),
- ``point_read``: today's partition, every column, as a hash aggregate,
- ``range_read``: the last 7 days, projected to three columns, with a
  zone-map ``where`` on ``value``,
- ``time_travel``: ``at_generation`` read, as of the start of the day,
  of the days the day's writes did not touch,
- ``open``: a cold ``open_collection(...).partitions()``;

and every 7th day also ``update`` (``value + 1`` over the past week) and
a retention ``drop`` of the days older than ``RETAIN_DAYS``."""

from __future__ import annotations

import time
from pathlib import Path

from pyspark.sql import functions as F

from . import events as ev

#: days run before the measured ones, per layout: the first calls of a
#: session (Python workers, plan compilation, JIT) land in these
WARM_DAYS = {"parquet": 3, "zarr": 1}
#: the first measured day; a weekly day
FIRST_DAY = 6
#: days kept by the weekly retention drop
RETAIN_DAYS = 5
#: a run of ``--seconds`` makes ``seconds / NOMINAL_DAY_S`` days, so
#: every run of a workload makes the same operations: 6 parquet and 3
#: zarr days at 16 s.  On a 4-vCPU host (``local[4]``) a day takes
#: 1.3-4 s (parquet) and 3.7-8 s (zarr), depending on the host's load;
#: the figures keep a run within its time budget on a loaded host, and
#: keep zarr's tail sets under 11 samples, where the tail is the maximum
NOMINAL_DAY_S = {"parquet": 2.5, "zarr": 5.0}
#: ops that write rows and ops that read rows: the tail sets.  ``drop``
#: and ``open`` touch metadata only and take milliseconds; they are
#: timed and checked but kept out of the tails
WRITE_OPS = ("insert", "upsert", "update")
READ_OPS = ("point_read", "range_read", "time_travel")
META_OPS = ("drop", "open")


def loop_days(layout: str, seconds: float) -> int:
    return max(1, round(seconds / NOMINAL_DAY_S[layout]))


def _digest_text(column: str):
    """The text of ``column`` in a row's digest term: integers as
    decimals, ``ts`` as epoch microseconds, ``value`` as cents."""
    if column == "ts":
        return F.unix_micros("ts").cast("string")
    if column == "value":
        return F.round(F.col("value") * 100).cast("long").cast("string")
    return F.col(column).cast("string")


def digest_frame(df, columns):
    """The one-row ``(n, s)`` aggregate of ``df``: row count and sum of
    per-row CRC-32 over ``columns``, reading every named column of
    every row."""
    crc = F.crc32(F.concat_ws("|", *[_digest_text(c) for c in columns]))
    return df.agg(F.count(F.lit(1)).alias("n"), F.sum(crc).alias("s"))


class Inputs:
    """The generated day files and corrections of one seed."""

    def __init__(self, root: Path, seed: int, n_days: int):
        root.mkdir(parents=True, exist_ok=True)
        self.root = root
        self.days, self.fixes = {}, {}
        self.day_bytes: dict[int, int] = {}
        for d in range(n_days):
            rows = ev.make_day(seed, d)
            self.days[d] = rows
            self.day_bytes[d] = ev.write_parquet(rows, self.day_path(d))
            fixed = ev.make_correction(seed, d, rows)
            self.fixes[d] = fixed
            ev.write_parquet(fixed, self.fix_path(d))

    def day_path(self, d: int) -> Path:
        return self.root / f"day-{d:03d}.parquet"

    def fix_path(self, d: int) -> Path:
        return self.root / f"fix-{d:03d}.parquet"

    def preload_path(self, n: int) -> Path:
        """One parquet file holding days ``0..n-1``."""
        import pandas as pd
        path = self.root / f"preload-{n:03d}.parquet"
        if not path.exists():
            ev.write_parquet(pd.concat([self.days[d] for d in range(n)]),
                             path)
        return path


def create(spark, layout: str, path: str):
    """An empty ``events`` collection of ``layout``, partitioned by day,
    with zone-map statistics on ``value``."""
    import zcollection_spark as zc
    from zcollection_spark.schema import infer_schema
    schema = infer_schema(events_struct(), axis="ts")
    kwargs = dict(schema=schema, axis="ts",
                  partitioning=zc.Date(("ts",), resolution="D"),
                  stats_columns=["value"], overwrite=True)
    if layout == "parquet":
        return zc.create_collection(spark, path, **kwargs)
    from zcollection_spark.zarr3.collection import create_zarr_collection
    return create_zarr_collection(spark, path, **kwargs)


def open_cold(spark, layout: str, path: str):
    if layout == "parquet":
        import zcollection_spark as zc
        return zc.open_collection(spark, path)
    from zcollection_spark.zarr3.collection import open_zarr_collection
    return open_zarr_collection(spark, path)


def events_struct():
    from pyspark.sql import types as T
    return T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType())])


def tree_bytes(root: str) -> "tuple[int, int]":
    """``(files, bytes)`` under ``root``."""
    files = size = 0
    for p in Path(root).rglob("*"):
        if p.is_file():
            files += 1
            size += p.stat().st_size
    return files, size


class Cycle:
    """One collection, its reference, and the day script against it."""

    def __init__(self, spark, layout: str, path: str, inputs: Inputs,
                 tracer, ledger):
        self.spark, self.layout, self.path = spark, layout, path
        self.inputs, self.tracer, self.ledger = inputs, tracer, ledger
        self.ref = ev.Reference()
        self.coll = create(spark, layout, path)
        self.rows_written = self.rows_read = 0
        self.rewrite_amplification: list[float] = []

    def _check(self, op: str, got, expected) -> None:
        self.ledger.record(op, got, expected)

    def _run(self, op: str, fn):
        """Time ``fn`` as one operation; an exception is a failed op."""
        try:
            with self.tracer.op(op):
                return fn(), None
        except Exception as exc:  # an op failure is counted, not fatal
            self.ledger.record(op, error=exc)
            return None, exc

    def preload(self, n_days: int) -> None:
        self.coll.insert(self.spark.read.parquet(
            str(self.inputs.preload_path(n_days))))
        for d in range(n_days):
            self.ref.insert(d, self.inputs.days[d])

    def day(self, d: int, weekly: bool = False) -> None:
        """The day script for day ``d``; weekly ops on every 7th day
        (and when ``weekly``)."""
        gen0 = self.coll.generation()
        self.insert(d)
        self.upsert(d)
        self.point_read(d)
        self.range_read(d)
        self.time_travel(d, gen0)
        self.open()
        if weekly or (d + 1) % 7 == 0:
            self.update(d)
            self.drop(d)

    def insert(self, d: int) -> None:
        source = self.spark.read.parquet(str(self.inputs.day_path(d)))
        got, err = self._run("insert", lambda: self.coll.insert(source))
        self.ref.insert(d, self.inputs.days[d])
        self.rows_written += len(self.inputs.days[d])
        if err is None:
            self._check("insert", got, [ev.relpath(d)])

    def upsert(self, d: int) -> None:
        """Correct about 10% of day ``d - 1``."""
        fixed = self.inputs.fixes[d - 1]
        source = self.spark.read.parquet(str(self.inputs.fix_path(d - 1)))
        got, err = self._run("upsert", lambda: self.coll.insert(
            source, merge="upsert"))
        rewritten = self.ref.upsert(d - 1, fixed)
        self.rows_written += len(fixed)
        self.rewrite_amplification.append(rewritten / len(fixed))
        if err is None:
            self._check("upsert", got, [ev.relpath(d - 1)])

    def point_read(self, d: int) -> None:
        self._read("point_read", lambda: self._digest(
            self.coll.query(filters=ev.days_filter([d])), ev.COLUMNS),
            self.ref.digest([d]))

    def range_read(self, d: int) -> None:
        window = [x for x in self.ref.live() if d - 6 <= x <= d]
        where = f"value > {ev.RANGE_WHERE_VALUE}"
        useful = self.ref.days_matching(window, ev.RANGE_WHERE_VALUE)

        def read():
            self.tracer.count("zonemap.useful", useful)
            return self._digest(self.coll.query(
                filters=ev.days_filter(window), variables=ev.PROJECTED,
                where=where), ev.PROJECTED)

        self._read("range_read", read,
            self.ref.digest(window, where=ev.RANGE_WHERE_VALUE,
                            projected=True))

    def time_travel(self, d: int, gen0: int) -> None:
        """Read, as of generation ``gen0`` (the start of the day), the
        days that day's writes left untouched."""
        days = [x for x in self.ref.live() if d - 7 <= x <= d - 2]
        if days:
            self._read("time_travel", lambda: self._digest(
                self.coll.query(filters=ev.days_filter(days),
                                at_generation=gen0), ev.COLUMNS),
                self.ref.digest(days))

    def open(self) -> None:
        got, err = self._run("open", lambda: open_cold(
            self.spark, self.layout, self.path).partitions())
        if err is None:
            self._check("open", got,
                        [ev.relpath(x) for x in self.ref.live()])

    def update(self, d: int) -> None:
        """``value + 1`` over the past week."""
        week = [x for x in self.ref.live() if x > d - 7]
        got, err = self._run("update", lambda: self.coll.update(
            ev.bump_value, filters=ev.days_filter(week)))
        self.rows_written += self.ref.update(week, ev.bump_value)
        if err is None:
            self._check("update", got, [ev.relpath(x) for x in week])

    def drop(self, d: int) -> None:
        """Retention: drop the days older than ``RETAIN_DAYS``."""
        old = [x for x in self.ref.live() if x <= d - RETAIN_DAYS]
        if not old:
            return
        got, err = self._run("drop", lambda: self.coll.drop_partitions(
            filters=ev.days_filter(old)))
        self.ref.drop(old)
        if err is None:
            self._check("drop", sorted(got),
                        sorted(ev.relpath(x) for x in old))

    def _digest(self, df, columns) -> "tuple[int, int]":
        """Materialize a read as its digest.  While tracing, Spark's
        driver-side analysis and planning of the action is the
        ``spark.plan`` span; the action reuses the plan it made."""
        if df is None:
            return 0, 0
        with self.tracer.span("spark.plan") as span:
            frame = digest_frame(df, columns)
            if span is not None:
                frame._jdf.queryExecution().executedPlan()
        row = frame.collect()[0]
        return int(row["n"]), int(row["s"] or 0)

    def _read(self, op: str, fn, expected) -> None:
        got, err = self._run(op, fn)
        if err is None:
            self.rows_read += got[0]
            self._check(op, got, expected)

    def stored_bytes_ratio(self) -> float:
        """Bytes under the collection root over the source parquet bytes
        of the live days."""
        _, stored = tree_bytes(self.path)
        source = sum(self.inputs.day_bytes[d] for d in self.ref.live())
        return stored / source


def warm_up(cycle: Cycle, tracer) -> None:
    """Preload, then the warm days of the layout with their operations
    timed by a throwaway ``tracer``; the first warm day also runs the
    weekly ops.  Leaves the cycle at ``FIRST_DAY`` with fresh counters."""
    measured = cycle.tracer
    cycle.tracer = tracer
    first = FIRST_DAY - WARM_DAYS[cycle.layout]
    cycle.preload(first)
    for d in range(first, FIRST_DAY):
        cycle.day(d, weekly=d == first)
    cycle.tracer = measured
    cycle.rows_written = cycle.rows_read = 0
    cycle.rewrite_amplification.clear()


def run_loop(cycle: Cycle, days: int) -> dict:
    """``days`` measured days from ``FIRST_DAY``, a weekly day, so every
    run updates and drops; the stored-bytes ratio is read right after
    that first retention drop, at the same collection state in every
    run of a seed."""
    start = time.perf_counter()
    ratio = None
    for n in range(days):
        # a traced run traces every other day; the untraced days give
        # the tracing overhead
        cycle.tracer.tracing = cycle.tracer.traced and n % 2 == 0
        cycle.day(FIRST_DAY + n)
        if ratio is None:
            ratio = cycle.stored_bytes_ratio()
    cycle.tracer.tracing = False
    return {"loop_days": days, "loop_wall_s": time.perf_counter() - start,
            "stored_bytes_ratio": ratio}
