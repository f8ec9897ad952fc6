"""The flagship query: average speed per day-of-week, reference-faithful.

The reference (``Sample.cs``) computes, per weekday, the **unweighted
average of per-file averages**, where a file with no qualifying trips
on a weekday still contributes ``0.0`` to that day's numerator and
counts in the denominator (``Sample.cs:196-199, 226-233``).  That is NOT
the global average speed; both variants are exposed and a differential
test asserts they differ where they must.

Physical shape (the plan Catalyst builds, verified via ``.explain``):

    one scan (pruned to 3-4 cols)
      → narrow project (whole-stage codegen, one fused loop — the moral
        equivalent of the reference's single mapper pass,
        ``Sample.cs:148-193``); a row failing F2/F3 keeps its ``file``
        key with a NULL ``dow``, and the listing universe is unioned in
        as key-only rows, so no second scan builds the denominator
      → partial HashAggregate on ``file``: seven conditional decimal
        (sum, count) pairs, one per weekday  [map-side combiner ≙ A1]
      → shuffle on ``file``                   [the only wide exchange ≙ X2]
      → final HashAggregate                   [≙ A2]
      → one global aggregate: per weekday, the decimal sum of per-file
        averages (an empty weekday is 0.0) over the file count  [≙ A3]
      → explode into 7 ``(dow, avg_speed)`` rows

At 100 TB the only large shuffle is the partial→final agg, and the
combiner reduces it to |files| rows.  No join, no scaffold, no
collect() anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.taxi import dotnet_dayofweek, finite, trip_speed_mph

#: decimal scale for the speed sums — speeds are ratios, 9 fractional
#: digits keeps the per-row cast deterministic and far below boundary
#: ambiguity while the exact decimal sum stays order-independent.
SPEED_DECIMAL = "decimal(38,9)"


#: .NET day-of-week numbering, Sunday=0 (``Sample.cs:189``)
_DAYS = range(7)

# Per file: one (decimal sum, count) pair per weekday.  A row whose
# ``dow`` is NULL counts in no pair but still makes its file a group: that
# is how a listed file with no qualifying rows enters the denominator.
# SQL strings, not Column builders: each expression parses in one py4j
# call, where building the same Columns takes ~200 round trips.
_PER_FILE_AGGS = [
    f"SUM(CASE WHEN dow = {d} THEN CAST(speed AS {SPEED_DECIMAL}) END) AS s{d}" for d in _DAYS
] + [f"COUNT(CASE WHEN dow = {d} THEN 1 END) AS c{d}" for d in _DAYS]

# Across files: per weekday, the decimal sum of per-file averages, an
# empty weekday contributing 0.0 (Sample.cs:196-199), and the file count.
_TOTAL_AGGS = [
    f"SUM(CAST(COALESCE(try_divide(CAST(s{d} AS double), c{d}), 0.0) AS {SPEED_DECIMAL})) AS t{d}"
    for d in _DAYS
] + ["COUNT(1) AS n"]

_BY_DOW = (
    f"stack({len(_DAYS)}, "
    + ", ".join(f"{d}, CAST(t{d} AS double) / n" for d in _DAYS)
    + ") AS (dow, avg_speed)"
)


def _key_only(files: DataFrame) -> DataFrame:
    """Listing rows (``Sample.cs:119``) that count in no (sum, count) pair,
    in the ``(file, dow, speed)`` column order a positional union needs."""
    return files.selectExpr("file", "NULL AS dow", "NULL AS speed")


def _avg_per_dow(keyed: DataFrame) -> DataFrame:
    """Average of per-file averages from ``(file, dow, speed)`` rows, where
    a NULL ``dow`` only marks its file as listed.  Zero files give zero
    rows."""
    per_file = keyed.groupBy("file").agg(*[F.expr(e) for e in _PER_FILE_AGGS])
    # Final fan-in (≙ the reducer, Sample.cs:208-240) — deterministic,
    # unlike the reference's racy Parallel.For (Sample.cs:218-224).
    totals = per_file.agg(*[F.expr(e) for e in _TOTAL_AGGS])
    # one global row, stacked in dow order: the result needs no sort
    return totals.where("n > 0").selectExpr(_BY_DOW)


def avg_of_file_averages(records: DataFrame, files: DataFrame, value_col: str = "speed") -> DataFrame:
    """Core two-level aggregation with zero-fill densification.

    records: columns ``file``, ``dow`` (0..6), ``<value_col>`` — already
        validity-filtered.
    files: one column ``file`` — the *listing universe* (``Sample.cs:119``):
        every listed file counts in the denominator even if it
        contributes no qualifying rows.
    Returns: ``(dow int, avg_speed double)`` ordered by dow.
    """
    keyed = records.select("file", "dow", F.col(value_col).alias("speed"))
    return _avg_per_dow(keyed.union(_key_only(files)))


def global_avg_by_dow(records: DataFrame, value_col: str = "speed") -> DataFrame:
    """Idiomatic variant: plain global average per weekday (one shuffle,
    7 groups) — the answer most users actually want."""
    return (
        records.groupBy("dow")
        .agg(
            (
                F.sum(F.col(value_col).cast(SPEED_DECIMAL)).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_speed")
        )
        .orderBy("dow")
    )


def _trip_columns() -> tuple[Column, Column, Column]:
    """E2 (.NET day-of-week), E1 (speed) and the F2/F3 keep-predicate
    (distance > 0, finite speed) over a trips frame from ``sources.trips``."""
    speed = trip_speed_mph("trip_distance", "tpep_pickup_datetime", "tpep_dropoff_datetime")
    keep = (F.col("trip_distance") > 0) & finite(speed)
    return dotnet_dayofweek("tpep_pickup_datetime"), speed, keep


def trips_records(trips: DataFrame) -> DataFrame:
    """Project/filter a trips DataFrame into the (file, dow, speed) shape
    of the rows that pass F2 and F3."""
    dow, speed, keep = _trip_columns()
    return trips.where(keep).select("file", dow.alias("dow"), speed.alias("speed"))


def flagship_trips(trips: DataFrame, files: DataFrame | None = None) -> DataFrame:
    """Reference query end-to-end on a trips source, in one scan of it.

    ``files`` is the S1 listing universe; pass
    ``sources.trips.list_csv_files`` so a file with no line that passes
    the F1 validity rule (header-only, 0-byte) still contributes its 7
    zero buckets to the denominator (``Sample.cs:119,196-199``).  The
    default — files with at least one row in ``trips`` — drops such
    files, which only matches the reference when every file has >= 1
    valid row.  Rows failing F2/F3 keep their file in the universe
    either way."""
    dow, speed, keep = _trip_columns()
    keyed = trips.select("file", F.when(keep, dow).alias("dow"), speed.alias("speed"))
    if files is not None:
        keyed = keyed.union(_key_only(files))
    return _avg_per_dow(keyed)


def flagship_events(events: DataFrame) -> DataFrame:
    """Flagship plan on the synthetic ``events`` table (FIXTURES.md §2):
    ``event_type`` plays the per-file grouping role, ``value`` plays the
    speed measure (filtered >0 and finite), ``ts`` supplies the weekday."""
    records = (
        events.where((F.col("value") > 0) & finite(F.col("value")))
        .select(
            F.col("event_type").alias("file"),
            dotnet_dayofweek("ts").alias("dow"),
            F.col("value").alias("speed"),
        )
    )
    return avg_of_file_averages(records, events.select(F.col("event_type").alias("file")))


def flagship_events_global(events: DataFrame) -> DataFrame:
    records = (
        events.where((F.col("value") > 0) & finite(F.col("value")))
        .select(dotnet_dayofweek("ts").alias("dow"), F.col("value").alias("speed"))
    )
    return global_avg_by_dow(records)
