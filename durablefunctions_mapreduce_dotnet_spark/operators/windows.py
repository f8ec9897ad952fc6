"""Window-function operators: sessionization and friends.

Absent from the reference (SURVEY.md §2.2); built on Spark's native
window exec.  Every ordered window here uses a total order (ts +
unique id tie-break) so results are deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def global_distribution_rank(
    df: DataFrame,
    order_cols: list[str],
    ntile_k: int = 4,
) -> DataFrame:
    """Global row_number / ntile / percent_rank / cume_dist WITHOUT a
    single-partition window — the distributed form of ``OVER (ORDER BY
    …)`` distribution functions.

    Two-pass rank over DETERMINISTIC range buckets:

    1. Bucket boundaries come from ``approxQuantile`` on the leading
       order column (a mergeable GK sketch — one scan, driver gets P-1
       doubles).  ``_pid = #boundaries < value`` is then a PURE ROW
       FUNCTION: monotone in the total order, identical on every
       evaluation — so unlike ``repartitionByRange`` (sampled, per-job
       randomized boundaries) no materialization/checkpoint is needed to
       keep the two passes consistent, and nothing is pinned in executor
       memory.
    2. Pass one counts rows per bucket (combiner-reduced, tiny collect);
       pass two ranks within buckets (parallel windows keyed on _pid)
       and adds the broadcast cumulative offsets:
       ``global_rn = offset[pid] + local_rn``.

    Distribution functions follow arithmetically from ``global_rn`` and
    the total count — exact, because ``order_cols`` must be a total
    order (unique tie-break), which makes rank == row_number.  Skew
    bound: a bucket holds ~n/P rows plus all ties of its boundary value
    (same bound range-partitioning has).  NULLs in the lead column get
    their own bucket (-1), ranked first — Spark's ``asc_nulls_first``
    window order — instead of vanishing into a NULL ``_pid``.  Adds
    columns: _rn, quartile (ntile_k-tile), pct_rank, cume — no
    SinglePartition exchange anywhere (plan-asserted in
    tests/test_plans.py).

    The input (callers pass the already-projected frame) is pinned
    MEMORY_AND_DISK for the three passes (quantile sketch, bucket
    counts, rank) so parquet scan + projection run once, not thrice;
    evictable, so nothing is hard-pinned in executor memory.  The pin
    cannot be released inside this function (the RETURNED plan's rank
    pass still reads it), so long-lived sessions calling this in a loop
    free it with ``session.release_pins`` after consuming the result —
    otherwise one cached copy per call accumulates until the LRU store
    evicts it.
    """
    spark = df.sparkSession
    p = spark.sparkContext.defaultParallelism
    lead = order_cols[0]
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    probs = [i / p for i in range(1, p)]
    bounds = sorted(set(df.stat.approxQuantile(lead, probs, 0.001)))
    pid = F.lit(0)
    for b in bounds:
        pid = pid + (F.col(lead) > F.lit(b)).cast("int")
    # approxQuantile ignores NULLs, so no boundary covers them: bucket
    # them explicitly at -1 (sorts before every data bucket => ranked
    # first, matching OVER (ORDER BY ... ASC NULLS FIRST)).
    pid = F.when(F.col(lead).isNull(), F.lit(-1)).otherwise(pid)
    bucketed = df.withColumn("_pid", pid)
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    local = bucketed.withColumn("_lrn", F.row_number().over(w))

    # counts come from the pre-window frame so the counting job is a pure
    # scan + combiner-reduced agg (no WindowExec executed twice)
    counts = {
        r["_pid"]: r["_c"]
        for r in bucketed.groupBy("_pid").agg(F.count(F.lit(1)).alias("_c")).collect()
    }
    n = sum(counts.values())
    offsets, acc = [], 0
    for bucket in sorted(counts):
        offsets.append((bucket, acc))
        acc += counts[bucket]
    off = F.broadcast(spark.createDataFrame(offsets or [(0, 0)], "_pid int, _off bigint"))
    rn = (F.col("_off") + F.col("_lrn")).alias("_rn")
    base, rem = divmod(n, ntile_k) if n else (0, 0)
    cut = rem * (base + 1)
    if n < ntile_k:
        tile = F.col("_rn")
    else:
        # first `rem` tiles hold base+1 rows, the rest hold base
        tile = F.when(
            F.col("_rn") <= cut, F.floor((F.col("_rn") - 1) / (base + 1)) + 1
        ).otherwise(rem + F.floor((F.col("_rn") - cut - 1) / base) + 1)
    pct = (
        F.lit(0.0)
        if n <= 1
        else (F.col("_rn") - 1).cast("double") / F.lit(float(n - 1))
    )
    return (
        local.join(off, "_pid")
        .withColumn("_rn", rn)
        .withColumn("quartile", tile.cast("int"))
        .withColumn("pct_rank", pct)
        .withColumn("cume", F.col("_rn").cast("double") / F.lit(float(n)))
        .drop("_pid", "_lrn", "_off")
    )


def sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
    id_col: str | None = "event_id",
) -> DataFrame:
    """Assign gap-based session ids per user: a new session starts when
    the time since the previous event exceeds ``gap_seconds``.

    lag + cumulative sum over one window — a single shuffle on the user
    key, linear per-user work.  Gap arithmetic is done in integer
    microseconds (``unix_micros``) so it is exact.  ``id_col`` breaks
    timestamp ties so per-row session ids are deterministic (a total
    order, not just ts order); a missing ``id_col`` RAISES rather than
    silently degrading to non-deterministic ts-only order.  Pass
    ``id_col=None`` to explicitly accept ts-only ordering (only sound
    when (user, ts) is known unique).
    """
    if id_col is not None and id_col not in events.columns:
        raise ValueError(
            f"sessionize: tie-break column {id_col!r} not in input "
            f"{events.columns}; pass id_col=None to explicitly accept "
            "non-deterministic ts-only ordering"
        )
    order = [ts_col] + ([id_col] if id_col is not None else [])
    w = Window.partitionBy(user_col).orderBy(*order)
    gap_us = F.lit(gap_seconds * 1_000_000)
    # unix_micros rejects TIMESTAMP_NTZ; reinterpret NTZ in the session
    # zone (pinned UTC by session.tune) — a monotone bijection there, so
    # ordering and gap differences are exact.
    ts = F.col(ts_col)
    if dict(events.dtypes).get(ts_col) == "timestamp_ntz":
        ts = ts.cast("timestamp")
    micros = F.unix_micros(ts)
    prev = F.lag(micros).over(w)
    is_new = F.when(prev.isNull() | ((micros - prev) > gap_us), 1).otherwise(0)
    return events.withColumn(
        "session_id",
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
