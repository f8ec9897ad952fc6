"""Event-analytics operators: interval concurrency (sweep-line), funnel
conversion, and cohort retention.

The reference has no event analytics at all (its single query is a
per-day-of-week average, ``Sample.cs:189-199``); these are the standard
product-analytics companions every event warehouse grows, re-expressed
as shuffle-minimal Spark plans:

* ``interval_concurrency`` — the classic sweep-line: intervals become
  ±1 deltas, deltas combine per (key, time) in a map-side-combined hash
  aggregate, and ONE ordered window per key turns the net deltas into a
  running open-interval count.  Work is O(n log n) per key with no pair
  explosion — a self-join formulation ("count intervals overlapping each
  other") is O(n²) per key and never survives 100 TB.
* ``funnel_counts`` — ordered-step conversion (step k counts only users
  whose step-k event is at-or-after their step-(k-1) event).  One
  exchange on the user key; each step is a whole-partition conditional
  ``min`` window over that same partitioning, so Catalyst plans a single
  Exchange feeding chained WindowExecs, then a tiny final aggregate.
* ``cohort_retention`` — first-touch cohorting: the user's first active
  day via the same single exchange, then (cohort, day-offset) distinct
  user counts.  Distinct-user state is bounded per (cohort, offset)
  group by the partial-aggregate split.

Later additions follow the same discipline: a GLOBAL-timeline
concurrency variant (``global_interval_concurrency``, two-pass
deterministic-quantile buckets — no SinglePartition window) and an SCD
type-2 dimension build (``scd2_intervals``, lag-drop + lead-close on
one key exchange).  Everything here is deterministic (min/sum over
sets; no order-dependent folds) and mirrors into plain ANSI SQL for
the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def interval_concurrency(
    df: DataFrame,
    part_col: str,
    start_us: Column,
    end_us: Column,
) -> DataFrame:
    """Peak number of simultaneously-open ``[start, end)`` intervals per
    partition key, with the earliest time the peak is reached.

    ``start_us`` / ``end_us`` are integer (microsecond) columns — integer
    event time keeps the ±1 delta grid exact in both engines (double
    timestamps would round differently in Spark's truncating cast vs
    DuckDB's rounding cast).

    Half-open semantics: an interval ending at t does not overlap one
    starting at t.  Ties are safe by construction — deltas are summed
    per (key, time) BEFORE the running sum, so the result does not
    depend on the order events arrive in (back-to-back intervals net to
    zero at the boundary instant).

    Scale: one shuffle for the (key, time) combine, one per-key ordered
    window.  A single global timeline would serialize into one window
    task — for that shape, range-partition the timeline and carry each
    range's opening count forward (the ``windows.global_distribution_rank``
    two-pass pattern); per-key timelines parallelize across keys.
    """
    starts = df.select(
        F.col(part_col).alias("_part"), start_us.alias("_t"), F.lit(1).alias("_d")
    )
    ends = df.select(
        F.col(part_col).alias("_part"), end_us.alias("_t"), F.lit(-1).alias("_d")
    )
    net = starts.unionAll(ends).groupBy("_part", "_t").agg(F.sum("_d").alias("_net"))
    run = Window.partitionBy("_part").orderBy("_t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    conc = net.withColumn("_conc", F.sum("_net").over(run))
    top = Window.partitionBy("_part").orderBy(F.desc("_conc"), F.asc("_t"))
    return (
        conc.withColumn("_rn", F.row_number().over(top))
        .where(F.col("_rn") == 1)
        .select(
            F.col("_part").alias(part_col),
            F.col("_conc").cast("long").alias("peak_concurrency"),
            F.col("_t").alias("peak_at_us"),
        )
    )


def funnel_counts(
    df: DataFrame,
    user_col: str,
    type_col: str,
    ts_col: str,
    steps: list[str],
) -> DataFrame:
    """Ordered funnel: how many users completed step 1, step 2 after
    step 1, step 3 after step 2, ...

    Step k's timestamp for a user is the EARLIEST step-k event
    at-or-after that user's step-(k-1) timestamp (>= — a same-instant
    next step counts, mirroring the oracle exactly).  Unreached steps
    are NULL and stay NULL for every later step.

    Returns one row per step: (step bigint 1-based, step_name, n_users).
    """
    w = Window.partitionBy(user_col)
    cur = df.select(user_col, type_col, ts_col)
    prev: str | None = None
    for i, s in enumerate(steps):
        cond = F.col(type_col) == s
        if prev is not None:
            cond = cond & (F.col(ts_col) >= F.col(prev))
        cur = cur.withColumn(f"_t{i}", F.min(F.when(cond, F.col(ts_col))).over(w))
        prev = f"_t{i}"
    per_user = cur.groupBy(user_col).agg(
        *[F.max(f"_t{i}").alias(f"_t{i}") for i in range(len(steps))]
    )
    counts = per_user.agg(
        *[F.count(f"_t{i}").alias(f"_n{i}") for i in range(len(steps))]
    )
    # explode-of-structs, not a selectExpr stack: step names are caller
    # input and must never be spliced into SQL text
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i + 1).cast("long").alias("step"),
                    F.lit(s).alias("step_name"),
                    F.col(f"_n{i}").alias("n_users"),
                )
                for i, s in enumerate(steps)
            ]
        )
    )
    return counts.select(rows.alias("_r")).select("_r.*").orderBy("step")


def cohort_retention(
    df: DataFrame,
    user_col: str,
    ts_col: str,
) -> DataFrame:
    """First-touch cohort retention: users grouped by their first active
    day; for every (cohort day, day offset) the number of distinct users
    active exactly ``offset`` days after their first day.

    One exchange on the user key computes the first day (whole-partition
    min window); the distinct-count aggregate is partial/final split so
    per-group state is bounded.  Offset 0 row per cohort is the cohort
    size itself — retention ratios divide by it downstream.
    """
    day = F.date_trunc("day", F.col(ts_col))
    w = Window.partitionBy("_u")
    tagged = df.select(F.col(user_col).alias("_u"), day.alias("_day")).withColumn(
        "_first", F.min("_day").over(w)
    )
    return (
        tagged.groupBy(
            F.date_format("_first", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff(F.col("_day"), F.col("_first")).cast("long").alias("day_offset"),
        )
        .agg(F.countDistinct("_u").alias("n_users"))
        .orderBy("cohort_day", "day_offset")
    )


def global_interval_concurrency(
    df: DataFrame,
    start_us: Column,
    end_us: Column,
) -> DataFrame:
    """The GLOBAL-timeline form of :func:`interval_concurrency` — the
    running open-interval count over one un-keyed timeline, WITHOUT the
    SinglePartition window a naive ``OVER (ORDER BY t)`` plans.

    Same two-pass trick as ``windows.global_distribution_rank``:

    1. combine ±1 deltas per instant (map-side-combined hash agg);
    2. bucket instants by DETERMINISTIC approxQuantile boundaries (a
       pure row function — stable across the two passes, unlike
       ``repartitionByRange``'s per-job sampling);
    3. per-bucket delta totals (combiner-reduced, P-row collect) become
       broadcast carry-in offsets — the concurrency entering each
       bucket;
    4. ONE parallel window per bucket adds the local running sum to the
       carry-in.

    Returns the full (t_us, concurrency) step timeline; peak is a tiny
    aggregate downstream.  The netted-deltas frame is pinned evictable
    for the quantile/count/window passes; ``session.release_pins``
    frees it once the result is consumed.
    """
    from pyspark.storagelevel import StorageLevel

    spark = df.sparkSession
    starts = df.select(start_us.alias("_t"), F.lit(1).alias("_d"))
    ends = df.select(end_us.alias("_t"), F.lit(-1).alias("_d"))
    net = starts.unionAll(ends).groupBy("_t").agg(F.sum("_d").alias("_net"))
    net = net.persist(StorageLevel.MEMORY_AND_DISK)
    p = spark.sparkContext.defaultParallelism
    probs = [i / p for i in range(1, p)]
    bounds = sorted(set(net.stat.approxQuantile("_t", probs, 0.001)))
    pid = F.lit(0)
    for b in bounds:
        pid = pid + (F.col("_t") > F.lit(b)).cast("int")
    bucketed = net.withColumn("_pid", pid)
    carry = {
        r["_pid"]: r["_s"]
        for r in bucketed.groupBy("_pid").agg(F.sum("_net").alias("_s")).collect()
    }
    offsets, acc = [], 0
    for bucket in sorted(carry):
        offsets.append((bucket, acc))
        acc += carry[bucket]
    off = F.broadcast(
        spark.createDataFrame(offsets or [(0, 0)], "_pid int, _off bigint")
    )
    w = Window.partitionBy("_pid").orderBy("_t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        bucketed.withColumn("_run", F.sum("_net").over(w))
        .join(off, "_pid")
        .select(
            F.col("_t").alias("t_us"),
            (F.col("_off") + F.col("_run")).cast("long").alias("concurrency"),
        )
    )


def scd2_intervals(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    id_col: str,
) -> DataFrame:
    """Build a slowly-changing-dimension type-2 history from a change
    log: per key, each VALUE CHANGE opens a validity interval
    ``[valid_from, valid_to)``; repeated identical values collapse into
    the open interval; the current value has ``valid_to`` NULL.

    Two window passes over ONE (key)-keyed exchange (lag to drop
    no-op updates, lead over survivors to close intervals) — the
    standard warehouse dimension build, linear per key, deterministic
    via the (ts, id) total order.  NULL-safe change test (``<=>``), so
    NULL-valued states form intervals too.
    """
    w = Window.partitionBy("_k").orderBy("_ts", "_id")
    log = df.select(
        F.col(key_col).alias("_k"),
        F.col(ts_col).alias("_ts"),
        F.col(id_col).alias("_id"),
        F.col(value_col).alias("_v"),
    )
    # lag over a wrapped struct: NULL means "no previous row" (kept),
    # while a previous NULL VALUE is a non-NULL struct holding NULL —
    # so repeated NULL states collapse like any other repeated value
    prev = F.lag(F.struct(F.col("_v").alias("v"))).over(w)
    changed = log.withColumn(
        "_same", prev.isNotNull() & prev["v"].eqNullSafe(F.col("_v"))
    )
    survivors = changed.where(~F.col("_same"))
    w2 = Window.partitionBy("_k").orderBy("_ts", "_id")
    return survivors.select(
        F.col("_k").alias(key_col),
        F.col("_v").alias(value_col),
        F.col("_ts").alias("valid_from"),
        F.lead("_ts").over(w2).alias("valid_to"),
    )


def cdc_apply(
    changes: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    op_col: str = "op",
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """Apply a CDC change log (ops ``I``/``U``/``D`` per key, ordered by
    ``(ts, id)``) down to final table state: the last operation per key
    wins; keys whose last operation is a delete are absent.

    The complement of ``sinks.merge_upsert_partitioned`` (which has no
    delete path — upsert-only) and ``scd2_intervals`` (which keeps the
    full history): this is the "replay the binlog into a snapshot"
    primitive.  One ``max(struct(ts, id, op, payload...))`` hash
    aggregate per key — combiner-reduced, no window, no sort; the
    struct extremum IS the last-writer-wins rule, deterministic via the
    (ts, id) total order.
    """
    payload_cols = payload_cols or []
    last = F.max(
        F.struct(
            F.col(ts_col).alias("_ts"),
            F.col(id_col).alias("_id"),
            F.col(op_col).alias("_op"),
            *[F.col(c).alias(c) for c in payload_cols],
        )
    ).alias("_last")
    out = changes.groupBy(F.col(key_col).alias(key_col)).agg(last)
    return (
        out.where(F.col("_last._op") != "D")
        .select(
            key_col,
            F.col("_last._ts").alias("last_ts"),
            *[F.col(f"_last.{c}").alias(c) for c in payload_cols],
        )
    )


def sequence_pattern_matches(
    df: DataFrame,
    user_col: str,
    type_col: str,
    ts_col: str,
    pattern: list[str],
    max_span_seconds: int,
    id_col: str = "event_id",
) -> DataFrame:
    """MATCH_RECOGNIZE / CEP-style event-sequence extraction: every
    occurrence where a user's CONSECUTIVE events — on the stream
    filtered to the pattern's types — spell out ``pattern`` in order
    within ``max_span_seconds``.  The complement of ``funnel_counts``:
    the funnel asks "did the user ever progress" (min-timestamp chain,
    intervening noise ignored); this asks "where exactly did the strict
    sequence occur" (Flink CEP's ``next``/strict contiguity on the
    filtered stream), emitting one row PER OCCURRENCE with every step's
    timestamp — the session-replay / attribution-audit shape.

    Plan: filter to the pattern's types (pushed to the scan), ONE
    (user)-keyed window exchange, ``lead(k)`` per remaining step on
    that single sort — no self-joins, no pair explosion; a user's cost
    is their own filtered event count.  Emits integer epoch
    microseconds (hash-exact, no timestamp-dtype scaffolding).

    Ordering ties: (ts, id) — total and engine-portable."""
    steps = len(pattern)
    if steps < 2:
        raise ValueError("sequence_pattern_matches: pattern needs >= 2 steps")
    ts = F.col(ts_col)
    if dict(df.dtypes).get(ts_col) == "timestamp_ntz":
        ts = ts.cast("timestamp")
    base = df.where(F.col(type_col).isin(list(pattern))).select(
        F.col(user_col).alias("user_id"),
        F.col(type_col).alias("_t"),
        F.unix_micros(ts).alias("_us"),
        F.col(id_col).alias("_id"),
    )
    w = Window.partitionBy("user_id").orderBy("_us", "_id")
    out = base
    conds = F.col("_t") == pattern[0]
    cols = [F.col("_us").alias("t_1")]
    for i in range(1, steps):
        out = out.withColumn(f"_t{i}", F.lead("_t", i).over(w)).withColumn(
            f"_us{i}", F.lead("_us", i).over(w)
        )
        conds = conds & (F.col(f"_t{i}") == pattern[i])
        cols.append(F.col(f"_us{i}").alias(f"t_{i + 1}"))
    conds = conds & (
        (F.col(f"_us{steps - 1}") - F.col("_us"))
        <= F.lit(int(max_span_seconds) * 1_000_000).cast("bigint")
    )
    return out.where(conds).select("user_id", *cols)
