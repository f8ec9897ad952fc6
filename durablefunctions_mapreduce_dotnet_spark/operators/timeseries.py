"""Gap-filling / interpolation over regular time grids — the
``time_bucket_gapfill`` + ``locf()`` + ``interpolate()`` surface of a
hypertable engine, re-expressed on Spark windows.

The reference has no time-series surface at all (its one time function
is day-of-week extraction, ``Sample.cs:189``); this is the standard
continuous-aggregate companion: densify each series onto a fixed-step
grid, then fill holes by last-observation-carried-forward and by linear
interpolation between the neighboring observations.

Plan shape (100 TB posture):

* Bucketing is a pure row expression (integer ``div`` on epoch micros).
* The per-bucket representative value is a struct-extremum
  (``max(struct(ts, id, value))``) riding the SAME hash aggregate as
  the bucket groupBy — exact, tie-broken, no window pass.
* The grid is ``sequence(min_bucket, max_bucket)`` exploded per series
  — generated JVM-side from a k-row aggregate, never shuffled at grid
  size; join back to observations is (series, bucket)-keyed.
* Both fills are ONE window pass each direction over the densified
  frame (``last(..., ignorenulls)`` backward state / ``first(...,
  ignorenulls)`` forward), partitioned by series — state per partition
  is O(1), late/skewed series never serialize on a single task beyond
  their own rows.

Determinism: fills copy exact observed doubles; linear interpolation is
the literal expression ``pv + (nv - pv) * ((b - pb) / (nb - pb))``
with integer bucket arithmetic, mirrored operation-for-operation in the
SQL oracle so IEEE doubles agree bitwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import cut


def gap_fill(
    df: DataFrame,
    series_col: str,
    ts_col: str,
    value_col: str,
    step_seconds: int,
    id_col: str = "event_id",
    max_grid_buckets: int = 10_000_000,
    chunk_buckets: int = 65_536,
) -> DataFrame:
    """Densified (series, bucket) grid with columns:

    ``bucket``   epoch-second bucket start (bigint, step-aligned)
    ``v_obs``    value of the LAST observation in the bucket (by
                 (ts, id) — exact struct-extremum tie-break), NULL in gaps
    ``v_locf``   v_obs carried forward (NULL before the first obs)
    ``v_lin``    linear interpolation between neighboring observed
                 buckets (NULL outside [first, last] obs)

    TIMESTAMP_NTZ inputs are reinterpreted in the SESSION time zone
    before epoch bucketing — run with ``spark.sql.session.timeZone=UTC``
    (``session.tune`` pins it) or bucket labels shift by the zone offset
    and, for steps not dividing that offset, bucket membership moves.

    The bucket aggregate is pinned MEMORY_AND_DISK for its two consumers
    (grid bounds + densifying join); the pin cannot be released here
    (the returned plan still reads it), so long-lived sessions calling
    this in a loop free it with ``session.release_pins`` after consuming
    the result.
    """
    ts = F.col(ts_col)
    if dict(df.dtypes).get(ts_col) == "timestamp_ntz":
        ts = ts.cast("timestamp")
    step_us = step_seconds * 1_000_000
    obs = (
        df.select(
            F.col(series_col).alias("series"),
            # explicit floor: Spark's double->bigint cast truncates while
            # DuckDB's rounds, so the oracle mirrors floor() verbatim
            F.floor(F.unix_micros(ts) / F.lit(step_us)).cast("bigint").alias("bucket"),
            F.struct(ts.alias("_t"), F.col(id_col).alias("_i"), F.col(value_col).alias("_v")).alias("_s"),
        )
        .groupBy("series", "bucket")
        .agg(F.max("_s")["_v"].alias("v_obs"))
    )
    # obs feeds TWO consumers (grid bounds + the densifying join);
    # pinned evictable so the scan + bucket aggregate runs once, not
    # twice (same discipline as windows.global_distribution_rank)
    from pyspark.storagelevel import StorageLevel

    obs = obs.persist(StorageLevel.MEMORY_AND_DISK)
    # grid size is data-dependent (span / step per series): one corrupt
    # epoch-0 timestamp in a current-dated corpus would demand a
    # billion-element sequence and OOM the executor — fail loudly with
    # the offending series instead (``max_grid_buckets``; the error
    # stays lazy, inside the same job).
    guarded_mx = F.when(
        (F.col("_mx") - F.col("_mn")) < F.lit(max_grid_buckets), F.col("_mx")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("gap_fill: series "),
                F.col("series").cast("string"),
                F.lit(
                    f" spans more than {max_grid_buckets} buckets — outlier "
                    "timestamp or step_seconds too small"
                ),
            )
        ).cast("bigint")
    )
    # Chunked densification (r12 VERDICT #5): sequence() materializes
    # its whole array per input row before explode, so a single sparse
    # series spanning the full time range used to cost a span-sized
    # allocation in one task.  Two nested generators bound that: the
    # outer emits span/chunk_buckets chunk STARTS, the inner densifies
    # one ≤chunk_buckets-element chunk at a time — peak task memory is
    # O(chunk + span/chunk), span-independent for any realistic span,
    # while the emitted grid (and every downstream plan) is identical.
    step = F.lit(chunk_buckets)
    starts = (
        obs.groupBy("series")
        .agg(F.min("bucket").alias("_mn"), F.max("bucket").alias("_mx"))
        .select(
            "series",
            "_mx",
            F.explode(F.sequence(F.col("_mn"), guarded_mx, step)).alias("_cs"),
        )
    )
    grid = starts.select(
        "series",
        F.explode(
            F.sequence(
                F.col("_cs"),
                F.least(F.col("_cs") + F.lit(chunk_buckets - 1), F.col("_mx")),
            )
        ).alias("bucket"),
    )
    dense = grid.join(obs, ["series", "bucket"], "left")

    back = Window.partitionBy("series").orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    fwd = Window.partitionBy("series").orderBy("bucket").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    packed = F.when(
        F.col("v_obs").isNotNull(), F.struct(F.col("bucket").alias("b"), F.col("v_obs").alias("v"))
    )
    prev = F.last(packed, ignorenulls=True).over(back)
    nxt = F.first(packed, ignorenulls=True).over(fwd)
    lin = F.when(
        F.col("v_obs").isNotNull(), F.col("v_obs")
    ).otherwise(
        prev["v"]
        + (nxt["v"] - prev["v"])
        * ((F.col("bucket") - prev["b"]) / (nxt["b"] - prev["b"]))
    )
    return dense.select(
        "series",
        (F.col("bucket") * F.lit(step_seconds)).alias("bucket"),
        "v_obs",
        prev["v"].alias("v_locf"),
        lin.alias("v_lin"),
    )


def detect_gaps(
    df: DataFrame,
    series_col: str,
    ts_col: str,
    threshold_seconds: int,
    id_col: str = "event_id",
) -> DataFrame:
    """Missing-data detector — the inverse of :func:`gap_fill`: one row
    per gap where a series goes silent longer than ``threshold_seconds``
    (``gap_start`` = last observation before silence, ``gap_end`` = first
    after, ``gap_seconds`` = integer delta).

    ONE lag window per series (same single shuffle as sessionization —
    a gap is exactly a session boundary read the other way), integer
    epoch-second arithmetic so both engines agree exactly.  Emits only
    gap rows, so output is O(gaps), not O(observations).
    """
    ts = F.col(ts_col)
    if dict(df.dtypes).get(ts_col) == "timestamp_ntz":
        ts = ts.cast("timestamp")
    sec = F.unix_micros(ts)
    w = Window.partitionBy("series").orderBy("t_us", "_id")
    obs = df.select(
        F.col(series_col).alias("series"),
        sec.alias("t_us"),
        F.col(id_col).alias("_id"),
    )
    prev = F.lag("t_us").over(w)
    return (
        obs.withColumn("_prev", prev)
        .where((F.col("t_us") - F.col("_prev")) > threshold_seconds * 1_000_000)
        .select(
            "series",
            F.col("_prev").alias("gap_start_us"),
            F.col("t_us").alias("gap_end_us"),
            # explicit floor: Spark's double->long cast truncates while
            # DuckDB's rounds (same guard as gap_fill's bucketing)
            F.floor((F.col("t_us") - F.col("_prev")) / F.lit(1_000_000.0))
            .cast("long")
            .alias("gap_seconds"),
        )
        .orderBy("series", "gap_start_us")
    )


#: SAX breakpoints for alphabet 4 over N(0,1), pre-quantized to the
#: integer grid the z-scores are compared on (floor(x*1e6 + 0.5)) — the
#: engine-portable form of ±0.6744897501960817 (exact values are
#: immaterial: both engines must simply share them)
_SAX_BREAKS_Q = (-674490, 0, 674490)
_Z_SCALE = 1_000_000.0




def _dbl_chain(terms: list[str]) -> str:
    """Explicit left-associated IEEE-double summation chain.  Both
    engines parse ``t1 + t2 + …`` left-associatively and add binary64
    doubles under strict IEEE-754 (JVM; DuckDB is compiled without
    fast-math contraction), so as long as the oracle SQL writes the
    SAME explicit chain over the SAME per-term doubles, the result is
    BIT-IDENTICAL cross-engine — the z-score doctrine extended to the
    sums.

    Why not decimal(38,18) nested-cast chains (the pre-r11 form): each
    decimal add expands to ~2 KB of Decimal-object codegen; at m=16
    three such chains in one whole-stage span blew Janino's 64 KB
    method limit ("Code grows beyond 64 KB"), dropping the ENTIRE
    stage — window slicing, z-scores, SAX words, join keys — to
    interpreted mode (4.6–7.7 s for ts_motif_topk at sf0.1).  Double
    adds are one-line codegen; the span compiles and stays JVM-fast.
    An aggregate() decimal fold fixes compilation but is interpreted
    per element — measured no faster than the fallback."""
    return "(" + " + ".join(terms) + ")"


def _sax_word_expr(paa: int, seg: int) -> str:
    """SQL for the SAX word: per segment, the PAA mean of the z slice is
    quantized to the 1e-6 integer grid and compared against the integer
    breakpoints.  The segment sum is an EXPLICIT left-associated chain
    (not aggregate/list_sum) so the oracle can reproduce the identical
    IEEE addition order; Spark element_at and DuckDB list subscripts are
    both 1-based, keeping the two generators index-aligned."""
    b1, b2, b3 = _SAX_BREAKS_Q
    total = " + ".join(f"element_at(z, s * {seg} + {j + 1})" for j in range(seg))
    q = f"floor(({total}) / {float(seg)} * {_Z_SCALE} + 0.5)"
    return (
        f"array_join(transform(sequence(0, {paa - 1}), s -> cast("
        f" case when {q} < {b1} then 0 when {q} < {b2} then 1"
        f" when {q} < {b3} then 2 else 3 end as string)), '')"
    )


def _sax_word_sql_duckdb(paa: int, seg: int) -> str:
    """The DuckDB twin of :func:`_sax_word_expr` (1-based list
    subscripts, same explicit addition chain, same integer
    breakpoints)."""
    b1, b2, b3 = _SAX_BREAKS_Q
    total = " + ".join(f"z[CAST(s * {seg} + {j + 1} AS INTEGER)]" for j in range(seg))
    q = f"floor(({total}) / {float(seg)} * {_Z_SCALE} + 0.5)"
    return (
        f"array_to_string(list_transform(range(0, {paa}), s ->"
        f" CASE WHEN {q} < {b1} THEN 0 WHEN {q} < {b2} THEN 1"
        f" WHEN {q} < {b3} THEN 2 ELSE 3 END), '')"
    )


def sax_similar_subsequences(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    val_col: str = "value",
    id_col: str = "event_id",
    m: int = 16,
    stride: int = 4,
    paa: int = 4,
    k: int = 5,
    max_bucket: int = 500,
) -> DataFrame:
    """Top-k most-similar non-overlapping subsequence pairs per series —
    z-normalized Euclidean distance over length-``m`` windows, the
    motif-discovery primitive of time-series similarity search.  A full
    matrix profile is O(n²) per series; this is the indexed form: PAA →
    SAX words bucket the windows (equal words ⇒ similar coarse shape),
    candidates are same-bucket non-overlapping pairs, and only those are
    exactly scored.  Linear window extraction (×m/stride row blowup),
    bucketed candidates, distance work proportional to matches — the
    LSH/minhash shape transplanted to the time axis, scale-safe where
    the quadratic profile is not.

    Determinism doctrine: EVERY sum (window mean, centered square sum,
    pair distance) is an explicit left-associated double chain written
    identically in both engines' SQL (see :func:`_dbl_chain` — the
    association order is pinned in the query text, so cross-engine
    results are bit-identical without decimal scaffolding); z-scores
    are IDENTICAL IEEE expressions on both engines, and SAX bucketing
    quantizes them to the floor(z·1e6+0.5) integer grid before
    comparing against integer breakpoints, so bucket membership cannot
    waver on a cross-engine ulp.  Distances are ranked at 9 dp with a
    (start_a, start_b) tie-break and emitted at 6 dp.  Constant windows
    (std < 1e-9) are excluded — z is undefined there."""
    order = Window.partitionBy(key_col).orderBy(F.col(ts_col), F.col(id_col))
    base = df.select(
        F.col(key_col).alias("key"),
        (F.row_number().over(order) - 1).alias("idx"),
        F.col(val_col).cast("double").alias("x"),
    )
    # Overlapping-CHUNK window extraction: rows replicate to their
    # chunk plus (head rows only) the previous chunk, each chunk
    # collects one contiguous value array, and windows are array slices
    # within it — shuffle blowup is (C + m - 1)/C ≈ 1.02× instead of the
    # naive per-window explode's m/stride ≈ 4×, and per-task memory is
    # bounded by the chunk length regardless of series length (a
    # billion-point series is just more chunks).  C is a multiple of
    # ``stride`` so the start-alignment test stays a local j % stride.
    C = 1024 * stride
    head = F.col("idx") % C <= m - 2
    chunked = base.select(
        "key",
        "idx",
        "x",
        F.explode(
            F.when(
                (F.col("idx") >= C) & head,
                F.array(
                    (F.col("idx") / C).cast("long"),
                    (F.col("idx") / C).cast("long") - 1,
                ),
            ).otherwise(F.array((F.col("idx") / C).cast("long")))
        ).alias("chunk"),
    )
    arrs = (
        chunked.groupBy("key", "chunk")
        .agg(F.sort_array(F.collect_list(F.struct("idx", "x"))).alias("pv"))
        .select(
            "key",
            "chunk",
            F.expr("transform(pv, e -> e.x)").alias("arr"),
            F.size("pv").alias("alen"),
        )
    )
    # windows are built INSIDE a transform and only then exploded: an
    # explode over raw (chunk, j) rows would replicate the full chunk
    # array into every generator row before slicing (measured 5×
    # slower); here each emitted row carries only its z-scored slice.
    #
    # mu/sd/z are LET-BOUND inside the lambda via single-element-array
    # transforms (`transform(array(X), v -> …)[1]` is SQL's missing
    # `let v = X in …`): each is evaluated ONCE per window inside the
    # (interpreted) HOF.  Computing them as withColumn steps instead
    # lets predicate pushdown inline the 16-term mu chain into all 16
    # sd terms and the sd chain into every z element — the expression
    # text explodes ~17× and whole-stage codegen dies with Janino's
    # "Code grows beyond 64 KB", dropping the stage to interpreted
    # mode (measured 4.6–7.7 s for ts_motif_topk at sf0.1).
    mu_sum = _dbl_chain([f"element_at(v, {i})" for i in range(1, m + 1)])
    sd_sum = _dbl_chain(
        [
            f"((element_at(v, {i}) - mu) * (element_at(v, {i}) - mu))"
            for i in range(1, m + 1)
        ]
    )
    z_expr = (
        f"element_at(transform(array(slice(arr, j + 1, {m})), v ->"
        f" element_at(transform(array({mu_sum} / {float(m)}), mu ->"
        f" element_at(transform(array(sqrt({sd_sum} / {float(m)})), sd ->"
        f" case when sd >= 1e-9 then transform(v, x -> (x - mu) / sd) end"
        f"), 1)), 1)), 1)"
    )
    wins = (
        arrs.where(F.col("alen") >= m)
        .select(
            "key",
            F.explode(
                F.expr(
                    f"transform(sequence(0, least({C} - {stride}, alen - {m}), {stride}),"
                    f" j -> struct(chunk * {C} + j AS start, {z_expr} AS z))"
                )
            ).alias("w"),
        )
        .select("key", F.col("w.start").alias("start"), F.col("w.z").alias("z"))
        # constant windows (sd < 1e-9) carry a NULL z — z is undefined
        .where(F.col("z").isNotNull())
    )
    seg = m // paa
    wins = wins.withColumn(
        "word",
        F.expr(_sax_word_expr(paa, seg)),
    ).select("key", "start", "z", "word")
    # one materialization: the window pipeline feeds the bucket-size
    # probe and BOTH sides of the candidate self-join
    wins = cut(wins)
    sizes = wins.groupBy("key", "word").agg(F.count("*").alias("_n"))
    wins = wins.join(
        sizes.where(F.col("_n") <= max_bucket).select("key", "word"),
        ["key", "word"],
        "semi",
    )
    a = wins.select("key", "word", F.col("start").alias("start_a"), F.col("z").alias("za"))
    b = wins.select("key", "word", F.col("start").alias("start_b"), F.col("z").alias("zb"))
    cand = a.join(b, ["key", "word"]).where(
        F.col("start_b") >= F.col("start_a") + m
    )
    d_sum = _dbl_chain(
        [
            f"((element_at(za, {i}) - element_at(zb, {i}))"
            f" * (element_at(za, {i}) - element_at(zb, {i})))"
            for i in range(1, m + 1)
        ]
    )
    scored = cand.select(
        "key",
        "start_a",
        "start_b",
        F.round(F.sqrt(F.expr(d_sum)), 9).alias("_d9"),
    )
    rk = Window.partitionBy("key").orderBy("_d9", "start_a", "start_b")
    return (
        scored.withColumn("rank", F.row_number().over(rk).cast("bigint"))
        .where(F.col("rank") <= k)
        .select(
            F.col("key").alias(key_col),
            "rank",
            F.col("start_a").cast("bigint").alias("start_a"),
            F.col("start_b").cast("bigint").alias("start_b"),
            F.round("_d9", 6).alias("dist"),
        )
    )


def seasonal_decompose(
    df,
    ts_col: str = "ts",
    period: int = 7,
):
    """Classical additive seasonal decomposition of the DAILY EVENT
    COUNT series: y = trend + seasonal + residual (the moving-average
    method behind statsmodels' ``seasonal_decompose``), distributed.

    - trend: centered moving average — for an ODD period a plain
      ``period``-day centered MA; for an EVEN period the classical
      2×period centered MA (statsmodels' convention: a
      ``period+1``-day window with half weight on the two edge days);
      defined only where the whole window exists (edges stay NULL);
    - seasonal: mean detrended value per period PHASE (epoch-day mod
      ``period`` — phase, not a calendar-weekday convention, so the two
      engines can't disagree on week-start);
    - residual: y − trend − seasonal where trend is defined.

    Both parities run the SAME doubled-weight formulation: interior
    days weigh 2, an even period's two edge days weigh 1, so Σw = 2p
    either way and trend = Σ(w·y)/(2p).  For odd periods this is the
    old t7/p scaled by 2/2 — numerator and denominator both scale by a
    power of two, so IEEE division results (and the 9-dp rounding) are
    BIT-IDENTICAL to the pre-r08 odd-only implementation.

    Determinism is engineered integer-first: the weighted window sum
    ``t7`` and the scaled detrended value ``2·period·y − t7`` are exact
    integers all the way through the per-phase aggregation, so the ONLY
    floating-point ops are final divisions of exact integers — the same
    IEEE expression in both engines (no order-dependent double sums
    anywhere; outputs rounded at 9 dp).

    Scale shape: one combiner count per day collapses the corpus to a
    days-sized frame (O(years) rows at 100 TB); the centered window is
    an explode(±half-period) + equi-join on calendar day over that tiny
    frame — no SinglePartition window over anything event-sized; phase
    means broadcast back.  Unknown-period data would front a
    periodogram step; here the period is a parameter.
    """
    half = period // 2
    even = period % 2 == 0
    win_n = 2 * half + 1  # period when odd, period+1 when even
    daily = df.groupBy(
        F.date_trunc("day", F.col(ts_col)).cast("date").alias("d")
    ).agg(F.count(F.lit(1)).alias("y"))
    nb = daily.select(F.col("d").alias("d2"), F.col("y").alias("y2"))
    w = (
        F.when(F.abs(F.col("off")) == half, F.lit(1)).otherwise(F.lit(2))
        if even
        else F.lit(2)
    )
    tr = (
        daily.select(
            "d",
            "y",
            F.explode(F.sequence(F.lit(-half), F.lit(half))).alias("off"),
        )
        .withColumn("dj", F.date_add(F.col("d"), F.col("off")))
        .join(nb, F.col("dj") == F.col("d2"))
        .groupBy("d", "y")
        .agg(F.sum(w * F.col("y2")).alias("t7"), F.count(F.lit(1)).alias("c7"))
    )
    phase = F.pmod(
        F.datediff(F.col("d"), F.to_date(F.lit("1970-01-01"))), F.lit(period)
    ).cast("bigint")
    full = F.col("c7") == win_n
    seas = (
        tr.where(full)
        .select(
            phase.alias("phase"),
            (F.lit(2 * period) * F.col("y") - F.col("t7")).alias("d7"),
        )
        .groupBy("phase")
        .agg(F.sum("d7").alias("s7"), F.count(F.lit(1)).alias("sc"))
    )
    p2 = float(2 * period)
    return (
        tr.select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "y",
            "t7",
            "c7",
            phase.alias("phase"),
        )
        .join(F.broadcast(seas), "phase", "left")
        .select(
            "day",
            "y",
            # `+ 0.0` canonicalizes IEEE negative zero: ROUND can yield
            # -0.0 in one engine and +0.0 in the other (observed: DuckDB
            # ROUND(residual, 9) emitted -0.0 in 5 sf0.01 rows where
            # Spark emitted +0.0 — equal under ==, unequal under the
            # driver's byte-level value hash; the r08 driver-red row).
            # x + 0.0 is the identity for every other double and maps
            # -0.0 to +0.0 on both engines; NULL propagates.
            F.when(
                F.col("c7") == win_n,
                F.round(F.col("t7") / F.lit(p2), 9) + F.lit(0.0),
            ).alias("trend"),
            (F.round(F.col("s7") / (F.lit(p2) * F.col("sc")), 9) + F.lit(0.0)).alias(
                "seasonal"
            ),
            F.when(
                F.col("c7") == win_n,
                F.round(
                    F.col("y")
                    - F.col("t7") / F.lit(p2)
                    - F.col("s7") / (F.lit(p2) * F.col("sc")),
                    9,
                )
                + F.lit(0.0),
            ).alias("residual"),
        )
    )


def acf(
    df,
    ts_col: str = "ts",
    max_lag: int = 14,
) -> "DataFrame":
    """Sample autocorrelation of the daily event-count series at lags
    1..``max_lag`` — the period-detection diagnostic read before
    picking ``period`` for :func:`seasonal_decompose` /
    :func:`holt_winters_fit`.

    Integer-exact: with S = Σy, n = #days, m_L = #pairs at lag L,
    A_L/B_L the left/right partial sums over the paired days,

        acf(L) = [n²·Σ(y_t·y_{t+L}) − n·S·(A_L+B_L) + m_L·S²]
                 / [n · (n·Σy² − S²)]

    (the covariance trick ×n²: every term is an exact decimal-summed
    integer, so the ONLY floating-point op is the final division — the
    same IEEE expression on any engine and any partitioning).  Matches
    the mean-adjusted cross-product estimator with per-lag edge sums
    (the jagged-window form; statsmodels' ``acf(adjusted=False)``
    differs only by its fixed global mean).

    Scale shape: one combiner count per day collapses the corpus to a
    days-sized frame; pairs come from explode(1..max_lag) + calendar
    equi-join over that tiny frame; the 1-row global scalar frame rides
    a broadcast cross join.  Output: (lag, n_pairs, acf) — acf rounded
    6 dp with −0.0 canonicalized to +0.0 (Spark's BigDecimal ROUND has
    no signed zero; DuckDB's keeps it — the r08 m12 driver-red class).
    """
    daily = df.groupBy(
        F.date_trunc("day", F.col(ts_col)).cast("date").alias("d")
    ).agg(F.count(F.lit(1)).alias("y"))
    nb = daily.select(F.col("d").alias("d2"), F.col("y").alias("y2"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    glob = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(F.col("y"))).alias("s"),
        # cast BEFORE the multiply: bigint·bigint would overflow first
        # at extreme per-day counts; decimal·bigint stays exact
        F.sum(dec(F.col("y")) * F.col("y")).alias("yy"),
    )
    lagged = (
        daily.select(
            "d",
            "y",
            F.explode(F.sequence(F.lit(1), F.lit(max_lag))).alias("lag"),
        )
        .join(nb, F.date_add(F.col("d"), F.col("lag")) == F.col("d2"))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("m"),
            F.sum(dec(F.col("y")) * F.col("y2")).alias("syy2"),
            F.sum(dec(F.col("y"))).alias("a"),
            F.sum(dec(F.col("y2"))).alias("b"),
        )
    )
    return lagged.crossJoin(F.broadcast(glob)).select(
        F.col("lag").cast("bigint").alias("lag"),
        F.col("m").alias("n_pairs"),
        (
            F.round(
                (
                    dec(F.col("n") * F.col("n")) * F.col("syy2")
                    - dec(F.col("n")) * F.col("s") * (F.col("a") + F.col("b"))
                    + F.col("m") * F.col("s") * F.col("s")
                ).cast("double")
                / (
                    dec(F.col("n"))
                    * (dec(F.col("n")) * F.col("yy") - F.col("s") * F.col("s"))
                ).cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("acf"),
    )


#: EWMA contract shared by the batch query (queries/timeseries_q.
#: q_ts_ewma), the stateful streaming twin (streaming/stateful.
#: ewma_daily_stateful) and both SQL oracles.
EWMA_SPAN = 20  # truncation horizon (observations)
EWMA_NUM, EWMA_DEN = 3, 10  # alpha = 0.3, exact rational


def ewma_coef(k: int) -> int:
    """Integer-scaled EWMA weight: α·(1−α)^k over the common
    denominator 10^span ⇒ 3·7^k·10^(span−1−k) — exact integers shared
    verbatim by the Spark literals, the stateful streaming kernel, and
    the SQL oracles (the scale cancels in the final num/den divide)."""
    return EWMA_NUM * (EWMA_DEN - EWMA_NUM) ** k * EWMA_DEN ** (
        EWMA_SPAN - 1 - k
    )


def cusum_changepoint(
    daily: DataFrame,
    key_col: str = "event_type",
    day_col: str = "d",
    y_col: str = "y",
) -> DataFrame:
    """CUSUM change-point over a pre-aggregated daily count frame
    ``(key, day, y)`` — the regime-shift localizer shared by
    :func:`queries.timeseries_q.q_ts_changepoint` and the planted-shift
    unit test (both call THIS body, so a regression here fails both).

    Integer-exact: the mean-centered cumulative sum is scaled by n
    (CUSUM'_t = n·Σ_{i≤t} y_i − t·S, an exact integer — the same ×n
    trick as :func:`acf`'s ×n² covariance), so the argmax row and the
    reported magnitude are engine-exact with zero FP anywhere.  The
    change point is the day maximizing |CUSUM'|, earliest day on ties.

    Scale shape: input is already the days-sized combiner frame; the
    running sum is a per-key window (partitioned — never
    SinglePartition); per-key totals broadcast back.  Output:
    (key, day_col date, cusum_scaled bigint, n_days bigint).
    """
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    tot = daily.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n"), F.sum(dec(F.col(y_col))).alias("s")
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy(day_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cur = daily.select(
        key_col,
        day_col,
        F.sum(dec(F.col(y_col))).over(w).alias("run"),
        F.row_number()
        .over(Window.partitionBy(key_col).orderBy(day_col))
        .alias("t"),
    )
    cus = cur.join(F.broadcast(tot), key_col).select(
        key_col,
        day_col,
        (dec(F.col("n")) * F.col("run") - dec(F.col("t")) * F.col("s")).alias(
            "c"
        ),
        "n",
    )
    pick = Window.partitionBy(key_col).orderBy(
        F.desc(F.abs(F.col("c"))), F.asc(day_col)
    )
    return (
        cus.withColumn("rk", F.row_number().over(pick))
        .where(F.col("rk") == 1)
        .select(
            key_col,
            day_col,
            F.col("c").cast("bigint").alias("cusum_scaled"),
            F.col("n").alias("n_days"),
        )
    )


def holt_winters_fit(
    df,
    ts_col: str = "ts",
    group_col: str = "event_type",
    period: int = 7,
    alpha: float = 0.3,
    beta: float = 0.1,
    gamma: float = 0.2,
):
    """Additive Holt-Winters (triple exponential smoothing) over the
    DENSIFIED daily event-count series per group — the classical
    forecasting recurrence (Winters 1960; the ETS(A,A,A) fit):

        level_t = α·(y_t − seas_{t−p}) + (1−α)·(level_{t−1} + trend_{t−1})
        trend_t = β·(level_t − level_{t−1}) + (1−β)·trend_{t−1}
        seas_t  = γ·(y_t − level_t) + (1−γ)·seas_{t−p}
        fitted_t = level_{t−1} + trend_{t−1} + seas_{t−p}

    Initialization (documented convention, mirrored verbatim by the
    oracle): level₀ = mean(y[0..p−1]), trend₀ = (mean(y[p..2p−1]) −
    mean(y[0..p−1]))/p, seas_i = y_i − level₀ for the first period; the
    recurrence runs from t = p.  Groups shorter than 2·p days raise
    (the init windows would be undefined).

    Scale shape: the corpus-sized work is ONE combiner count collapsing
    events to (group, day) — O(groups × days) rows ever after; missing
    days densify to y = 0 (counts, not samples) via a per-group
    sequence explode.  The recurrence itself is inherently sequential
    per series, so it runs as a per-group Arrow task over the
    days-sized frame — thousands of independent series parallelize
    across executors; a single series costs a trivial Python loop over
    O(days) floats.

    FP determinism: the loop applies the exact literal expressions
    above in fixed order; the SQL mirror embeds ``repr()`` of the SAME
    Python constants (α, 1−α, …) so both engines fold to bit-identical
    doubles.  Emitted raw; callers round (F.round HALF_UP both
    engines).  Output: (group, day, y, fitted, level, trend) for
    t ≥ p."""
    import pandas as pd

    p = period
    a, b, g = float(alpha), float(beta), float(gamma)
    one_a, one_b, one_g = 1.0 - a, 1.0 - b, 1.0 - g

    daily = (
        df.groupBy(
            F.col(group_col).alias("g"),
            F.date_trunc("day", F.col(ts_col)).cast("date").alias("d"),
        )
        .agg(F.count(F.lit(1)).alias("y"))
    )
    bounds = daily.groupBy("g").agg(
        F.min("d").alias("_d0"), F.max("d").alias("_d1")
    )
    dense = (
        bounds.select(
            "g", F.explode(F.sequence("_d0", "_d1")).alias("d")
        )
        .join(daily, ["g", "d"], "left")
        .select("g", "d", F.coalesce("y", F.lit(0)).alias("y"))
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d").reset_index(drop=True)
        n = len(pdf)
        if n < 2 * p:
            raise ValueError(
                f"holt_winters_fit: group {pdf['g'].iloc[0]!r} has {n} days; "
                f"initialization needs at least {2 * p}"
            )
        ys = [float(v) for v in pdf["y"]]
        level = sum(ys[:p]) / float(p)
        trend = (sum(ys[p : 2 * p]) / float(p) - sum(ys[:p]) / float(p)) / float(p)
        seas = [ys[i] - level for i in range(p)]
        rows = []
        for t in range(p, n):
            s = seas[t - p]
            fitted = level + trend + s
            new_level = a * (ys[t] - s) + one_a * (level + trend)
            new_trend = b * (new_level - level) + one_b * trend
            seas.append(g * (ys[t] - new_level) + one_g * s)
            level, trend = new_level, new_trend
            rows.append(
                (
                    pdf["g"].iloc[0],
                    pdf["d"].iloc[t].strftime("%Y-%m-%d"),
                    int(ys[t]),
                    fitted,
                    level,
                    trend,
                )
            )
        return pd.DataFrame(
            rows, columns=["g", "day", "y", "fitted", "level", "trend"]
        )

    return dense.groupBy("g").applyInPandas(
        fit,
        "g string, day string, y bigint, fitted double, level double, trend double",
    ).withColumnRenamed("g", group_col)
