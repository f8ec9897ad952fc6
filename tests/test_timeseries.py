"""Hand-computed semantics for operators.timeseries.gap_fill (the SQL
oracle locks cross-engine parity; this locks the intended math on a
frame small enough to eyeball)."""

from __future__ import annotations

import datetime as dt

from durablefunctions_mapreduce_dotnet_spark.operators.timeseries import gap_fill


def _ts(minute: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 0, minute)


def test_gap_fill_locf_and_linear_on_interior_gaps(spark):
    rows = [
        # series a: observations in minutes 0 and 3 -> gap buckets 1, 2
        ("a", _ts(0), 1, 10.0),
        ("a", _ts(3), 2, 40.0),
        # series b: two obs in ONE bucket -> later (ts, id) wins; no gaps
        ("b", _ts(0), 3, 5.0),
        ("b", _ts(0), 4, 7.0),
    ]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, event_id long, value double")
    out = {
        (r["series"], r["bucket"]): r
        for r in gap_fill(df, "event_type", "ts", "value", step_seconds=60).collect()
    }
    base = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())

    a0, a1, a2, a3 = (out[("a", base + 60 * i)] for i in range(4))
    assert (a0["v_obs"], a0["v_locf"], a0["v_lin"]) == (10.0, 10.0, 10.0)
    assert a1["v_obs"] is None and a1["v_locf"] == 10.0 and a1["v_lin"] == 20.0
    assert a2["v_obs"] is None and a2["v_locf"] == 10.0 and a2["v_lin"] == 30.0
    assert (a3["v_obs"], a3["v_locf"], a3["v_lin"]) == (40.0, 40.0, 40.0)

    assert set(k for k in out if k[0] == "b") == {("b", base)}
    assert out[("b", base)]["v_obs"] == 7.0  # (ts, id)-max representative

def test_gap_fill_chunked_grid_and_span_guard(spark):
    """r12 VERDICT #5 — the pathological sparse series: two points far
    apart must (a) densify correctly across many chunk boundaries with
    a tiny chunk_buckets (the chunked nested-generator grid emits
    exactly the same buckets as the old single sequence), and (b) fail
    LOUDLY, naming the series, once the span exceeds max_grid_buckets
    — never silently truncate or OOM."""
    import pytest

    rows = [
        ("sparse", _ts(0), 1, 0.0),
        # 50 minutes later: span = 51 buckets at step 60 — crosses many
        # 7-bucket chunks, start/end NOT chunk-aligned
        ("sparse", dt.datetime(2024, 1, 1, 0, 50), 2, 100.0),
    ]
    df = spark.createDataFrame(
        rows, "event_type string, ts timestamp, event_id long, value double"
    )
    out = gap_fill(
        df, "event_type", "ts", "value", step_seconds=60, chunk_buckets=7
    ).collect()
    base = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())
    assert sorted(r["bucket"] for r in out) == [base + 60 * i for i in range(51)]
    by = {r["bucket"]: r for r in out}
    assert by[base + 60 * 25]["v_lin"] == 50.0  # midpoint interpolates
    assert by[base + 60 * 49]["v_locf"] == 0.0

    with pytest.raises(Exception, match="sparse.*spans more than 40 buckets"):
        gap_fill(
            df, "event_type", "ts", "value", step_seconds=60,
            max_grid_buckets=40, chunk_buckets=7,
        ).collect()


def test_gap_fill_matches_pandas_reference_on_random_series(spark):
    """Oracle-independent differential check: random series vs a
    from-scratch pandas mirror (bucket floor-div, last-(ts,id)-wins
    representative, ffill LOCF, index-interpolated linear)."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(7)
    rows = []
    for s in ("x", "y", "z"):
        n = int(rng.integers(3, 40))
        secs = np.sort(rng.choice(np.arange(0, 86_400, 7), size=n, replace=False))
        for i, sec in enumerate(secs):
            rows.append(
                (
                    s,
                    dt.datetime(2024, 3, 1) + dt.timedelta(seconds=int(sec)),
                    int(1000 * ord(s) + i),
                    float(rng.normal()),
                )
            )
    df = spark.createDataFrame(
        rows, "event_type string, ts timestamp, event_id long, value double"
    )
    step = 600
    got = (
        gap_fill(df, "event_type", "ts", "value", step_seconds=step)
        .toPandas()
        .sort_values(["series", "bucket"])
        .reset_index(drop=True)
    )

    pdf = pd.DataFrame(rows, columns=["series", "ts", "id", "v"])
    epoch = dt.datetime(1970, 1, 1)
    pdf["bucket"] = pdf["ts"].map(lambda t: int((t - epoch).total_seconds()) // step)
    exp_parts = []
    for s, g in pdf.groupby("series"):
        obs = (
            g.sort_values(["ts", "id"]).groupby("bucket").last()["v"]
        )  # last (ts, id) wins
        full = pd.RangeIndex(obs.index.min(), obs.index.max() + 1)
        dense = obs.reindex(full)
        lin = dense.copy()
        lin.index = full  # interpolate on the bucket index (linear in bucket)
        exp_parts.append(
            pd.DataFrame(
                {
                    "series": s,
                    "bucket": [b * step for b in full],
                    "v_obs": dense.values,
                    "v_locf": dense.ffill().values,
                    "v_lin": lin.interpolate(method="index").values,
                }
            )
        )
    exp = pd.concat(exp_parts).sort_values(["series", "bucket"]).reset_index(drop=True)

    assert got["series"].tolist() == exp["series"].tolist()
    assert got["bucket"].tolist() == exp["bucket"].tolist()
    for c in ("v_obs", "v_locf", "v_lin"):
        a, b = got[c].to_numpy(), exp[c].to_numpy()
        both_nan = np.isnan(a) & np.isnan(b)
        assert (both_nan | np.isclose(a, b, rtol=1e-12, equal_nan=False)).all(), c


def test_sax_motif_finds_planted_scaled_motif(spark):
    """A motif repeated later in the series at a different scale and
    offset (y = 3x + 40) must be the rank-1 pair with near-zero
    z-normalized distance — z-normalization is exactly what makes the
    two instances identical; the random filler must not outrank it.
    Also pins the non-overlap contract (start_b >= start_a + m)."""
    import math

    from pyspark.sql import functions as F

    from durablefunctions_mapreduce_dotnet_spark.operators.timeseries import (
        sax_similar_subsequences,
    )

    motif = [math.sin(t / 2.5) * 10 + (t % 3) for t in range(16)]
    # aperiodic filler: an arithmetic mod-ramp would z-normalize into
    # IDENTICAL window shapes (every segment is affine in i) and flood
    # the result with zero-distance pairs
    filler = [math.sin(i * i * 0.7) * 50 + (i * 37 % 113) for i in range(200)]
    series = (
        filler[:40] + motif + filler[40:120]
        + [3 * v + 40 for v in motif] + filler[120:]
    )
    rows = [(i, i, "s", float(v)) for i, v in enumerate(series)]
    df = spark.createDataFrame(
        rows, "event_id bigint, t bigint, event_type string, value double"
    ).select(
        "event_id",
        F.timestamp_seconds("t").alias("ts"),
        "event_type",
        "value",
    )
    out = sax_similar_subsequences(
        df, m=16, stride=4, paa=4, k=3
    ).collect()
    assert out, "no pairs found"
    top = out[0]
    assert (top["start_a"], top["start_b"]) == (40, 136)
    assert top["dist"] < 1e-6
    for r in out:
        assert r["start_b"] >= r["start_a"] + 16


def test_seasonal_decompose_reconstructs_and_is_phase_constant(spark):
    """Interior days must satisfy y = trend + seasonal + residual up to
    the 9-dp output rounding; seasonal must be a pure function of the
    period phase; edge days (incomplete centered window) have NULL
    trend/residual."""
    from datetime import date

    from durablefunctions_mapreduce_dotnet_spark.operators.timeseries import (
        seasonal_decompose,
    )
    from durablefunctions_mapreduce_dotnet_spark.sources.readers import read_table

    from .conftest import SF_DIR

    e = read_table(spark, SF_DIR, "events")
    rows = seasonal_decompose(e, period=7).orderBy("day").collect()
    assert len(rows) == 30
    by_phase = {}
    n_interior = 0
    for r in rows:
        d = date.fromisoformat(r["day"])
        phase = d.toordinal() % 7  # same modulus stream as epoch-day % 7
        if r["seasonal"] is not None:
            by_phase.setdefault(phase, set()).add(r["seasonal"])
        if r["trend"] is None:
            assert r["residual"] is None
            continue
        n_interior += 1
        assert abs(r["y"] - (r["trend"] + r["seasonal"] + r["residual"])) < 3e-9
    assert n_interior == 24  # 30 days - 3 edge days each side
    assert all(len(v) == 1 for v in by_phase.values())


def test_seasonal_decompose_even_period_matches_reference(spark):
    """EVEN period (12): trend must equal the classical 2×period
    centered MA — a 13-day window with HALF weight on the two edge days
    — computed independently in Python from the daily counts; the
    y = trend + seasonal + residual identity and phase-constant
    seasonal still hold."""
    from datetime import date, timedelta

    import pyspark.sql.functions as F

    from durablefunctions_mapreduce_dotnet_spark.operators.timeseries import (
        seasonal_decompose,
    )
    from durablefunctions_mapreduce_dotnet_spark.sources.readers import read_table

    from .conftest import SF_DIR

    e = read_table(spark, SF_DIR, "events")
    daily = {
        r["d"]: r["y"]
        for r in e.groupBy(
            F.date_trunc("day", F.col("ts")).cast("date").alias("d")
        )
        .agg(F.count(F.lit(1)).alias("y"))
        .collect()
    }
    rows = seasonal_decompose(e, period=12).orderBy("day").collect()
    assert len(rows) == len(daily) == 30
    n_interior = 0
    by_phase = {}
    for r in rows:
        d = date.fromisoformat(r["day"])
        if r["seasonal"] is not None:
            by_phase.setdefault(d.toordinal() % 12, set()).add(r["seasonal"])
        window = [d + timedelta(days=k) for k in range(-6, 7)]
        if not all(w in daily for w in window):
            assert r["trend"] is None and r["residual"] is None
            continue
        n_interior += 1
        t2 = sum(
            (1 if abs(k) == 6 else 2) * daily[d + timedelta(days=k)]
            for k in range(-6, 7)
        )
        assert abs(r["trend"] - t2 / 24.0) < 1e-9, (r["day"], r["trend"])
        assert abs(r["y"] - (r["trend"] + r["seasonal"] + r["residual"])) < 3e-9
    assert n_interior == 30 - 12  # 6 edge days each side
    assert all(len(v) == 1 for v in by_phase.values())


def test_holt_winters_constant_series_is_flat(spark):
    """On a constant daily series the fit must be exact: seasonal init
    is all-zero, level stays at the constant, trend stays 0, and every
    one-step-ahead fitted value equals y."""
    import datetime

    from durablefunctions_mapreduce_dotnet_spark.operators.timeseries import (
        holt_winters_fit,
    )

    rows = [
        ("a", datetime.datetime(2024, 1, 1 + d, 12, 0, 0))
        for d in range(21)
        for _ in range(5)
    ]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    out = holt_winters_fit(df, period=7).collect()
    assert len(out) == 14  # t = 7..20
    for r in out:
        assert r["y"] == 5
        assert abs(r["fitted"] - 5.0) < 1e-12
        assert abs(r["level"] - 5.0) < 1e-12
        assert abs(r["trend"]) < 1e-12


def test_holt_winters_short_series_raises(spark):
    """Fewer than 2*period days cannot initialize — loud error, not a
    silently-wrong fit."""
    import datetime

    import pytest

    from durablefunctions_mapreduce_dotnet_spark.operators.timeseries import (
        holt_winters_fit,
    )

    rows = [("a", datetime.datetime(2024, 1, 1 + d, 12, 0, 0)) for d in range(10)]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    with pytest.raises(Exception, match="initialization needs"):
        holt_winters_fit(df, period=7).collect()


def test_holt_winters_densifies_missing_days(spark):
    """A silent day inside the span must enter the series as y=0 (counts
    densify), not be skipped — the day after the hole sees a 0 in its
    seasonal lag."""
    import datetime

    from durablefunctions_mapreduce_dotnet_spark.operators.timeseries import (
        holt_winters_fit,
    )

    days = [d for d in range(21) if d != 10]
    rows = [
        ("a", datetime.datetime(2024, 1, 1 + d, 12, 0, 0)) for d in days
    ]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    out = {r["day"]: r["y"] for r in holt_winters_fit(df, period=7).collect()}
    assert out["2024-01-11"] == 0
    assert out["2024-01-12"] == 1


def test_acf_matches_closed_form_integer_reference(spark):
    """acf() vs the estimator computed with EXACT integer arithmetic in
    Python (Fraction) on a hand-built daily series — locks the jagged-
    window mean-adjusted formula, the lag parameterization, and the
    6-dp rounding.  Series: y = [3, 1, 4, 1, 5, 9, 2, 6] on consecutive
    days (one event per count unit)."""
    from fractions import Fraction

    from durablefunctions_mapreduce_dotnet_spark.operators.timeseries import acf

    counts = [3, 1, 4, 1, 5, 9, 2, 6]
    rows = []
    eid = 0
    for day, c in enumerate(counts):
        for _ in range(c):
            rows.append((eid, dt.datetime(2024, 3, 1 + day, 12, 0)))
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, ts timestamp")

    max_lag = 5
    out = {r["lag"]: r for r in acf(df, max_lag=max_lag).collect()}
    assert set(out) == set(range(1, max_lag + 1))

    n, s = len(counts), sum(counts)
    yy = sum(y * y for y in counts)
    for lag in range(1, max_lag + 1):
        pairs = list(zip(counts[:-lag], counts[lag:]))
        m = len(pairs)
        syy2 = sum(a * b for a, b in pairs)
        a_sum = sum(a for a, _ in pairs)
        b_sum = sum(b for _, b in pairs)
        num = n * n * syy2 - n * s * (a_sum + b_sum) + m * s * s
        den = n * (n * yy - s * s)
        expected = round(float(Fraction(num, 1)) / float(Fraction(den, 1)), 6)
        assert out[lag]["n_pairs"] == m
        assert abs(out[lag]["acf"] - expected) < 5e-7, (
            lag,
            out[lag]["acf"],
            expected,
        )

    # lag-1 sign sanity on a strictly alternating series: negative
    alt = [10, 1] * 6
    rows2, eid = [], 0
    for day, c in enumerate(alt):
        for _ in range(c):
            rows2.append((eid, dt.datetime(2024, 5, 1 + day, 6, 0)))
            eid += 1
    df2 = spark.createDataFrame(rows2, "event_id long, ts timestamp")
    got = {r["lag"]: r["acf"] for r in acf(df2, max_lag=2).collect()}
    assert got[1] < 0 < got[2]


def test_changepoint_finds_planted_level_shift(spark):
    """CUSUM must localize an abrupt level shift: 20 days at rate 2,
    then 20 days at rate 10 — |CUSUM'| peaks exactly at the last
    pre-shift day.  Also locks the ×n integer scaling against a
    hand-computed reference.  Calls the SAME operator body the
    registered query routes through (operators.timeseries.
    cusum_changepoint), so a regression there fails here too."""
    import pyspark.sql.functions as F

    from durablefunctions_mapreduce_dotnet_spark.operators.timeseries import (
        cusum_changepoint,
    )

    counts = [2] * 20 + [10] * 20
    rows, eid = [], 0
    for day, c in enumerate(counts):
        for _ in range(c):
            rows.append((eid, dt.datetime(2024, 1, 1, 8, 0) + dt.timedelta(days=day)))
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, ts timestamp")

    daily = df.groupBy(
        F.lit("synthetic").alias("event_type"),
        F.date_trunc("day", F.col("ts")).cast("date").alias("d"),
    ).agg(F.count(F.lit(1)).alias("y"))
    best = cusum_changepoint(daily).first()

    # expected: peak at t=20 (last low day); CUSUM' = n*run - t*S with
    # n=40, S=240: run(20)=40 -> 40*40 - 20*240 = -3200
    assert str(best["d"]) == "2024-01-20"
    assert int(best["cusum_scaled"]) == 40 * 40 - 20 * 240 == -3200
    assert best["n_days"] == 40


def test_ewma_constant_and_step_series(spark):
    """EWMA invariants on planted series: a constant series is a fixed
    point (ewma == level exactly — renormalized weights sum to 1 in
    exact rationals, and level·den/den is one exact division); after a
    step change the smoothed value moves monotonically toward the new
    level and never overshoots."""
    import os
    import tempfile

    import numpy as np

    from durablefunctions_mapreduce_dotnet_spark.queries.timeseries_q import (
        q_ts_ewma,
    )

    counts = [5] * 25 + [50] * 15
    rows, eid = [], 0
    for day, c in enumerate(counts):
        for _ in range(c):
            rows.append(
                (eid, "steady" if day < 0 else "stepped",
                 dt.datetime(2024, 3, 1, 12, 0) + dt.timedelta(days=day))
            )
            eid += 1
    # constant twin: 7/day for 30 days
    for day in range(30):
        for _ in range(7):
            rows.append((eid, "constant", dt.datetime(2024, 3, 1, 12, 0) + dt.timedelta(days=day)))
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, event_type string, ts timestamp")
    tmp = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(tmp, "events.parquet"))
    out = q_ts_ewma(spark, tmp).toPandas()

    const = out[out.event_type == "constant"].sort_values("day")
    assert (const.ewma == 7.0).all()

    step = out[out.event_type == "stepped"].sort_values("day").reset_index(drop=True)
    post = step.ewma[25:].to_numpy()
    assert (np.diff(post) > 0).all()  # monotone approach to 50
    assert post.max() <= 50.0
    assert post[-1] > 45.0  # 15 steps of alpha=.3 close most of the gap
