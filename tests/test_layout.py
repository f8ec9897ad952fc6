"""Z-order layout (sources.layout): per-file min/max ranges must tighten
on EVERY clustered column simultaneously vs an arrival-ordered write —
that tightening is precisely what parquet row-group/file pruning
consumes, so it's the property worth locking (not a plan string)."""

from __future__ import annotations

import glob

import pyarrow.parquet as pq

from durablefunctions_mapreduce_dotnet_spark.sources.layout import (
    write_zordered,
    zorder_code,
)
from durablefunctions_mapreduce_dotnet_spark.sources.readers import read_table

from .conftest import SF_DIR

COLS = ["user_id", "value"]


def _mean_span(path: str, col: str) -> float:
    """Mean per-file (max-min) extent of ``col``, normalized by the
    global extent — 1.0 means every file covers the whole range (no
    pruning possible), ~1/sqrt(num_files) is ideal 2-dim clustering."""
    spans, los, his = [], [], []
    for f in glob.glob(f"{path}/*.parquet"):
        meta = pq.read_metadata(f)
        idx = meta.schema.to_arrow_schema().get_field_index(col)
        lo = min(meta.row_group(g).column(idx).statistics.min for g in range(meta.num_row_groups))
        hi = max(meta.row_group(g).column(idx).statistics.max for g in range(meta.num_row_groups))
        spans.append(hi - lo)
        los.append(lo)
        his.append(hi)
    whole = max(his) - min(los)
    return (sum(spans) / len(spans)) / whole


def test_zorder_tightens_all_clustered_columns(spark, tmp_path):
    e = read_table(spark, SF_DIR, "events").select("event_id", *COLS)
    naive = str(tmp_path / "naive")
    zord = str(tmp_path / "zord")
    # arrival-ordered baseline at the same file count
    e.repartition(8).write.mode("overwrite").parquet(naive)
    write_zordered(e, zord, COLS, num_files=8)

    # same rows, just rearranged
    assert spark.read.parquet(zord).count() == e.count()

    for col in COLS:
        n, z = _mean_span(naive, col), _mean_span(zord, col)
        # each file should cover well under half the range on BOTH
        # dimensions at once; the naive layout covers ~all of it
        assert z < 0.6, f"{col}: z-ordered span {z:.2f}"
        assert z < n * 0.7, f"{col}: z {z:.2f} not tighter than naive {n:.2f}"


def test_zorder_code_is_deterministic_pure_expression(spark):
    e = read_table(spark, SF_DIR, "events")
    a = e.select(zorder_code(e, COLS).alias("z")).groupBy().sum("z").first()[0]
    b = e.select(zorder_code(e, COLS).alias("z")).groupBy().sum("z").first()[0]
    assert a == b


def test_zorder_code_stays_long_beyond_32_bits(spark):
    """4 columns x 8 bits = 32 interleaved bits: an int32 accumulator
    would wrap through the sign bit and order max-bucket rows FIRST."""
    from pyspark.sql import functions as F

    e = read_table(spark, SF_DIR, "events")
    z = zorder_code(e, ["user_id", "value", "event_id", "ts"], bits=8)
    lo, hi = e.select(F.min(z), F.max(z)).first()
    assert lo >= 0, f"negative Morton code {lo}: int32 wraparound"
    assert hi >= (1 << 24)  # high interleaved bits actually populated


def test_grid_layout_audit_pruning_and_balance(spark):
    """The audit's own claims, locked: (a) files are exactly
    equal-count (+-1 row) under BOTH layouts, (b) the trailing-column
    band filter touches every linear file but a sub-half fraction of
    zorder files, (c) BOTH dimensions' zorder spans stay near the
    theoretical ~2^(bits/2) = 8 cell width (unaligned tile boundaries
    can at most double it), while linear leaves the trailing dimension
    at full width — which is the whole point of the curve."""
    from durablefunctions_mapreduce_dotnet_spark.sources.layout import (
        grid_layout_audit,
    )

    e = read_table(spark, SF_DIR, "events")
    out = grid_layout_audit(e, COLS, "event_id", bits=6, n_files=64).toPandas()
    n = e.count()
    by = {k: g for k, g in out.groupby("layout")}
    for k, g in by.items():
        assert len(g) == 64
        assert int(g.n_rows.max()) - int(g.n_rows.min()) <= 1, k
        assert int(g.n_rows.sum()) == n, k
    lin, zrd = by["linear"], by["zorder"]
    assert int(lin.touch_b1.sum()) == 64  # trailing col: no pruning at all
    assert int(zrd.touch_b1.sum()) <= 32  # zorder: band filter skips >=half
    assert (zrd.max_b0 - zrd.min_b0).mean() <= 16  # ~8 ideal, 2x slack
    assert (zrd.max_b1 - zrd.min_b1).mean() <= 16
    assert (lin.max_b1 - lin.min_b1).mean() >= 48  # linear: full width
