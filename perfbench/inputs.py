"""Seeded input generator for the benchmark workloads.

Inputs are written under ``perfbench/.data/<workload>-<seed>/`` (ignored
by git) and reused when a run repeats a seed.  The engine only ever
receives the generated paths.

* ``taxi_scan``: 12 monthly CSVs of 2017 yellow-taxi trips in the
  reference's 17-column shape (FIXTURES.md section 1), with its dirt:
  16-field rows, a non-int ``VendorID``, blank lines, zero distance and
  zero or negative duration.  The seed draws every row.
* ``graph_loops``: a ``lineitem`` table shaped like the TPC-H-style
  synthetic tables (uniform order/part/supplier keys, about 4 lines per
  order).  The table's content is fixed; the seed permutes its row
  order and how the rows are split over files, so the answers never
  change with the seed but the physical input does.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_ROOT = os.path.join(HERE, ".data")

# Sizes keep one run (three set-ups, a cold pass, three warm-up passes and
# the timed window) under a minute on a 4-core host.  At these sizes the
# engine's per-job overhead weighs as much as the data volume does.
TAXI_FILES = 12
TAXI_ROWS_PER_FILE = 15_000
GRAPH_LINEITEM_ROWS = 8_000
GRAPH_FILES = 4
#: fixed content seed of the graph table: the run seed only permutes it
GRAPH_CONTENT_SEED = 42

TAXI_HEADER = (
    "VendorID,tpep_pickup_datetime,tpep_dropoff_datetime,passenger_count,"
    "trip_distance,RatecodeID,store_and_fwd_flag,PULocationID,DOLocationID,"
    "payment_type,fare_amount,extra,mta_tax,tip_amount,tolls_amount,"
    "improvement_surcharge,total_amount"
)


def _taxi_month(rng: np.random.Generator, month: int, n: int) -> list[str]:
    """One month of trip lines, dirt included, in a seeded row order."""
    start = np.datetime64(f"2017-{month:02d}-01T00:00:00", "s")
    # the first 28 days of every month hold each weekday exactly 4 times
    pickup = start + rng.integers(0, 28 * 86_400, n).astype("timedelta64[s]")
    # durations: mostly real trips, some zero (infinite speed, dropped)
    # and some negative (negative speed, kept by the reference)
    kind = rng.choice(3, n, p=[0.9, 0.04, 0.06])
    dur = np.where(kind == 0, rng.integers(120, 5_400, n),
                   np.where(kind == 1, 0, -rng.integers(60, 600, n)))
    dropoff = pickup + dur.astype("timedelta64[s]")
    dist = np.where(rng.random(n) < 0.05, 0.0, np.round(rng.uniform(0.2, 15.0, n), 3))
    fare = np.round(2.5 + dist * 2.1, 2)
    con = duckdb.connect()
    try:
        cols = {
            "vendor": rng.integers(1, 3, n),
            "pu": pickup.astype("datetime64[us]"),
            "do": dropoff.astype("datetime64[us]"),
            "pax": rng.integers(1, 5, n),
            "dist": dist,
            "flag": np.where(rng.random(n) < 0.5, "N", "Y"),
            "pul": rng.integers(1, 266, n),
            "dol": rng.integers(1, 266, n),
            "pay": rng.integers(1, 3, n),
            "fare": fare,
            "tip": np.round(fare * 0.15, 2),
            "total": np.round(fare * 1.2, 2),
        }
        con.register("t", pa.table(cols))
        lines = con.execute(
            """SELECT concat_ws(',', vendor, strftime(pu, '%Y-%m-%d %H:%M:%S'),
                      strftime("do", '%Y-%m-%d %H:%M:%S'), pax, dist, 1, flag, pul,
                      dol, pay, fare, 0.5, 0.5, tip, 0.0, 0.3, total)
               FROM t"""
        ).fetchnumpy()
    finally:
        con.close()
    rows = list(next(iter(lines.values())))
    # the reference's dirt, at fixed rates (FIXTURES.md section 1)
    dirt: list[str] = []
    for i in rng.choice(n, n // 50, replace=False):
        dirt.append(rows[i].rsplit(",", 1)[0])  # 16 fields
    for i in rng.choice(n, n // 100, replace=False):
        dirt.append("garbage," + rows[i].split(",", 1)[1])  # non-int VendorID
    dirt.extend([""] * (n // 200))  # blank lines
    out = np.array(rows + dirt, dtype=object)
    return [TAXI_HEADER] + list(out[rng.permutation(len(out))])


def _write_taxi(path: str, seed: int) -> None:
    rng = np.random.default_rng(seed)
    for month in range(1, TAXI_FILES + 1):
        lines = _taxi_month(rng, month, TAXI_ROWS_PER_FILE)
        with open(os.path.join(path, f"yellow_tripdata_2017-{month:02d}.csv"), "w") as fh:
            fh.write("\n".join(lines) + "\n")


def _lineitem(n: int) -> pa.Table:
    rng = np.random.default_rng(GRAPH_CONTENT_SEED)
    ship = np.datetime64("1995-01-01", "D") + rng.integers(0, 7 * 365, n).astype("timedelta64[D]")
    return pa.table({
        "l_orderkey": rng.integers(0, n // 4, n),
        "l_partkey": rng.integers(0, n // 30, n),
        "l_suppkey": rng.integers(0, max(n // 600, 4), n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 100_000.0, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
        "l_linestatus": rng.choice(np.array(["F", "O"]), n),
        "l_shipdate": ship.astype("datetime64[us]"),
    })


def _write_graph(path: str, seed: int) -> None:
    rng = np.random.default_rng(seed)
    table = _lineitem(GRAPH_LINEITEM_ROWS)
    table = table.take(rng.permutation(table.num_rows))
    cuts = np.sort(rng.choice(np.arange(1, table.num_rows), GRAPH_FILES - 1, replace=False))
    bounds = [0, *cuts.tolist(), table.num_rows]
    tdir = os.path.join(path, "lineitem.parquet")
    os.makedirs(tdir)
    for k in range(GRAPH_FILES):
        part = table.slice(bounds[k], bounds[k + 1] - bounds[k])
        pq.write_table(part, os.path.join(tdir, f"part-{k:05d}.parquet"))


_WRITERS = {"taxi_scan": _write_taxi, "graph_loops": _write_graph}


def ensure_inputs(workload: str, seed: int) -> str:
    """Return the input directory for ``(workload, seed)``, generating it
    on first use.  A half-written directory is never reused: files are
    written into a temporary sibling that is renamed into place."""
    path = os.path.join(DATA_ROOT, f"{workload}-{seed}")
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    os.makedirs(tmp)
    _WRITERS[workload](tmp, seed)
    os.rename(tmp, path)
    return path


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, leaving out the ``_SUCCESS``
    markers and ``.crc`` checksums Spark writes beside its data."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith(("_", ".")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size
