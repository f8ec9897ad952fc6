"""The benchmark's workloads: which engine calls a pass makes, and how
each result is checked against DuckDB.

A workload is an ordered list of :class:`Query`.  ``build`` constructs
the engine's DataFrame (any eager jobs an operator issues while it is
built run here).  The terminal action collects the result, or, for a
query with ``write``, writes it to a sink that ``check`` then reads back.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections.abc import Callable
from dataclasses import dataclass

import duckdb
import numpy as np
import pandas as pd

from . import inputs

#: the graph queries a ``graph_loops`` pass runs, in order: iterative
#: operators that persist, cut lineage and issue many small jobs.  A warm
#: pass over all six registered loop queries takes about 35 s on 4 cores;
#: these two keep a pass near 2 s and still cover per-round persists
#: (pagerank) and eager construction jobs with lineage cuts (kcore).
GRAPH_QUERIES = ("graph_pagerank", "graph_kcore")


@dataclass(frozen=True)
class Query:
    name: str
    #: ``(spark, input_dir, out_dir) -> DataFrame``
    build: Callable
    #: ``(df, out_dir) -> sink path``: the action, when it is a write
    write: Callable | None = None
    #: ``(out_dir) -> digest`` of what ``write`` left in the sink
    check: Callable | None = None
    #: the sink (under ``out_dir``) this query scans instead of the inputs
    reads_sink: str | None = None


def digest(pdf: pd.DataFrame) -> str:
    """Order-insensitive value hash of a result frame.

    Columns are sorted by name and rows by value; integers compare as
    int64 and floats bit for bit as float64 (both engines are expected
    to produce the same doubles, see ``functions/numeric.py``)."""
    cols = sorted(pdf.columns)
    df = pdf.reindex(cols, axis=1)
    for c in cols:
        col = df[c]
        if pd.api.types.is_datetime64_any_dtype(col):
            if getattr(col.dtype, "tz", None) is not None:
                col = col.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = col.astype("datetime64[us]")
        elif pd.api.types.is_bool_dtype(col):
            df[c] = col.astype(bool)
        elif pd.api.types.is_float_dtype(col):
            a = col.to_numpy(dtype="float64").copy()
            a[np.isnan(a)] = np.nan  # one NaN bit pattern on both sides
            df[c] = a
        elif pd.api.types.is_integer_dtype(col):
            df[c] = col.astype("int64")
        else:
            df[c] = col.map(lambda v: repr(list(v)) if isinstance(v, (list, tuple, np.ndarray)) else v)
    if cols:
        df = df.sort_values(by=cols, kind="mergesort").reset_index(drop=True)
    h = hashlib.sha256(repr([(c, str(df[c].dtype)) for c in cols]).encode())
    h.update(pd.util.hash_pandas_object(df, index=False).to_numpy().tobytes())
    return f"{len(df)}:{h.hexdigest()[:16]}"


# --------------------------------------------------------------------------
# taxi_scan: the reference's job at volume
# --------------------------------------------------------------------------

#: where the ingest leg writes, under the run's output directory
SINK = "trips.parquet"


def _csv_glob(input_dir: str) -> str:
    return os.path.join(input_dir, "*.csv")


def _taxi_ingest(spark, input_dir: str, out_dir: str):
    from pyspark.sql import functions as F

    from durablefunctions_mapreduce_dotnet_spark.sources.trips import read_trips_csv_faithful

    trips = read_trips_csv_faithful(spark, _csv_glob(input_dir))
    # one partition directory per source month, so the parquet leg sees
    # the same per-file grouping the reference's answer depends on
    return trips.withColumn("month", F.regexp_extract("file", r"(\d{4}-\d{2})\.csv$", 1)).drop("file")


def _taxi_flagship_csv(spark, input_dir: str, out_dir: str):
    from durablefunctions_mapreduce_dotnet_spark.operators.flagship import flagship_trips
    from durablefunctions_mapreduce_dotnet_spark.sources.trips import list_csv_files, read_trips_csv_faithful

    path = _csv_glob(input_dir)
    return flagship_trips(read_trips_csv_faithful(spark, path), files=list_csv_files(spark, path))


def _taxi_flagship_parquet(spark, input_dir: str, out_dir: str):
    from durablefunctions_mapreduce_dotnet_spark.operators.flagship import flagship_trips
    from durablefunctions_mapreduce_dotnet_spark.sources.trips import read_trips_parquet

    return flagship_trips(read_trips_parquet(spark, os.path.join(out_dir, SINK)))


def _taxi_write(df, out_dir: str) -> str:
    from durablefunctions_mapreduce_dotnet_spark.sources.sinks import write_parquet_partitioned

    path = os.path.join(out_dir, SINK)
    write_parquet_partitioned(df, path, partition_by=["month"])
    return path


#: what the ingest check aggregates: valid-row count and the exact
#: decimal distance total, per month
_INGEST_CHECK = """
SELECT month, COUNT(*) AS n, SUM(CAST(dist AS DECIMAL(38,3))) AS dist FROM ({src}) GROUP BY month
"""
_CSV_VALID_ROWS = r"""
SELECT regexp_extract(file, '(\d{{4}}-\d{{2}})\.csv$', 1) AS month, f[5] AS dist
FROM (SELECT file, string_split(line, ',') AS f
      FROM (SELECT filename AS file, unnest(string_split(content, chr(10))) AS line
            FROM read_text('{glob}')))
WHERE len(f) = 17 AND TRY_CAST(f[1] AS INTEGER) IS NOT NULL
"""
_PARQUET_ROWS = """
SELECT month, trip_distance AS dist
FROM read_parquet('{path}/**/*.parquet', hive_partitioning = true, hive_types_autocast = false)
"""


def _taxi_expected(con: duckdb.DuckDBPyConnection, input_dir: str) -> dict[str, str]:
    from durablefunctions_mapreduce_dotnet_spark.queries import all_oracles
    from durablefunctions_mapreduce_dotnet_spark.queries.flagship_q import _TRIPS_GLOB

    # the registered oracle reads the committed fixture; point it at the
    # generated CSVs instead
    flagship = all_oracles()["flagship_csv_faithful"].replace(_TRIPS_GLOB, _csv_glob(input_dir))
    answer = digest(con.execute(flagship).df())
    ingest = _INGEST_CHECK.format(src=_CSV_VALID_ROWS.format(glob=_csv_glob(input_dir)))
    return {
        "ingest_parquet": digest(con.execute(ingest).df()),
        "flagship_csv": answer,
        "flagship_parquet": answer,
    }


def check_ingest(out_dir: str) -> str:
    """Digest of what the ingest leg wrote, comparable to its expected
    value.  Reads the sink with DuckDB, not with the engine."""
    path = os.path.join(out_dir, SINK)
    con = duckdb.connect()
    try:
        return digest(con.execute(_INGEST_CHECK.format(src=_PARQUET_ROWS.format(path=path))).df())
    finally:
        con.close()


TAXI_SCAN = (
    Query("ingest_parquet", _taxi_ingest, write=_taxi_write, check=check_ingest),
    Query("flagship_csv", _taxi_flagship_csv),
    Query("flagship_parquet", _taxi_flagship_parquet, reads_sink=SINK),
)


# --------------------------------------------------------------------------
# graph_loops: registered iterative graph queries on a generated lineitem
# --------------------------------------------------------------------------

def _registered(name: str) -> Callable:
    def build(spark, input_dir: str, out_dir: str):
        from durablefunctions_mapreduce_dotnet_spark.queries import all_queries

        return all_queries()[name](spark, input_dir)

    return build


def _graph_expected(con: duckdb.DuckDBPyConnection, input_dir: str) -> dict[str, str]:
    from durablefunctions_mapreduce_dotnet_spark.queries import all_oracles

    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{input_dir}/lineitem.parquet/*.parquet')"
    )
    oracles = all_oracles()
    return {name: digest(con.execute(oracles[name]).df()) for name in GRAPH_QUERIES}


GRAPH_LOOPS = tuple(Query(name, _registered(name)) for name in GRAPH_QUERIES)

WORKLOADS: dict[str, tuple[Query, ...]] = {"taxi_scan": TAXI_SCAN, "graph_loops": GRAPH_LOOPS}
_EXPECTED = {"taxi_scan": _taxi_expected, "graph_loops": _graph_expected}


def prepare(workload: str, seed: int) -> dict:
    """Generate (or reuse) the inputs for ``(workload, seed)`` and their
    expected answers: every query's digest, computed once per input set
    with DuckDB and kept beside the inputs."""
    input_dir = inputs.ensure_inputs(workload, seed)
    cached = f"{input_dir}.expected.json"
    if os.path.exists(cached):
        with open(cached) as fh:
            return json.load(fh)
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        expected = _EXPECTED[workload](con, input_dir)
    finally:
        con.close()
    files, size = inputs.dir_stats(input_dir)
    prep = {"input_dir": input_dir, "input_mb": size / 1e6, "input_files": files, "expected": expected}
    with open(f"{cached}.tmp", "w") as fh:
        json.dump(prep, fh)
    os.replace(f"{cached}.tmp", cached)
    return prep
