"""Taxi-trip sources: the reference's actual input shape.

The reference reads headered CSV blobs line-at-a-time, naively splits
on ``','`` (no quote handling, ``Sample.cs:151``), and accepts a row
iff it splits into exactly 17 fields and field 0 parses as int
(``Sample.cs:154-157``) — that one predicate doubles as header-skip,
blank-line-skip and malformed-row rejection.

Two readers are provided:

* **faithful** — ``spark.read.text`` + explicit ``split`` reproduces the
  naive comma split bit-for-bit (Spark's CSV reader honors quoting; the
  reference does not).  Whole-stage codegen fuses split/parse/filter
  into one generated loop, so this is still a single streaming pass.
* **idiomatic** — the CSV datasource with an explicit schema; faster
  (vectorized parse) and the right choice when inputs are well-formed.

Both attach ``input_file_name()`` as ``file`` because per-file grouping
is load-bearing: the reference's answer is an unweighted average of
per-file averages (``Sample.cs:196-199, 226-233``).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# FIXTURES.md §1 — NYC Yellow 2017: exactly 17 positional columns.
TRIPS_COLUMNS = [
    ("VendorID", T.IntegerType()),
    ("tpep_pickup_datetime", T.TimestampType()),
    ("tpep_dropoff_datetime", T.TimestampType()),
    ("passenger_count", T.IntegerType()),
    ("trip_distance", T.DoubleType()),
    ("RatecodeID", T.IntegerType()),
    ("store_and_fwd_flag", T.StringType()),
    ("PULocationID", T.IntegerType()),
    ("DOLocationID", T.IntegerType()),
    ("payment_type", T.IntegerType()),
    ("fare_amount", T.DoubleType()),
    ("extra", T.DoubleType()),
    ("mta_tax", T.DoubleType()),
    ("tip_amount", T.DoubleType()),
    ("tolls_amount", T.DoubleType()),
    ("improvement_surcharge", T.DoubleType()),
    ("total_amount", T.DoubleType()),
]
TRIPS_SCHEMA = T.StructType([T.StructField(n, t) for n, t in TRIPS_COLUMNS])

#: columns the engine actually touches (Sample.cs:154-166) — project early
#: so parquet/CSV readers prune the other 13.
USED_COLUMNS = ["VendorID", "tpep_pickup_datetime", "tpep_dropoff_datetime", "trip_distance"]

_TS_FMT = "yyyy-MM-dd HH:mm:ss"


def read_trips_csv_faithful(spark: SparkSession, path: str) -> DataFrame:
    """Line-oriented read + naive comma split + reference validity rule.

    Emits only the projected columns (P1) plus ``file``; rows failing
    the 17-fields/int-col0 rule (F1) are dropped, exactly like
    ``Sample.cs:154-157``.
    """
    lines = spark.read.text(path).select(
        F.input_file_name().alias("file"), F.split(F.col("value"), ",").alias("f")
    )
    # try_cast / try_to_timestamp / F.get are the exact analogues of the
    # reference's TryParse-then-skip behavior, and stay ANSI-safe (Spark 4
    # default ANSI mode turns plain cast/element_at into runtime errors).
    parsed = lines.select(
        "file",
        F.get("f", 0).try_cast("int").alias("VendorID"),
        F.try_to_timestamp(F.get("f", 1), F.lit(_TS_FMT)).alias("tpep_pickup_datetime"),
        F.try_to_timestamp(F.get("f", 2), F.lit(_TS_FMT)).alias("tpep_dropoff_datetime"),
        F.get("f", 4).try_cast("double").alias("trip_distance"),
        F.size("f").alias("_nfields"),
    )
    return parsed.where(
        (F.col("_nfields") == 17) & F.col("VendorID").isNotNull()
    ).drop("_nfields")


def list_csv_files(spark: SparkSession, path: str) -> DataFrame:
    """The S1 listing universe (``Sample.cs:119``) as a one-column
    ``file`` frame: every file the path matches, 0-byte and header-only
    files included, independent of row validity — the denominator the
    reference's avg-of-file-averages counts.

    Built from the file index (``inputFiles()``, a metadata listing like
    the reference's blob listing), so it runs no Spark job and reads no
    byte.  Its strings equal ``input_file_name()`` on the scanned rows,
    URI encoding included.  The frame is an Arrow-backed local relation;
    a Python-list ``createDataFrame`` would start a Python worker to
    read it."""
    files = spark.read.text(path).inputFiles()
    return spark.createDataFrame(pa.table({"file": pa.array(files, pa.string())}))


def read_trips_csv_idiomatic(spark: SparkSession, path: str) -> DataFrame:
    """CSV datasource with explicit schema (vectorized, quote-aware)."""
    df = (
        spark.read.schema(TRIPS_SCHEMA)
        .option("header", "true")
        .option("timestampFormat", _TS_FMT)
        .option("mode", "PERMISSIVE")
        .csv(path)
    )
    return df.select(F.input_file_name().alias("file"), *USED_COLUMNS).where(
        F.col("VendorID").isNotNull()
    )


def read_trips_parquet(spark: SparkSession, path: str) -> DataFrame:
    df = spark.read.parquet(path)
    return df.select(F.input_file_name().alias("file"), *USED_COLUMNS).where(
        F.col("VendorID").isNotNull()
    )
