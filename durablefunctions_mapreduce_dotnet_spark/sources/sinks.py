"""Sinks: the write-side of the engine.

The reference has two: the orchestration output string (O1,
``Sample.cs:103``) and a disabled single-blob text writer (O2,
``Sample.cs:245-262`` — ``WriteToBlob``, call site commented out at
``Sample.cs:97-100``).  Our engine keeps results as DataFrames (O1 is
presentation, not engine), and generalizes O2 into the three write
paths a 100 TB pipeline needs:

* **partitioned parquet** — the production sink: hive-style partition
  directories enable partition pruning for downstream readers, and
  ``maxRecordsPerFile`` bounds file size so a skewed partition key
  cannot produce one giant file.
* **csv** — interchange; parallel (one file per task), headered.
* **single text file** — the literal O2 shape.  ``coalesce(1)``
  funnels everything through one task, so this is ONLY for
  driver-small results (like the reference's 7-row answer).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_parquet_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    max_records_per_file: int = 5_000_000,
    mode: str = "overwrite",
) -> None:
    """Production sink.  Partition columns should be low-cardinality
    (date, category): each distinct value becomes a directory, and at
    1000 executors a high-cardinality partitionBy degenerates into
    millions of tiny files.  For write-side clustering WITHIN partitions
    use ``df.sortWithinPartitions`` before calling."""
    w = df.write.mode(mode).option("maxRecordsPerFile", max_records_per_file)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def merge_upsert_partitioned(
    spark,
    target_path: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_col: str,
) -> None:
    """MERGE (upsert) into a hive-partitioned parquet table without a
    table format: rows in ``updates`` replace target rows with the same
    key; new keys are appended.  The 100 TB property is that ONLY the
    partitions named by the updates are read or rewritten:

    1. collect the updates' distinct partition values (driver-small by
       contract — an incremental batch touches few partitions),
    2. read the target pruned to those partitions (partition-filter,
       never a full scan),
    3. anti-join target-slice against update keys + union the updates,
    4. write back with ``partitionOverwriteMode=dynamic``, so untouched
       partition directories are never listed, read, or replaced.

    Updates must carry the partition column, and a key must not move
    between partitions (the slice wouldn't see its old row to retract —
    the same constraint Hive/Spark dynamic overwrite itself has).
    Atomicity is per-partition-directory (parquet committer), the
    standard lakehouse-less contract.

    COMMITTER DEPENDENCY: the merge reads the target lazily while
    overwriting the same path, which is safe only under a staged commit
    protocol (the default FileOutputCommitter: tasks write to
    ``_temporary`` and the old files survive until job commit).
    Direct-write committers (S3A "magic"/directory committers without
    staging) would let the overwrite clobber files the read side is
    still scanning — materialize ``merged`` first (checkpoint, or write
    to a side path and swap) under such committers.  A failure between
    per-partition commits leaves touched partitions in a mixed old/new
    state with no rollback: re-run the same batch (the merge is
    idempotent per key) or move to a table format (Delta/Iceberg) when
    multi-partition atomicity is required.
    """
    # first-ever batch: nothing to merge against — bootstrap the table
    # (an upsert that cannot create its own target is unusable in a
    # fresh environment)
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(target_path)
    if not hpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(hpath):
        updates.write.partitionBy(partition_col).parquet(target_path)
        return

    parts = [r[0] for r in updates.select(partition_col).distinct().collect()]
    # NULL partition values never match isin() (SQL NULL semantics) —
    # without the explicit isNull branch the NULL-partition slice would
    # be dropped from `kept` and dynamic overwrite would erase its
    # untouched rows.
    pc = F.col(partition_col)
    pred = pc.isin([p for p in parts if p is not None])
    if any(p is None for p in parts):
        pred = pred | pc.isNull()
    target = spark.read.parquet(target_path).where(pred)
    keys = updates.select(*key_cols)
    kept = target.join(keys, key_cols, "left_anti")
    merged = kept.unionByName(updates.select(*kept.columns))
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        merged.write.mode("overwrite").partitionBy(partition_col).parquet(target_path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Headered CSV, one file per task (parallel).  Quoting is standard
    CSV — note the reference's *reader* never handled quotes
    (``Sample.cs:151`` naive split), so faithful round-trips of data
    containing commas must go through parquet instead."""
    df.write.mode(mode).option("header", True).csv(path)


def write_single_text(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """O2-faithful single-file text sink (``Sample.cs:245-262``).  The
    single-column input is funneled through one task — driver-small
    results only."""
    assert len(df.columns) == 1, "text sink takes exactly one string column"
    df.coalesce(1).write.mode(mode).text(path)


class StagedPipeline:
    """Cross-run batch checkpoint/restart — X3 parity at JOB granularity.

    The reference's orchestration is event-sourced: after a crash it
    replays history and SKIPS completed activities (``README.md:40,73``,
    ``Sample.cs:52`` ``IsReplaying``).  Spark lineage gives the same
    guarantee at task/executor granularity but not across driver death —
    a restarted batch job recomputes everything.  This helper closes
    that gap with the standard lakehouse recipe: each named stage is
    materialized to ``root/<name>`` as parquet, and the writer's own
    ``_SUCCESS`` marker (written atomically at job commit by the
    FileOutputCommitter) is the completion record.  On re-run, a stage
    whose marker exists is READ, not recomputed — its builder never
    runs; a stage that died mid-write left no marker and is rebuilt
    with ``mode=overwrite``, clobbering the partial output.

    Returned frames are the read-back parquet, so downstream stages cut
    lineage at every stage boundary for free (what a reliable
    ``session.cut`` does inside one run, here across runs).  At
    100 TB the marker check is one metadata call per stage and the cost
    is one extra write+read of each stage's output — the explicit price
    of restartability, paid only at stage boundaries the caller picks.

        pipe = StagedPipeline(spark, "s3a://bucket/runs/2026-08-14")
        clean = pipe.stage("clean", lambda: raw.where(...))
        agg   = pipe.stage("agg",   lambda: clean.groupBy(...).agg(...))
        # crash anywhere; re-running the same script resumes past every
        # stage whose _SUCCESS marker landed

    ``log`` records ``(name, "computed" | "resumed")`` per stage for
    observability (the ``SetCustomStatus`` spirit, X4).
    """

    def __init__(self, spark, root: str) -> None:
        self._spark = spark
        self._root = root.rstrip("/")
        self.log: list[tuple[str, str]] = []

    def _fs_and_path(self, name: str):
        jvm = self._spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(f"{self._root}/{name}")
        return p.getFileSystem(self._spark._jsc.hadoopConfiguration()), p

    def completed(self, name: str) -> bool:
        fs, p = self._fs_and_path(name)
        marker = self._spark._jvm.org.apache.hadoop.fs.Path(p, "_SUCCESS")
        return fs.exists(marker)

    def reset(self, name: str) -> None:
        """Invalidate a stage (and force its recompute next run) by
        deleting its directory — use when the stage's LOGIC changed;
        downstream stages must be reset by the caller too."""
        fs, p = self._fs_and_path(name)
        fs.delete(p, True)

    def stage(
        self,
        name: str,
        build,
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        """Return the stage's materialized output, building it only if
        its completion marker is absent.  ``build`` is a zero-arg
        callable returning the stage's DataFrame — called lazily, so a
        resumed run never even constructs the skipped stage's plan."""
        path = f"{self._root}/{name}"
        if self.completed(name):
            self.log.append((name, "resumed"))
        else:
            w = build().write.mode("overwrite")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(path)
            self.log.append((name, "computed"))
        return self._spark.read.parquet(path)


def compact_parquet(
    spark,
    src_path: str,
    out_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction — the table-maintenance primitive every
    long-lived ingest pipeline needs: streaming/incremental writers leave
    thousands of KB-sized files whose per-file open/footer cost comes to
    dominate scans (the classic "small files problem").

    Sizes the output from the SOURCE BYTES (Hadoop FS content summary —
    metadata only, no data read), not row counts, so compressed width
    per row doesn't skew file sizing; rewrites with
    ``repartition(ceil(bytes / target))`` — a full shuffle, which is the
    point: round-robin repartition rebalances skewed input files into
    equal-size outputs.  Writes to ``out_path`` (swap is the caller's
    atomic-rename/production-committer concern — compaction must never
    rewrite in place over its own input).  Returns the output partition
    count.
    """
    import math

    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path(src_path)
    fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
    total_bytes = fs.getContentSummary(hpath).getLength()
    n = max(1, math.ceil(total_bytes / target_file_bytes))
    spark.read.parquet(src_path).repartition(n).write.mode("overwrite").parquet(out_path)
    return n
