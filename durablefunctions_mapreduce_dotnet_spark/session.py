"""SparkSession factory with defaults tuned for both local testing and
large-cluster execution.

The reference engine hand-wires its parallelism (one activity per file,
``host.json:17``); here Spark's scheduler owns parallelism and we only
set the knobs that matter at scale: AQE (runtime re-planning, skew-join
splitting, partition coalescing), Arrow for any Python exchange, and a
UTC session timezone so results are independent of the host timezone
(and comparable to the DuckDB oracle, whose timestamps are TZ-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Runtime-settable confs that every query path should assert, even on a
# SparkSession we did not build (the driver harness passes us one).
RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Sane bound for local[N]; on a real cluster AQE coalescing makes the
    # initial number far less load-bearing than the classic default 200.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    # The synthetic events table stores TIMESTAMP(NANOS), which the Spark
    # parquet reader rejects outright; read as long and rebuild in
    # sources.readers (sub-microsecond parts are zero in the test data).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # tz-naive parquet timestamps (isAdjustedToUTC=false) surface as
    # TIMESTAMP (session tz, pinned UTC above) rather than TIMESTAMP_NTZ,
    # so time arithmetic (unix_micros, range joins, watermarks) sees one
    # type regardless of how the writer flagged the column, and values
    # line up with the tz-naive DuckDB oracle under UTC.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an externally-provided session (driver's)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # conf not settable at runtime on this build — keep going
            pass
    return spark


def get_spark(app_name: str = "durablefunctions-mapreduce-spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or min(os.cpu_count() or 4, 32)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def release_pins(spark: SparkSession) -> None:
    """Free every frame operators left cached: drop the cache manager's
    entries first, so a later identical ``persist()`` stores blocks again
    (a raw-RDD unpersist alone leaves the entry, and that persist stores
    nothing), then unpersist any RDD still left, such as local checkpoints.

    Consume every returned frame first: a persisted frame recomputes after
    release, but one riding a local cut (``run_to_memory``, BPE merge
    rounds, connected-component cuts; see :func:`cut`) cannot, and reading
    it raises.  Reliable cuts live in checkpoint files, not in the block
    store, and stay readable."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()


def cut(df: DataFrame, eager: bool = True) -> DataFrame:
    """Cut ``df``'s lineage; the one place that knows how.

    With a checkpoint dir on the context (Spark's ``spark.checkpoint.dir``
    conf, or ``sparkContext.setCheckpointDir``) this is a reliable
    ``df.checkpoint``: the rows are written to that dir and survive
    executor loss, the cluster setting.  Without one it is a
    ``df.localCheckpoint``: blocks pinned in executor storage, fast but
    lost with their executor, and freed by :func:`release_pins`.

    ``eager=False`` only marks the cut, and the next action on the frame
    materializes it; callers whose next step is a probe aggregation use
    it to pay one pass per round instead of two."""
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        return df.localCheckpoint(eager)
    return df.checkpoint(eager)
