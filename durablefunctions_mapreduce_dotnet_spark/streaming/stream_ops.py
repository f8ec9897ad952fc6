"""Structured Streaming surface (SURVEY.md §7.2 phase 4).

The reference's only notion of streaming is incremental orchestration
status (``Sample.cs:55-88``); the real streaming analogue of its
workload is an incremental windowed aggregation with late-data
handling.  These operators run the same logical plans as the batch
engine but over ``readStream`` micro-batches with watermarked state.

For tests/driver runs the file source + memory sink + a synchronous
``processAllAvailable()`` drain makes results deterministic and
batch-equivalent; in production the source would be Kafka/files and the
sink a Delta/parquet table via ``foreachBatch``.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import dsum
from ..session import cut


def _stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream of the events table.  Schema comes from a batch
    probe (streaming sources require explicit schemas); the nanos-as-long
    timestamp is rebuilt exactly as in the batch reader."""
    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    # FileStreamSource requires a directory; point it at the sf dir and
    # glob-filter to the one table file.
    src = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if dict(src.dtypes).get("ts") == "bigint":
        src = src.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return src


def run_to_memory(
    agg: DataFrame, mode: str = "complete", progress_sink: list | None = None
) -> DataFrame:
    """Drain a streaming aggregation synchronously into a memory sink and
    return the materialized result (test/driver harness path).

    ``progress_sink``: pass a list to receive the query's per-batch
    StreamingQueryProgress dicts (micro-batch counts, state-operator
    metrics like ``numRowsDroppedByWatermark``) — lets tests assert
    Spark's OWN instrumentation against an oracle's model of the run."""
    import json as _json

    name = f"stream_{uuid.uuid4().hex[:12]}"
    q = agg.writeStream.format("memory").queryName(name).outputMode(mode).start()
    try:
        q.processAllAvailable()
        if progress_sink is not None:
            progs = [
                p if isinstance(p, dict) else _json.loads(p.json)
                for p in q.recentProgress
            ]
            # recentProgress is a RING capped by
            # spark.sql.streaming.numRecentProgressUpdates (default 100):
            # a run with more micro-batches (data + no-data) than the cap
            # silently loses its EARLIEST entries, and any cross-check
            # summing per-batch metrics (e.g. numRowsDroppedByWatermark
            # in streaming_late_data) would undercount with no error.
            # Batch ids are assigned contiguously from 0, so coverage is
            # checkable after the fact — fail loudly instead.
            ids = sorted(p["batchId"] for p in progs)
            if ids and (ids[0] != 0 or ids != list(range(ids[0], ids[-1] + 1))):
                raise RuntimeError(
                    "progress ring dropped micro-batches (batchIds "
                    f"{ids[:3]}..{ids[-1]}); raise "
                    "spark.sql.streaming.numRecentProgressUpdates above "
                    "the batch count before trusting per-batch metrics"
                )
            progress_sink.extend(progs)
    finally:
        q.stop()
    spark = agg.sparkSession
    tbl = spark.table(name)
    # copy out + drop the sink table: memory sinks pin the whole result
    # in the driver catalog for the session lifetime, and harnesses
    # (best-of-N bench, repeated driver checks) would accumulate one
    # materialized copy per run.  Streaming aggregates are driver-small
    # by the state-sizing contracts documented on each query.
    #
    # r15: the copy is an EAGER ``session.cut`` — rows stay in the JVM
    # (evictable storage blocks, independent of the dropped view).  The
    # old ``createDataFrame(tbl.collect(), schema)`` paid a full
    # JVM → Python(pickled Rows) → JVM round trip per drain
    # (applySchemaToPythonRDD in the plan); measured at sf0.1 on
    # streaming_ewma (150 rows!): 1.92 → 1.52 s min-of-4 interleaved,
    # outputs asserted identical — the boundary was pure overhead
    # (guide §4: eliminate the Python boundary; §6: no row-path driver
    # transfers).  A local cut cannot be recomputed once released:
    # consume ``out`` fully before any ``session.release_pins``.
    out = cut(tbl)
    spark.catalog.dropTempView(name)
    return out


def run_to_files(
    agg: DataFrame,
    path: str,
    checkpoint_dir: str,
    mode: str = "complete",
) -> DataFrame:
    """Production sink sibling of :func:`run_to_memory`: drain the
    streaming query through ``foreachBatch`` into a parquet table and
    return a batch frame reading it back.

    ``foreachBatch`` is the standard production pattern for streaming
    aggregations (the file sink proper only takes append mode, which
    never emits a watermarked window until later data closes it):

    * ``complete``/``update`` mode — each micro-batch REPLACES the table
      with the current full state / appends the changed rows; the last
      batch leaves the final answer on disk.
    * ``append`` mode — each micro-batch appends its finalized rows.

    State never transits the driver (unlike the memory sink): executors
    write parquet directly, and ``checkpoint_dir`` gives exactly-once
    restart semantics across runs.  Batch id and offsets live in the
    checkpoint, so a re-run after failure resumes, not recomputes.
    """
    overwrite = mode == "complete"

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite" if overwrite else "append").parquet(path)

    q = (
        agg.writeStream.foreachBatch(_write)
        .outputMode(mode)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return agg.sparkSession.read.parquet(path)


def streaming_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day windows per event type with a 1-hour watermark:
    counts + exact decimal sums, incremental state per (window, type).

    State sizing at scale: |active windows| × |event types| rows — the
    watermark bounds active windows, so state is O(types) per day of
    allowed lateness, not O(events)."""
    src = _stream_events(spark, sf_dir)
    agg = (
        src.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "sum_value"),
        )
    )
    out = run_to_memory(agg, "complete")
    # day as a date string: pandas dtype then matches DuckDB exactly
    return out.select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
        "event_type",
        "n_events",
        "sum_value",
    ).orderBy("day", "event_type")


def streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 2-day windows advancing by 1 day (each event lands in two
    overlapping windows), watermarked.  State is O(active windows ×
    types); overlap multiplies state by window/slide = 2, not by events."""
    src = _stream_events(spark, sf_dir)
    agg = (
        src.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "2 days", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = run_to_memory(agg, "complete")
    return out.select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("win_start"),
        "event_type",
        "n_events",
    ).orderBy("win_start", "event_type")


def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (30 min) per user via the native
    ``session_window`` streaming aggregation — sessions merge as events
    arrive; the state store holds one open window per (user, session).
    Semantically identical to the batch lag/cumsum sessionization, so the
    oracle is the same SQL pattern."""
    src = _stream_events(spark, sf_dir)
    agg = (
        src.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = run_to_memory(agg, "complete")
    return out.select(
        "user_id",
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
        "n_events",
    ).orderBy("user_id", "session_start")


def streaming_sessionize(
    spark: SparkSession,
    sf_dir: str,
    progress_sink: list | None = None,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """APPEND-mode ``session_window`` aggregation over multi-batch
    out-of-order arrival — the canonical watermark+state operator the
    single-trigger complete-mode query (streaming_session_windows)
    cannot exercise: sessions GROW and MERGE across micro-batches in
    the state store, and a session is emitted exactly once, only when
    the watermark proves no future event can extend it.

    Events restage through _restage_arrival_batches (tail=False — no
    row is ever late-dropped, so the oracle needs no drop model) and
    aggregate under ``withWatermark(ts, 2 hours)`` with a 30-minute
    gap.  Emission rule, mirrored by the oracle and pinned empirically
    by tests/test_streaming_sessionize_frontier.py: emission is
    NON-strict (unlike the interval join's strict eviction) — a
    session whose close (last event + 30 min) is <= the final
    watermark (max event time, ms floor, − 2 h) emits, including a
    close landing ON the watermark exactly; only a close strictly
    past the watermark stays in state.  Session merge rule (also
    pinned): touching windows coalesce — [t, t+gap) and
    [t+gap, t+2gap) share a boundary and MERGE, so an exactly-30-min
    gap CONTINUES the session; only a gap strictly over 30 min starts
    a new one (the oracle's island break is ``gap > 30 min``).  Both
    edges are batch-boundary INSENSITIVE: grouping the 8 arrival files
    2 or 3 per micro-batch (``max_files_per_trigger``) changes when
    the watermark advances but not the final emission set — pinned by
    the parameterized frontier tests at sf0.001 and sf0.01.

    State at scale: one open window per (user, session) — O(active
    users), bounded by the watermark exactly as in production."""
    import shutil

    srcdir, tmp = _restage_arrival_batches(spark, sf_dir, tail=False)
    try:
        schema = spark.read.parquet(srcdir).schema
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(srcdir)
        )
        agg = (
            src.withWatermark("ts", "2 hours")
            .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
        )
        out = run_to_memory(agg, "append", progress_sink)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out.select(
        "user_id",
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "session_start"
        ),
        "n_events",
    ).orderBy("user_id", "session_start")


def streaming_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful first-touch per user via ``applyInPandasWithState``
    (streaming/stateful.py).  The file source delivers everything in one
    trigger here, so each key emits exactly once and the drained memory
    table is directly the answer."""
    from .stateful import first_seen_stateful

    src = _stream_events(spark, sf_dir)
    out = run_to_memory(first_seen_stateful(src), "update")
    return out.select(
        "user_id",
        F.date_format("first_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("first_ts"),
        "first_event_id",
    ).orderBy("user_id")


def streaming_running_extrema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type running max(value) + row count via Spark 4's
    ``transformWithStateInPandas`` (streaming/stateful.py — typed state
    variables on a StatefulProcessor).  The API requires the RocksDB
    state store provider; it is enabled for this query and restored
    after (other streaming queries keep the session default)."""
    from .stateful import running_extrema_stateful

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        src = _stream_events(spark, sf_dir)
        out = run_to_memory(running_extrema_stateful(src), "update")
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    return out.orderBy("event_type")


def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: the event stream is unioned with itself
    (every record arrives twice — the at-least-once delivery case) and
    ``dropDuplicates`` on the key keeps exactly the first arrival; the
    per-user counts then match the batch answer over the ORIGINAL table,
    proving the duplicates died in-stream.

    State is O(|distinct keys|); production bounds it with
    ``dropDuplicatesWithinWatermark`` (same plan, state expires past the
    watermark) — unbounded here so the oracle equality is exact."""
    src = _stream_events(spark, sf_dir)
    doubled = src.unionByName(src)  # one source probe; same doubled stream
    deduped = doubled.select("event_id", "user_id").dropDuplicates(["event_id"])
    out = run_to_memory(deduped, "append")
    return (
        out.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("user_id")
    )


def streaming_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship per-dow average as an incremental streaming agg
    (global-average semantics — streaming state keeps (sum, count) per
    (event_type, dow) exactly like the batch partial aggregate)."""
    from ..functions.taxi import dotnet_dayofweek, finite

    src = _stream_events(spark, sf_dir)
    records = src.where((F.col("value") > 0) & finite(F.col("value"))).select(
        F.col("event_type").alias("file"),
        dotnet_dayofweek("ts").alias("dow"),
        F.col("value").alias("speed"),
    )
    agg = records.groupBy("file", "dow").agg(
        F.sum(F.col("speed").cast("decimal(38,9)")).cast("double").alias("s"),
        F.count(F.lit(1)).alias("c"),
    )
    per_file = run_to_memory(agg, "complete")
    # final fan-in happens batch-side on the drained state (tiny)
    return (
        per_file.groupBy("dow")
        .agg(
            (
                F.sum(F.col("s").cast("decimal(38,9)")).cast("double")
                / F.sum("c")
            ).alias("avg_speed")
        )
        .orderBy("dow")
    )


def streaming_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: every (view, click) pair by the same
    user with the click inside 30 minutes after the view — the classic
    streaming click-attribution shape.

    Both sides are watermarked and the join carries a time-bound range
    condition, so the state store can EVICT: a buffered view row dies
    once the click watermark passes ``view_ts + 30 min``, a buffered
    click dies once the view watermark passes ``click_ts`` — state is
    O(events per watermark horizon), not O(stream).  An unbounded
    stream-stream join (no time bound) would buffer both streams
    forever; Spark requires exactly this watermark + range shape to run
    an inner stream-stream join at all.

    The file source delivers everything in one micro-batch here, so the
    appended pairs equal the batch join and the oracle is plain SQL.
    """
    src = _stream_events(spark, sf_dir)
    views = (
        src.where(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
            F.col("event_id").alias("view_id"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    clicks = (
        src.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    pairs = views.join(
        clicks,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr("INTERVAL 30 MINUTES")),
        "inner",
    ).select("v_user", "view_id", "click_id")
    out = run_to_memory(pairs, "append")
    # fan-in batch-side on the drained pairs (driver-small: bounded by
    # the 30-min pairing horizon per user)
    return (
        out.groupBy(F.col("v_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("view_id").alias("n_attributed_views"),
        )
        .orderBy("user_id")
    )


def streaming_enriched_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the event stream joined to a
    STATIC dimension (customer segments) with per-segment incremental
    aggregates — the canonical "enrich the stream with reference data"
    shape.

    The static side is an ordinary batch DataFrame broadcast into every
    micro-batch (re-resolved per trigger, so a replaced dimension
    parquet is picked up without restarting the query); no state is
    kept for the join itself — only the downstream aggregate holds
    (segment)-keyed running sums.  Stream-static inner joins need no
    watermark at all, which is exactly why this is the preferred shape
    over stream-stream whenever one side is slowly-changing.
    """
    from ..sources.readers import read_table

    src = _stream_events(spark, sf_dir)
    dim = read_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = src.join(F.broadcast(dim), src.user_id == dim.c_custkey, "inner")
    agg = joined.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", "sum_value"),
    )
    return run_to_memory(agg, "complete").orderBy("segment")


def streaming_running_extrema_apws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type running max(value) + row count via the
    protobuf-free ``applyInPandasWithState`` twin of the gated
    transformWithStateInPandas operator (streaming/stateful.py) — the
    custom-stateful category's driver-facing representative in this
    container."""
    from .stateful import running_extrema_apws

    src = _stream_events(spark, sf_dir)
    out = run_to_memory(running_extrema_apws(src), "update")
    return out.orderBy("event_type")


def streaming_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming EWMA of the per-type daily count
    (streaming/stateful.ewma_daily_stateful) — the online twin of the
    batch ts_ewma query, hash-checked against the SAME round-free SQL
    oracle: one availableNow trigger ⇒ the drained update stream is the
    batch answer, and the kernel's exact-integer division bit-matches
    HUGEINT→DOUBLE."""
    from .stateful import ewma_daily_stateful

    src = _stream_events(spark, sf_dir)
    out = run_to_memory(ewma_daily_stateful(src), "update")
    return out.orderBy("event_type", "day")


def streaming_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION form of streaming_dedup: the doubled (at-least-
    once) stream deduped with ``dropDuplicatesWithinWatermark`` — same
    plan, but key state EXPIRES once the watermark passes it, so state
    is bounded by the duplicate-arrival horizon instead of growing with
    |distinct keys| forever.  The dataset's duplicates all arrive
    inside one trigger (well inside the 1-day delay), so the bounded
    operator provably loses nothing: per-user counts equal the batch
    answer over the ORIGINAL table, same oracle as streaming_dedup."""
    src = _stream_events(spark, sf_dir)
    doubled = src.unionByName(src)
    deduped = (
        doubled.select("event_id", "user_id", "ts")
        .withWatermark("ts", "1 day")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    out = run_to_memory(deduped.select("event_id", "user_id"), "append")
    return (
        out.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("user_id")
    )


def run_to_files_idempotent(
    agg: DataFrame,
    path: str,
    checkpoint_dir: str,
    key_cols: list[str],
    partition_col: str,
    mode: str = "update",
) -> DataFrame:
    """Exactly-once-UNDER-REPLAY streaming sink: each micro-batch
    MERGEs (upserts) into a hive-partitioned parquet table keyed on
    ``key_cols``, with a per-batch commit ledger so a REPLAYED batch is
    a no-op.

    Why :func:`run_to_files` isn't enough: Spark's checkpoint gives
    exactly-once OFFSET tracking, but ``foreachBatch`` bodies run at
    least once — after a crash between the sink write and the
    checkpoint commit, the SAME batch id is re-delivered on restart.
    A blind append duplicates it.  The production contract
    (Structured Streaming docs' "use batchId to deduplicate") is
    exactly this ledger: a marker file per committed batch id inside
    the target, checked before writing; the merge itself is
    additionally per-key idempotent, so even a crash INSIDE the merge
    re-runs cleanly.

    State never transits the driver; only the partitions a batch
    touches are rewritten (``merge_upsert_partitioned``).  Returns a
    batch frame over the final table.

    Ledger-FS caveat: markers are written with driver-local ``os``
    calls — correct wherever the driver sees the target path as a
    filesystem (local, NFS, FUSE-mounted object store).  For raw
    s3a/abfss targets swap the marker I/O for the Hadoop FS API (the
    way Spark writes its own checkpoint files); the ledger LOGIC is
    unchanged."""
    import os

    from ..sources.sinks import merge_upsert_partitioned

    spark = agg.sparkSession
    ledger_dir = os.path.join(path, "_ledger")

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        os.makedirs(ledger_dir, exist_ok=True)
        marker = os.path.join(ledger_dir, f"batch_{batch_id}")
        if os.path.exists(marker):
            return  # replayed batch: already committed
        if batch_df.isEmpty():
            with open(marker, "w") as fh:
                fh.write("empty")
            return
        merge_upsert_partitioned(
            spark, os.path.join(path, "data"), batch_df, key_cols, partition_col
        )
        with open(marker, "w") as fh:
            fh.write("committed")

    q = (
        agg.writeStream.foreachBatch(_write)
        .outputMode(mode)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.read.parquet(os.path.join(path, "data"))


def _restage_arrival_batches(
    spark: SparkSession,
    sf_dir: str,
    n_batches: int = 8,
    jitter_mod: int = 21_600,
    tail: bool = True,
) -> tuple[str, str]:
    """Stage the events table as ``n_batches`` mtime-ordered parquet
    files in deterministic OUT-OF-ORDER arrival order (event time + a
    portable multiplicative-hash jitter of up to ``jitter_mod`` seconds;
    with ``tail`` the ~2% of events a second independent hash selects
    arrive 32× later — the straggler profile real event buses exhibit).
    The arrival span is cut into equal ranges from a 2-value min/max
    aggregate (no global sort), each written as one file; read with
    ``maxFilesPerTrigger=1`` each file is one micro-batch, oldest
    first — a replayable arrival order whose watermark trajectory an
    oracle can recompute from the same closed forms.

    Returns ``(srcdir, tmp_root)``; the caller owns ``tmp_root`` and
    must remove it after draining the stream."""
    import glob as globmod
    import os
    import shutil
    import tempfile

    from ..sources.readers import read_table

    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "user_id", "value"
    )
    tail_case = (
        f" * (case when (event_id * 2654435761 + 1013904223) % 50 = 0"
        f" then 32 else 1 end)"
        if tail
        else ""
    )
    ev = ev.withColumn(
        "arrival_us",
        F.unix_micros("ts")
        + F.expr(f"((event_id * 1103515245 + 12345) % {jitter_mod}){tail_case}")
        * F.lit(1_000_000),
    )
    lo, hi = ev.agg(F.min("arrival_us"), F.max("arrival_us")).first()
    width = (hi - lo) // n_batches + 1
    staged = ev.withColumn("batch", F.expr(f"(arrival_us - {lo}) div {width}"))
    tmp = tempfile.mkdtemp(prefix="late_stream_")
    stage = os.path.join(tmp, "stage")
    (
        staged.select("batch", "event_id", "ts", "event_type", "user_id", "value")
        .coalesce(1)
        .write.partitionBy("batch")
        .parquet(stage)
    )
    srcdir = os.path.join(tmp, "arrivals")
    os.makedirs(srcdir)
    mtime_base = 1_600_000_000
    for k in range(n_batches):
        parts = sorted(
            globmod.glob(os.path.join(stage, f"batch={k}", "part-*.parquet"))
        )
        for i, p in enumerate(parts):
            dst = os.path.join(srcdir, f"arrival_{k:02d}_{i}.parquet")
            shutil.move(p, dst)
            os.utime(dst, (mtime_base + k, mtime_base + k))
    return srcdir, tmp


def streaming_late_data(
    spark: SparkSession,
    sf_dir: str,
    n_batches: int = 8,
    delay_ms: int = 7_200_000,
    jitter_mod: int = 21_600,
    progress_sink: list | None = None,
) -> DataFrame:
    """Watermark LATE-DATA DROP accounting — the semantics none of the
    other streaming queries can exercise, because a single-file source
    is one micro-batch and the watermark never advances mid-stream.

    Events arrive OUT OF ORDER: arrival time = event time + a portable
    integer-hash jitter of up to ``jitter_mod`` seconds (6 h), with a
    heavy tail — the ~2% of events selected by a second independent
    hash arrive up to 32× later (8 days), the straggler profile real
    event buses exhibit.  The arrival span is cut into ``n_batches``
    equal ranges, each staged as one parquet file with strictly
    increasing mtimes, and streamed with
    ``maxFilesPerTrigger=1`` — one file per micro-batch, oldest first,
    a deterministic replayable arrival order.  A 1-day tumbling window
    aggregation under ``withWatermark(ts, 2 hours)`` in APPEND mode
    then exhibits the full production lifecycle: the watermark is
    updated to max(event time) − 2 h (millisecond floor — Spark's
    EventTimeStats granularity) at the END of each batch, but the
    late-row filter of batch b uses the PREVIOUS batch's value
    (``eventTimeWatermarkForLateEvents`` vs ``ForEviction``,
    SPARK-24634) — i.e. rows are DROPPED iff their window end ≤
    max(event time over batches ≤ b−2) − 2 h; windows are EMITTED only
    once the eviction watermark passes their end, so the trailing day
    (younger than the final watermark) never appears.  Resurrecting an
    already-evicted window (which would duplicate an append-mode key)
    is impossible under ANY lateness: a window evicted during batch j
    needed max(batches ≤ j−1) ≥ end + delay, and every later batch
    b > j filters with max(batches ≤ b−2) ⊇ max(batches ≤ j−1), so
    rows for evicted windows always fail the late filter — the one-
    batch gap between the two watermarks is exactly what makes append
    mode emit-once.
    Every step of that trajectory — jitter, batch assignment, lagged
    running-max watermark, drop rule, final eviction frontier — is
    mirrored in the DuckDB oracle, making the late-drop semantics
    hash-checked, not just smoke-tested.

    State at scale: |active windows| × |event types| rows, bounded by
    the watermark exactly as in production; the restage is a test
    harness stand-in for a Kafka topic's arrival order (one extra
    bounded write, partitioned by batch, no global sort — batch ranges
    come from a 2-value min/max aggregate, not a SinglePartition
    window)."""
    import shutil

    srcdir, tmp = _restage_arrival_batches(
        spark, sf_dir, n_batches=n_batches, jitter_mod=jitter_mod, tail=True
    )
    try:
        schema = spark.read.parquet(srcdir).schema
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(srcdir)
        )
        agg = (
            src.withWatermark("ts", f"{delay_ms // 60000} minutes")
            .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                dsum("value", "sum_value"),
            )
        )
        out = run_to_memory(agg, "append", progress_sink=progress_sink)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out.select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
        "event_type",
        "n_events",
        "sum_value",
    ).orderBy("day", "event_type")


def streaming_join_left_outer(
    spark: SparkSession,
    sf_dir: str,
    progress_sink: list | None = None,
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the hard case the inner
    attribution join (streaming_click_attribution) cannot show: a view
    with NO purchase inside its 1-day window must still be emitted, and
    append mode can only do that once the watermark proves no future
    match is possible.  Views and purchases are two filters of the SAME
    multi-batch arrival-ordered source (_restage_arrival_batches,
    tail=False so no row is ever late-dropped and the oracle stays a
    pure join predicate), both watermarked 2 h, joined on user with
    ``purchase.ts`` in ``[view.ts, view.ts + 1 day]``.

    Emission semantics, mirrored by the oracle: matched (view,
    purchase) pairs emit in whatever batch completes them — timing
    invisible in the final set, which equals the batch interval join;
    an UNMATCHED view emits with NULL purchase only once the final
    global watermark STRICTLY passes ``view.ts + 1 day``.  Under the
    default ``multipleWatermarkPolicy=min`` that watermark is
    ``LEAST(max view ts, max purchase ts) − 2 h`` (ms floor): each
    ``withWatermark`` node observes only rows passing its event_type
    filter, so other event types never advance either side.  Views
    whose window end is >= that frontier — including one EQUAL to it
    (eviction is strict <) — stay in state, unresolved, and never
    appear; both edges are pinned by
    tests/test_streaming_left_outer_frontier.py.  State at scale: each
    side holds rows until the watermark clears their join window
    (1 day + 2 h), so state is O(arrival-rate × window), independent
    of stream length."""
    import shutil

    srcdir, tmp = _restage_arrival_batches(spark, sf_dir, tail=False)
    try:
        schema = spark.read.parquet(srcdir).schema
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(srcdir)
        )
        views = (
            src.where(F.col("event_type") == "view")
            .select(
                F.col("event_id").alias("view_id"),
                F.col("user_id").alias("u"),
                F.col("ts").alias("vts"),
            )
            .withWatermark("vts", "2 hours")
        )
        buys = (
            src.where(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("buy_id"),
                F.col("user_id").alias("bu"),
                F.col("ts").alias("bts"),
            )
            .withWatermark("bts", "2 hours")
        )
        j = views.join(
            buys,
            F.expr(
                "u = bu AND bts >= vts AND bts <= vts + INTERVAL 1 DAY"
            ),
            "leftOuter",
        )
        out = run_to_memory(
            j.select("u", "view_id", "buy_id"), "append", progress_sink
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out.select(
        F.col("u").alias("user_id"),
        "view_id",
        # -1 sentinel instead of NULL: bigint-with-NULL crosses to
        # pandas as float64 on one engine and Int64 on the other
        F.coalesce(F.col("buy_id"), F.lit(-1)).alias("buy_id"),
    ).orderBy("user_id", "view_id", "buy_id")


def streaming_join_full_outer(
    spark: SparkSession,
    sf_dir: str,
    progress_sink: list | None = None,
) -> DataFrame:
    """Stream-stream FULL OUTER interval join — completes the
    stream-join family (inner: streaming_click_attribution; left
    outer: streaming_join_left_outer): BOTH dangling sides must emit,
    each only once the watermark proves no future match is possible.
    Same staging (``_restage_arrival_batches``, tail=False), same
    2 h watermarks, same user + 1-day-interval condition.

    Emission semantics, mirrored by the oracle: matched pairs equal
    the batch interval join; an unmatched VIEW emits (NULL purchase)
    once the final global watermark strictly passes ``vts + 1 day``
    (its window end — the left-outer rule, re-verified here); an
    unmatched PURCHASE emits (NULL view) once the watermark strictly
    passes ``bts`` itself: the condition bounds matchable views to
    ``vts ∈ [bts − 1 day, bts]``, so a purchase is resolvable as soon
    as no future view can carry ``vts ≤ bts`` — its eviction frontier
    is a day TIGHTER than the view side's, which is why the two
    dangling populations differ sharply in the emitted set.  The
    frontier is ``LEAST(max view ts, max purchase ts) − 2 h`` (ms
    floor, multipleWatermarkPolicy=min) exactly as in the left-outer
    oracle.  State at scale: identical to the left-outer — each side
    holds rows until the watermark clears its matchability window, so
    state is O(arrival-rate × window), independent of stream length.
    The -1 sentinels replace NULL ids on BOTH sides (bigint-with-NULL
    crosses to pandas as float64 on one engine and Int64 on the
    other); user_id coalesces across sides since either may dangle."""
    import shutil

    srcdir, tmp = _restage_arrival_batches(spark, sf_dir, tail=False)
    try:
        schema = spark.read.parquet(srcdir).schema
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(srcdir)
        )
        views = (
            src.where(F.col("event_type") == "view")
            .select(
                F.col("event_id").alias("view_id"),
                F.col("user_id").alias("u"),
                F.col("ts").alias("vts"),
            )
            .withWatermark("vts", "2 hours")
        )
        buys = (
            src.where(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("buy_id"),
                F.col("user_id").alias("bu"),
                F.col("ts").alias("bts"),
            )
            .withWatermark("bts", "2 hours")
        )
        j = views.join(
            buys,
            F.expr(
                "u = bu AND bts >= vts AND bts <= vts + INTERVAL 1 DAY"
            ),
            "fullOuter",
        )
        out = run_to_memory(
            j.select("u", "bu", "view_id", "buy_id"), "append", progress_sink
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out.select(
        F.coalesce(F.col("u"), F.col("bu")).alias("user_id"),
        F.coalesce(F.col("view_id"), F.lit(-1)).alias("view_id"),
        F.coalesce(F.col("buy_id"), F.lit(-1)).alias("buy_id"),
    ).orderBy("user_id", "view_id", "buy_id")
