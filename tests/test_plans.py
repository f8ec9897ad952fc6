"""Scale-posture assertions: pushdown, pruning, and join strategy are
checked against the physical plan, not assumed (SURVEY.md §4.1)."""

from __future__ import annotations

from pyspark.sql import functions as F

from durablefunctions_mapreduce_dotnet_spark.operators.flagship import flagship_events
from durablefunctions_mapreduce_dotnet_spark.plans import (
    assert_pushed_filters,
    assert_read_schema_only,
    explain_str,
)
from durablefunctions_mapreduce_dotnet_spark.sources.readers import read_table

from .conftest import SF_DIR


def test_flagship_prunes_and_pushes(spark):
    df = flagship_events(read_table(spark, SF_DIR, "events"))
    # only the three used columns are decoded (of 6)
    assert_read_schema_only(df, "events", {"ts", "event_type", "value"})
    # value > 0 reaches the scan (row-group stats pruning at scale)
    assert_pushed_filters(df, "GreaterThan(value,0.0)")


def test_flagship_csv_is_one_scan_without_join(spark):
    """The listing universe comes from the file index, not a second scan,
    and zero-fill is a conditional aggregate, not a scaffold join: one
    text scan, no join, the per-file and the global exchange only."""
    from durablefunctions_mapreduce_dotnet_spark.queries.flagship_q import (
        q_flagship_csv_faithful,
    )

    plan = explain_str(q_flagship_csv_faithful(spark, SF_DIR), "simple")
    assert plan.count("FileScan text") == 1, plan
    assert "Join" not in plan, plan
    assert plan.count("Exchange") <= 2, plan


def test_flagship_parquet_without_listing_is_one_scan(spark, tmp_path):
    """Without a listing, the universe is every scanned row's file,
    valid or not, taken from the same scan."""
    from durablefunctions_mapreduce_dotnet_spark.operators.flagship import flagship_trips
    from durablefunctions_mapreduce_dotnet_spark.queries.flagship_q import _TRIPS_GLOB
    from durablefunctions_mapreduce_dotnet_spark.sources.trips import (
        read_trips_csv_faithful,
        read_trips_parquet,
    )

    path = str(tmp_path / "trips.parquet")
    read_trips_csv_faithful(spark, _TRIPS_GLOB).drop("file").write.parquet(path)
    plan = explain_str(flagship_trips(read_trips_parquet(spark, path)), "simple")
    assert plan.count("FileScan parquet") == 1, plan


def test_filter_pushdown_on_lineitem(spark):
    li = read_table(spark, SF_DIR, "lineitem").where(F.col("l_quantity") > 45).select(
        "l_orderkey", "l_quantity"
    )
    assert_pushed_filters(li, "GreaterThan(l_quantity,45.0)")
    assert_read_schema_only(li, "lineitem", {"l_orderkey", "l_quantity"})


def test_star_join_broadcasts_dimension(spark):
    n = read_table(spark, SF_DIR, "nation")
    c = read_table(spark, SF_DIR, "customer")
    plan = explain_str(
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).groupBy("n_name").count()
    )
    assert "BroadcastHashJoin" in plan


def test_q6_scan_filter_agg_pushes_everything(spark):
    """TPC-H Q6 face: every predicate must reach the parquet reader and
    only the three referenced columns decode — the canonical pushdown
    microbench the query exists to pin."""
    from durablefunctions_mapreduce_dotnet_spark.queries.sql_q import (
        q_sql_forecast_revenue,
    )

    df = q_sql_forecast_revenue(spark, SF_DIR)
    plan = explain_str(df)
    assert "PushedFilters:" in plan
    for frag in (
        "GreaterThanOrEqual(l_shipdate",
        "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.05)",
        "LessThanOrEqual(l_discount,0.07)",
        "LessThan(l_quantity,24.0)",
    ):
        assert frag in plan, f"missing pushed filter {frag}:\n{plan}"
    assert_read_schema_only(
        df, "lineitem", {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}
    )
    # no join, no exchange beyond the single-row final agg
    assert "Join" not in plan


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """100 TB scan-pruning story: a selective dim filter should inject a
    runtime Bloom filter (might_contain) on the fact side of a SHUFFLE
    join, so fact rows that can't match never reach the exchange.  At
    the default thresholds this fires only at scale (creation side
    <= 10 MB, application side >= 10 GB) — exactly the selective
    dim × huge fact shape — so the test relaxes the application-side
    floor to prove the injection path works end-to-end on test data."""
    saved = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": spark.conf.get(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        ),
        "spark.sql.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = read_table(spark, SF_DIR, "lineitem")
        o = read_table(spark, SF_DIR, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = explain_str(j)
        assert "might_contain" in plan.lower() or "bloom" in plan.lower(), plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_topk_plans_take_ordered(spark):
    o = read_table(spark, SF_DIR, "orders")
    plan = explain_str(o.orderBy(F.desc("o_totalprice")).limit(10))
    assert "TakeOrderedAndProject" in plan


#: queries whose plans legitimately contain a broadcast nested-loop join:
#: scalar-subquery broadcast (1-row build side), theta/range joins against
#: broadcast band tables, the brute-force ANN baseline (broadcast query
#: set scored against every corpus row by definition), and IVF centroid
#: assignment (bounded cross product against an n_lists-row broadcast).
_BNLJ_OK = {
    "subq_scalar_avg",
    # global revenue total + part count scalar: broadcast 1-row cross
    # join (q_subq_having_global)
    "subq_having_global",
    "join_range_band",
    "ann_bruteforce_topk",
    "ann_ivf_topk",
    # lazy corpus-count scalar: a broadcast 1-row build side (the
    # crossJoin in operators/curation.doc_top_distinctive_terms)
    "curation_doc_topterms",
    # dangling-mass scalar per power iteration: broadcast 1-row cross
    # join (operators/graph.pagerank)
    "graph_pagerank",
    # corpus/batch totals scalar for the drift shares: broadcast 1-row
    # cross join (operators/similarity.ivf_cell_drift)
    "ann_ivf_incremental",
    # total-token-count scalar for the integer heavy-hitter threshold:
    # broadcast 1-row cross join (textops.heavy_hitters_exact)
    "text_heavy_hitters",
    # reference-total / source-total scalars: broadcast 1-row cross
    # joins (textops.lm_bigram_score, curation.temperature_mix)
    "text_lm_score",
    "curation_temperature_mix",
    # corpus-stats scalar (N, avg doc length): broadcast 1-row cross
    # join (textops.bm25_topk)
    "text_bm25",
    # corpus-totals scalar (N_uni, N_big): broadcast 1-row cross join
    # (textops.pmi_collocations)
    "text_collocations",
    # checkpoint-stride scalar (max doc_id): broadcast 1-row cross join
    # (queries/text_q.q_text_vocab_growth)
    "text_vocab_growth",
    # distribution-stats scalar: broadcast 1-row cross join onto the
    # 10-row heavy-key table (operators.skew.skew_report)
    "diag_skew_report",
    # day-grid bounds scalar: broadcast 1-row cross join feeding the
    # per-user sequence explode (q_scd2_snapshot)
    "window_scd2_snapshot",
    # view-audience sketch scalar: broadcast 1-row cross join
    # (q_theta_overlap)
    "agg_theta_overlap",
    # bucket-histogram totals scalar: broadcast 1-row cross join
    # (curation.dsir_weights — the llr table it feeds is <= n_buckets
    # rows and itself broadcast)
    "curation_dsir_weights",
    # series-wide (n, sum, mean-numerator) scalar: broadcast 1-row
    # cross join onto the lagged daily series (timeseries_q.q_ts_acf)
    "ts_acf",
    # inherits text_bm25's corpus-stats 1-row broadcast cross join (the
    # lexical leg IS bm25_topk) plus the brute-force ANN leg's broadcast
    # query-set scoring — both already-allowlisted shapes
    "ann_hybrid_rrf",
    # mean scalar + eigenvector scalar: two broadcast 1-row cross joins
    # (operators/clustering.pca2d_exact)
    "embedding_pca2_exact",
    # exhaustive-probe configuration of the already-allowlisted IVF
    # kernel (broadcast centroid/query tables by design)
    "ann_ivf_exhaustive",
}


def test_no_accidental_cartesian_in_any_query(spark):
    """Build every registered query's plan at sf0.001 and reject
    CartesianProduct everywhere and BroadcastNestedLoopJoin outside the
    known theta-join allowlist — the classic silent 100TB killer."""
    import importlib

    entry = importlib.import_module("__spark_entry__")
    for name, fn in entry.queries().items():
        if name.startswith("streaming_"):
            continue  # constructing these executes a streaming drain
        plan = explain_str(fn(spark, SF_DIR), "simple")
        assert "CartesianProduct" not in plan, f"{name}: cartesian product:\n{plan}"
        if name not in _BNLJ_OK:
            assert "BroadcastNestedLoopJoin" not in plan, (
                f"{name}: unexpected nested-loop join:\n{plan}"
            )


def test_multiway_join_broadcasts_all_dimensions(spark):
    """Q5-shape snowflake: supplier/nation/region must all ride
    broadcast-hash joins; only the fact-side joins may shuffle."""
    from durablefunctions_mapreduce_dotnet_spark.queries.joins_q import q_join_multiway

    plan = explain_str(q_join_multiway(spark, SF_DIR), "simple")
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "CartesianProduct" not in plan


def test_salted_distinct_is_two_level_hash_agg(spark):
    """The salted plan must contain no Expand/single-reducer distinct:
    two HashAggregate pairs keyed on (key, shard) then (key)."""
    from durablefunctions_mapreduce_dotnet_spark.queries.timeseries_q import (
        q_distinct_users_salted,
    )

    plan = explain_str(q_distinct_users_salted(spark, SF_DIR), "simple")
    assert "Expand" not in plan, plan


def test_curation_queries_prune_scans(spark):
    """Sampling must scan only (doc_id, lang); repetition only
    (doc_id, text) — a curation pass over 100 TB cannot afford decoding
    unused columns."""
    from durablefunctions_mapreduce_dotnet_spark.queries.curation_q import q_sample_hash
    from durablefunctions_mapreduce_dotnet_spark.queries.text_q import q_text_repetition

    assert_read_schema_only(q_sample_hash(spark, SF_DIR), "documents", {"doc_id", "lang"})
    assert_read_schema_only(
        q_text_repetition(spark, SF_DIR), "documents", {"doc_id", "text"}
    )


def test_window_distribution_has_no_single_partition_exchange(spark):
    """Global distribution functions must ride the range-partitioned
    two-pass rank — an `Exchange SinglePartition` means someone reverted
    to a partitionless window (the classic 100TB killer)."""
    from durablefunctions_mapreduce_dotnet_spark.queries.windows_q import (
        q_window_distribution,
    )

    plan = explain_str(q_window_distribution(spark, SF_DIR), "simple")
    assert "SinglePartition" not in plan, plan


def test_whole_stage_codegen_covers_agg(spark):
    # Under AQE the formatted plan shows AdaptiveSparkPlan(isFinalPlan=false)
    # without codegen annotations; "codegen" mode actually generates the
    # fused loops, proving scan..partial-agg stays JVM-side.
    df = flagship_events(read_table(spark, SF_DIR, "events"))
    plan = explain_str(df, mode="codegen")
    assert "WholeStageCodegen" in plan


def test_gapfill_single_window_pass(spark):
    """Both fill directions (LOCF backward state, next-obs forward) must
    ride ONE WindowExec — same partitioning and ordering — not two
    sorts; and nothing may collapse to a single partition."""
    from durablefunctions_mapreduce_dotnet_spark.queries.timeseries_q import (
        q_time_gapfill,
    )

    plan = explain_str(q_time_gapfill(spark, SF_DIR), "simple")
    assert plan.count("Window [") == 1, plan
    assert "SinglePartition" not in plan, plan


def test_range_binned_join_is_equi_join(spark):
    """The binned range join exists precisely to avoid the nested loop:
    the physical join must be a hash/merge EQUI-join on the bin id."""
    from durablefunctions_mapreduce_dotnet_spark.queries.joins_q import (
        q_join_range_binned,
    )

    plan = explain_str(q_join_range_binned(spark, SF_DIR), "simple")
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert any(
        j in plan for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
    ), plan


def test_profile_stats_is_one_scan(spark):
    """Multi-column profiling must batch through a single Expand
    aggregate over ONE parquet scan — N separate scans is the plan this
    operator exists to avoid."""
    from durablefunctions_mapreduce_dotnet_spark.queries.curation_q import (
        q_profile_stats,
    )

    plan = explain_str(q_profile_stats(spark, SF_DIR), "simple")
    assert plan.count("Scan parquet") == 1, plan
    assert "Expand" in plan, plan


def test_kmeans_assignment_never_shuffles_corpus(spark):
    """The k-means scale contract: the final assignment is scan ->
    project -> MapInPandas with NO Exchange — the corpus streams through
    the broadcast centroid gemm without ever shuffling.  (Iteration
    passes have the same shape; only their k x dim partials exchange.)"""
    from durablefunctions_mapreduce_dotnet_spark.queries.similarity_q import q_kmeans

    plan = explain_str(q_kmeans(spark, SF_DIR), "simple")
    assert "MapInPandas" in plan, plan
    assert "Exchange" not in plan, plan


def test_widen_skips_exchange_when_input_already_wide(spark):
    """The dedup corpus fan-out must be conditional: an input already at
    defaultParallelism partitions gets NO repartition exchange (at scale
    the scan arrives with thousands of splits and the shuffle would be
    pure cost); a narrow input still gets widened."""
    from durablefunctions_mapreduce_dotnet_spark.operators.dedup import _widen

    p = spark.sparkContext.defaultParallelism
    wide = spark.range(1000).repartition(p + 4).selectExpr(
        "id AS doc_id", "cast(id as string) AS text"
    )
    assert _widen(wide) is wide  # literally untouched: no added exchange
    narrow = spark.range(1000).coalesce(1).selectExpr(
        "id AS doc_id", "cast(id as string) AS text"
    )
    assert _widen(narrow) is not narrow
    assert _widen(narrow).rdd.getNumPartitions() == p


def test_funnel_rides_one_user_exchange(spark):
    """The funnel's three chained conditional-min windows and the
    per-user aggregate must all ride ONE hashpartitioning(user) exchange
    (the final count is a second, one-row SinglePartition fan-in)."""
    from durablefunctions_mapreduce_dotnet_spark.operators.analytics import funnel_counts

    e = read_table(spark, SF_DIR, "events")
    plan = explain_str(
        funnel_counts(e, "user_id", "event_type", "ts", ["view", "click", "purchase"]),
        "simple",
    )
    assert plan.count("Exchange hashpartitioning(user_id") == 1
    assert plan.count("+- Window ") == 3


def test_fuzzy_join_is_equi_join_never_nested_loop(spark):
    """Blocking must plan as a hash/merge EQUI join on the block keys;
    an un-blocked fuzzy join would be a nested loop (the 100 TB
    killer this operator exists to avoid)."""
    from durablefunctions_mapreduce_dotnet_spark.operators.linkage import blocked_fuzzy_join

    c = read_table(spark, SF_DIR, "customer")
    left = c.select(F.col("c_custkey").alias("lid"), F.col("c_name").alias("lname"), "c_nationkey")
    right = c.select(F.col("c_custkey").alias("rid"), F.col("c_name").alias("rname"), "c_nationkey")
    plan = explain_str(blocked_fuzzy_join(left, right, ["c_nationkey"], "lname", "rname", 1))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)


def test_global_concurrency_has_no_single_partition_window(spark):
    """The global timeline sweep must never plan an un-partitioned
    window (the driver-serializing OVER (ORDER BY t) shape)."""
    from durablefunctions_mapreduce_dotnet_spark.operators.analytics import (
        global_interval_concurrency,
    )

    e = read_table(spark, SF_DIR, "events").where(F.col("value") > 0)
    start = F.unix_micros(F.col("ts"))
    end = start + F.floor(F.col("value") * F.lit(60_000_000.0)).cast("long")
    tl = global_interval_concurrency(e, start, end)
    plan = explain_str(tl, "simple")
    assert "Window" in plan
    assert "SinglePartition" not in plan


def test_runtime_bloom_filter_reduces_shuffled_fact_join(spark):
    """Spark's runtime bloom-filter semi-join reduction (on by default)
    injects a might_contain filter on the FACT side of a selective
    shuffled join — at 100 TB this prunes fact rows before the shuffle.
    The size thresholds gate it out at test scale, so lower them here
    just to prove the engine config leaves the capability armed."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = read_table(spark, SF_DIR, "lineitem")
        o = read_table(spark, SF_DIR, "orders").where("o_totalprice > 400000")
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("o_orderstatus").count()
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan.lower(), plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_scd2_shares_one_key_exchange(spark):
    """Both SCD2 window passes (lag-drop, lead-close) order by the same
    (key, ts, id), so Catalyst must plan them over ONE key exchange."""
    from durablefunctions_mapreduce_dotnet_spark.operators.analytics import scd2_intervals

    e = read_table(spark, SF_DIR, "events")
    plan = explain_str(
        scd2_intervals(e, "user_id", "ts", "event_type", "event_id"), "simple"
    )
    assert plan.count("Exchange") == 1, plan


def test_detect_gaps_is_one_window_pass(spark):
    """Gap detection = one lag window per series: exactly one exchange
    and one WindowExec (plus a trailing output sort)."""
    from durablefunctions_mapreduce_dotnet_spark.operators.timeseries import detect_gaps

    e = read_table(spark, SF_DIR, "events")
    plan = explain_str(detect_gaps(e, "event_type", "ts", 3600), "simple")
    assert plan.count("+- Window ") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_quality_audit_row_checks_are_one_scan(spark):
    """Every row-level audit check (key-unique + not-nulls + bounds)
    must batch through ONE scan of the input — the Expand-based
    multi-aggregate — not one scan per check."""
    from durablefunctions_mapreduce_dotnet_spark.operators.curation import quality_audit

    o = read_table(spark, SF_DIR, "orders")
    audit = quality_audit(
        o,
        key_cols=["o_orderkey"],
        not_null=["o_orderdate", "o_custkey"],
        bounds={"o_totalprice": (0.0, 600_000.0)},
    )
    plan = explain_str(audit, "simple")
    assert plan.count("Scan parquet") == 1, plan


def test_window_topk_gets_group_limit_pushdown(spark):
    """rank<=k filters must plan WindowGroupLimit — Spark's partial
    top-k: each map task keeps only k rows per group BEFORE the window
    shuffle, the two-phase refinement large groups need at 100 TB."""
    from durablefunctions_mapreduce_dotnet_spark.queries.windows_q import q_window_rank

    plan = explain_str(q_window_rank(spark, SF_DIR), "simple")
    assert "WindowGroupLimit" in plan, plan


def test_asof_backward_is_single_exchange(spark):
    """The as-of join's union-both-sides window must cost exactly ONE
    key exchange — the property that makes it beat a range join."""
    from durablefunctions_mapreduce_dotnet_spark.operators.joins import asof_join_backward

    e = read_table(spark, SF_DIR, "events")
    l = e.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    r = e.where(F.col("event_type") == "signup").select("user_id", "ts", "value")
    plan = explain_str(
        asof_join_backward(l, r, key="user_id", payload={"value": "v"}), "simple"
    )
    assert plan.count("Exchange") == 1, plan


def test_aqe_splits_skewed_join_partitions(spark):
    """End-to-end proof the claimed AQE skew posture is armed: a join
    with one hot key (80% of rows) must come back from execution with
    SortMergeJoin(skew=true) + AQEShuffleRead skewed — the runtime
    split that keeps one hot key from serializing a 100 TB join.
    Thresholds are lowered to test scale; note the aggregate must
    actually CONSUME the wide payload, or column pruning drops it
    before the exchange and the 'hot' partition is a few KB of keys."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        pad = F.concat(
            F.md5(F.col("id").cast("string")), F.md5((F.col("id") + 7).cast("string"))
        )
        left = spark.range(250_000).select(
            F.when(F.col("id") < 200_000, 0).otherwise((F.col("id") % 50) + 1).alias("k"),
            pad.alias("pad"),
        )
        right = spark.range(5_100).select(
            (F.col("id") % 51).alias("k"), F.col("id").alias("r_payload")
        )
        j = left.join(right, "k").groupBy().agg(F.sum(F.length("pad")).alias("n"))
        j.collect()  # AQE replans on materialized shuffle stats
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
        assert "AQEShuffleRead skewed" in plan, plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_entropy_fast_is_single_pass_no_exchange(spark):
    """The Arrow entropy kernel must be ONE mapInPandas over the scan:
    no Exchange, no join, no explode-aggregate — that is the whole
    point of the fast path beside the oracle-mirrorable formulation."""
    from durablefunctions_mapreduce_dotnet_spark.operators.textops import (
        char_entropy_fast,
    )

    df = char_entropy_fast(read_table(spark, SF_DIR, "documents"))
    plan = explain_str(df)
    assert "Exchange" not in plan
    assert "Generate" not in plan  # no explode
    assert "MapInPandas" in plan
    assert_read_schema_only(df, "documents", {"doc_id", "text"})


def test_normalize_text_pipelines_into_scan(spark):
    """normalize_text is pure row-expression work: no Exchange, no UDF
    (ArrowEvalPython/BatchEvalPython absent), column-pruned scan."""
    from durablefunctions_mapreduce_dotnet_spark.operators.textops import (
        normalize_text,
    )

    df = normalize_text(read_table(spark, SF_DIR, "documents"))
    plan = explain_str(df)
    assert "Exchange" not in plan
    assert "EvalPython" not in plan
    assert_read_schema_only(df, "documents", {"doc_id", "text"})


def test_embedding_lsh_split_path_no_cartesian(spark):
    """The memory-capped LSH split path must stay an equi-keyed
    applyInPandas plan: salting into gemm tiles may never introduce a
    cartesian or nested-loop join."""
    from durablefunctions_mapreduce_dotnet_spark.operators.dedup import (
        embedding_near_dup_lsh,
    )

    e = read_table(spark, SF_DIR, "embeddings")
    plan = explain_str(embedding_near_dup_lsh(e, max_bucket=5))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "FlatMapGroupsInPandas" in plan


def test_lateral_topn_decorrelates_to_window_group_limit(spark):
    """The correlated LATERAL (ORDER BY + LIMIT) subquery must
    decorrelate into the rank-window top-N plan — WindowGroupLimit +
    an equi-join — never a per-row nested-loop re-execution."""
    from durablefunctions_mapreduce_dotnet_spark.queries import all_queries

    df = all_queries()["subq_lateral_topn"](spark, SF_DIR)
    plan = explain_str(df)
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_recursive_cte_plans_union_loop(spark):
    """WITH RECURSIVE executes via Spark's UnionLoop operator (bounded
    iteration in the plan), not a driver-side loop."""
    from durablefunctions_mapreduce_dotnet_spark.queries import all_queries

    plan = explain_str(all_queries()["recursive_hierarchy"](spark, SF_DIR))
    assert "UnionLoop" in plan


def test_r10_queries_prune_and_partition(spark):
    """r10 additions hold the 100 TB plan bar: epoch_shuffle reads ONLY
    doc_id (the permutation is id-pure); domain_cap reads exactly its
    three columns and windows WITHOUT a single-partition exchange (the
    cap is per-domain); the exact-quantile twin windows per event_type,
    never globally."""
    from durablefunctions_mapreduce_dotnet_spark.queries.aggregates_q import (
        q_kll_quantiles_exact,
    )
    from durablefunctions_mapreduce_dotnet_spark.queries.curation_q import (
        q_domain_cap,
        q_epoch_shuffle,
    )

    assert_read_schema_only(q_epoch_shuffle(spark, SF_DIR), "documents", {"doc_id"})
    cap = q_domain_cap(spark, SF_DIR)
    assert_read_schema_only(cap, "documents", {"doc_id", "source", "n_chars"})
    assert "SinglePartition" not in explain_str(cap, "simple")
    assert "SinglePartition" not in explain_str(
        q_kll_quantiles_exact(spark, SF_DIR), "simple"
    )


def test_pca2d_exact_scans_are_linear_and_broadcast(spark):
    """pca2d_exact must be linear corpus passes with the 1-row scalar
    frames BROADCAST back (the allowlisted IdentityBroadcastMode cross
    shape) — a corpus shuffle by a non-trivial key or a true cartesian
    would break the 100 TB story."""
    from durablefunctions_mapreduce_dotnet_spark.queries.similarity_q import (
        q_embedding_pca2_exact,
    )

    plan = explain_str(q_embedding_pca2_exact(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "IdentityBroadcastMode" in plan  # 1-row scalar broadcast
    # the only wide exchanges: the scalar aggregates and the output sort
    # - never a corpus hashpartition by a data key
    assert "hashpartitioning(vec_id" not in plan and "hashpartitioning(_id" not in plan


def test_governance_sweeps_are_single_scans(spark):
    """audit_checksum_reconcile and curation_forget_users must each be
    ONE combiner-reduced scan over exactly the columns they use — at
    100 TB these governance reports cannot afford a second pass or a
    wide read."""
    from durablefunctions_mapreduce_dotnet_spark.queries.analytics_q import (
        q_audit_checksum,
    )
    from durablefunctions_mapreduce_dotnet_spark.queries.curation_q import (
        q_forget_users,
    )

    chk = q_audit_checksum(spark, SF_DIR)
    assert_read_schema_only(chk, "documents", {"doc_id", "source", "text"})
    assert explain_str(chk, "simple").count("FileScan parquet") == 1
    forget = q_forget_users(spark, SF_DIR)
    assert_read_schema_only(forget, "events", {"event_type", "user_id"})
    assert explain_str(forget, "simple").count("FileScan parquet") == 1


def test_evolved_read_still_prunes_columns_and_pushes_filters(spark, tmp_path):
    """mergeSchema must not cost pruning: a 2-column projection over the
    merged snapshot view decodes only those columns (per-file physical
    schema), and a filter on a late-added column is still PUSHED to the
    scan — the merged view reads no more than the per-snapshot reads."""
    from durablefunctions_mapreduce_dotnet_spark.plans.inspect import (
        assert_pushed_filters,
        assert_read_schema_only,
    )
    from durablefunctions_mapreduce_dotnet_spark.sources.readers import (
        read_parquet_evolved,
        read_table,
    )

    d = read_table(spark, SF_DIR, "documents")
    d.select("doc_id", "text").write.parquet(str(tmp_path / "s" / "g0"))
    d.select("doc_id", "text", "lang").write.parquet(str(tmp_path / "s" / "g1"))
    m = read_parquet_evolved(spark, str(tmp_path / "s"))
    q = m.where(F.col("lang") == "en").select("doc_id", "lang")
    assert_read_schema_only(q, "/s", {"doc_id", "lang"})
    assert_pushed_filters(q, "EqualTo(lang,en)")


def test_r12_queries_plan_shapes(spark):
    """The r12 additions keep their 100 TB contracts in the PLAN:

    * curation_decontaminate — the asymmetric inverted index joins
      bench x train postings only: no CartesianProduct, and the
      documents scan reads exactly (doc_id, text)
    * text_langid_trigram — the vocabulary-sized weight table joins as
      a BROADCAST hash join (a shuffled join of a 168-row table against
      the exploded trigram stream would be the classic small-dim miss)
    * curation_url_normalize — generation + normalization are pure
      codegen'd string expressions: no Python eval in the plan, one
      documents scan reading only (doc_id, source)
    """
    from durablefunctions_mapreduce_dotnet_spark.queries.curation_q import (
        q_curation_decontaminate,
        q_curation_url_normalize,
    )
    from durablefunctions_mapreduce_dotnet_spark.queries.text_q import (
        q_text_langid_trigram,
    )

    dec = q_curation_decontaminate(spark, SF_DIR)
    plan = explain_str(dec)
    assert "CartesianProduct" not in plan
    assert_read_schema_only(dec, "documents", {"doc_id", "text"})

    lang = q_text_langid_trigram(spark, SF_DIR)
    plan = explain_str(lang)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan

    url = q_curation_url_normalize(spark, SF_DIR)
    plan = explain_str(url)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert_read_schema_only(url, "documents", {"doc_id", "source"})
    assert explain_str(url, "simple").count("FileScan parquet") == 1


def test_incremental_components_broadcasts_delta_onto_prior(spark):
    """incremental_components' 100 TB claim in the PLAN: the relabeling
    join onto the (petabyte-scale) prior table must be a BROADCAST hash
    join of the batch-sized delta — a shuffled join there would
    repartition the entire prior labeling every ingest."""
    from durablefunctions_mapreduce_dotnet_spark.operators.graph import (
        incremental_components,
    )

    prior = spark.range(0, 10_000).select(
        F.col("id").alias("node"), (F.col("id") - F.col("id") % 3).alias("component")
    )
    new_pairs = spark.createDataFrame(
        [(1, 20_001), (5, 8), (20_002, 20_003)], "id_a long, id_b long"
    )
    out = incremental_components(prior, new_pairs)
    plan = explain_str(out)
    assert "BroadcastHashJoin" in plan
    # EVERY join broadcasts (rep lookups, anti vs prior, relabels) — a
    # sort-merge or shuffled-hash join anywhere means a corpus-scale
    # repartition snuck in.  (The one hashpartitioning in the plan is
    # the batch-sized new_nodes distinct, which is fine.)
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # the prior labeling itself must never repartition by component
    assert "hashpartitioning(component" not in plan


def test_r13_queries_prune_and_stay_jvm_side(spark):
    """r13 newcomers' scale posture in the PLAN: the packer reads only
    the three columns it needs, the topgram signals are pure JVM
    explode+count (no Python eval in the hot path — only the packer's
    per-bucket FFD is Arrow-batched by design), and the drift report's
    joins onto the 16-row cell spine broadcast."""
    from durablefunctions_mapreduce_dotnet_spark.queries.curation_q import (
        q_pack_bestfit,
    )
    from durablefunctions_mapreduce_dotnet_spark.queries.similarity_q import (
        q_ann_ivf_incremental,
    )
    from durablefunctions_mapreduce_dotnet_spark.queries.text_q import (
        q_text_topgram,
    )

    bf = q_pack_bestfit(spark, SF_DIR)
    assert_read_schema_only(bf, "documents", {"doc_id", "source", "text"})
    assert "CartesianProduct" not in explain_str(bf, "simple")

    tg = q_text_topgram(spark, SF_DIR)
    assert_read_schema_only(tg, "documents", {"doc_id", "text"})
    p = explain_str(tg, "simple")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p

    dr = q_ann_ivf_incremental(spark, SF_DIR)
    p = explain_str(dr, "simple")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
