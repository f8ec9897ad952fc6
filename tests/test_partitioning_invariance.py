"""Partitioning invariance: the engine's determinism contract says any
operator's result is IDENTICAL under any physical partitioning of the
input (the reference itself fails this — its reducer races,
``Sample.cs:218-224``).  Run each round-4 operator over the same rows
split 1 way and 17 ways and require equal results, exactly.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _both_layouts(df):
    return df.repartition(1), df.repartition(17)


def _rows(df, *cols):
    return sorted([tuple(r) for r in df.select(*cols).collect()], key=repr)


def test_temperature_mix_partitioning_invariant(spark):
    from durablefunctions_mapreduce_dotnet_spark.operators.curation import temperature_mix

    base = spark.createDataFrame(
        [(i, f"src{i % 7}") for i in range(4000)], "doc_id long, source string"
    )
    a, b = _both_layouts(base)
    ra = _rows(temperature_mix(a, "doc_id", "source"), "source", "n_docs", "n_kept")
    rb = _rows(temperature_mix(b, "doc_id", "source"), "source", "n_docs", "n_kept")
    assert ra == rb


def test_funnel_and_scd2_partitioning_invariant(spark):
    from durablefunctions_mapreduce_dotnet_spark.operators.analytics import (
        funnel_counts,
        scd2_intervals,
    )

    types = ["view", "click", "purchase", "error"]
    base = spark.createDataFrame(
        [(i % 37, (i * 7919) % 100_000, i, types[(i * 13) % 4]) for i in range(2000)],
        "u long, t long, id long, ty string",
    ).select("u", F.timestamp_seconds("t").alias("ts"), "id", "ty")
    a, b = _both_layouts(base)
    fa = _rows(funnel_counts(a, "u", "ty", "ts", ["view", "click", "purchase"]),
               "step", "step_name", "n_users")
    fb = _rows(funnel_counts(b, "u", "ty", "ts", ["view", "click", "purchase"]),
               "step", "step_name", "n_users")
    assert fa == fb
    sa = _rows(scd2_intervals(a, "u", "ts", "ty", "id"), "u", "ty", "valid_from", "valid_to")
    sb = _rows(scd2_intervals(b, "u", "ts", "ty", "id"), "u", "ty", "valid_from", "valid_to")
    assert sa == sb


def test_lm_score_and_entropy_partitioning_invariant(spark):
    """The decimal-summed folds must make even FP-bearing text scores
    bit-identical across partitionings (a raw double SUM would not be)."""
    from durablefunctions_mapreduce_dotnet_spark.operators.textops import (
        char_entropy,
        lm_bigram_score,
    )

    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    base = spark.createDataFrame(
        [(i, " ".join(words[(i + j) % 6] for j in range(30))) for i in range(300)],
        "doc_id long, text string",
    )
    a, b = _both_layouts(base)
    ref_a, ref_b = a.where(F.col("doc_id") % 5 == 0), b.where(F.col("doc_id") % 5 == 0)
    la = _rows(lm_bigram_score(a, ref_a), "doc_id", "lm_score")
    lb = _rows(lm_bigram_score(b, ref_b), "doc_id", "lm_score")
    assert la == lb  # exact equality, not approx — decimal sums are order-free
    ea = _rows(char_entropy(a), "doc_id", "entropy_bits")
    eb = _rows(char_entropy(b), "doc_id", "entropy_bits")
    assert ea == eb


def test_pagerank_partitioning_invariant(spark):
    from durablefunctions_mapreduce_dotnet_spark.operators.graph import pagerank

    base = spark.createDataFrame(
        [((i * 31) % 50, (i * 17) % 50) for i in range(1500)], "src long, dst long"
    )
    a, b = _both_layouts(base)
    ra = _rows(pagerank(a, iters=3), "node", "rank")
    rb = _rows(pagerank(b, iters=3), "node", "rank")
    assert ra == rb


def test_round6_ops_partitioning_invariant(spark):
    """Triangles (orientation tie-breaks), DSIR weights (FP sum +
    6 dp rounding), n-gram novelty (integer ratio) and the quantized
    covariance (integer sums) must be IDENTICAL under 1-way vs 17-way
    input layouts."""
    from durablefunctions_mapreduce_dotnet_spark.operators.clustering import (
        embedding_covariance,
    )
    from durablefunctions_mapreduce_dotnet_spark.operators.curation import (
        dsir_weights,
        ngram_novelty,
    )
    from durablefunctions_mapreduce_dotnet_spark.operators.graph import (
        triangle_counts,
    )

    edges = spark.createDataFrame(
        [((i * 7) % 23, (i * 11) % 23) for i in range(300)],
        "id_a bigint, id_b bigint",
    )
    a, b = _both_layouts(edges)
    assert _rows(triangle_counts(a), "n", "n_triangles") == _rows(
        triangle_counts(b), "n", "n_triangles"
    )

    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta"]
    docs = spark.createDataFrame(
        [
            (i, " ".join(vocab[(i * j) % 7] for j in range(1, 14)), f"s{i % 5}")
            for i in range(400)
        ],
        "doc_id bigint, text string, source string",
    )
    a, b = _both_layouts(docs)
    t = F.col("source").isin("s0", "s1")
    assert _rows(dsir_weights(a, t), "doc_id", "weight", "n_tokens") == _rows(
        dsir_weights(b, t), "doc_id", "weight", "n_tokens"
    )
    assert _rows(ngram_novelty(a, n=3), "doc_id", "n_grams", "n_novel", "novelty") == _rows(
        ngram_novelty(b, n=3), "doc_id", "n_grams", "n_novel", "novelty"
    )

    import numpy as np

    vecs = spark.createDataFrame(
        [
            (i, [float(np.sin(i * d + 1) * 0.5) for d in range(8)])
            for i in range(300)
        ],
        "vec_id bigint, embedding array<double>",
    )
    a, b = _both_layouts(vecs)
    assert _rows(embedding_covariance(a), "i", "j", "cov") == _rows(
        embedding_covariance(b), "i", "j", "cov"
    )


def test_sax_motifs_partitioning_invariant(spark):
    """The chunked window extraction (sorted collect per (key, chunk))
    and the 9-dp-ranked candidate ordering must be IDENTICAL under
    1-way vs 17-way layouts — window content assembled from shuffled
    rows is exactly where a layout dependence would hide."""
    import math

    from durablefunctions_mapreduce_dotnet_spark.operators.timeseries import (
        sax_similar_subsequences,
    )

    rows = [
        (i, i, f"s{i % 2}", math.sin(i * i * 0.31) * 40 + (i * 29 % 97))
        for i in range(600)
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, t bigint, event_type string, value double"
    ).select(
        "event_id", F.timestamp_seconds("t").alias("ts"), "event_type", "value"
    )
    a, b = _both_layouts(df)
    ra = _rows(
        sax_similar_subsequences(a, k=10),
        "event_type", "rank", "start_a", "start_b", "dist",
    )
    rb = _rows(
        sax_similar_subsequences(b, k=10),
        "event_type", "rank", "start_a", "start_b", "dist",
    )
    assert ra == rb and len(ra) > 0


def test_heavy_hitters_partitioning_invariant_and_exact(spark):
    """Misra-Gries candidates depend on partition layout, but the
    VERIFIED output must not: heavy_hitters_exact over the same rows
    split 1 way and 17 ways (and with a deliberately tiny k at the
    guarantee boundary) must equal the brute-force GROUP BY answer."""
    from durablefunctions_mapreduce_dotnet_spark.operators.textops import (
        heavy_hitters_exact,
    )

    # skewed corpus: 'alpha' ~18%, 'beta' ~9%, long tail of one-hits
    # (two-letter suffixes — digits would be stripped by [a-z]+ and
    # collapse the tail into one giant 'tail' token)
    words = (
        ["alpha"] * 200
        + ["beta"] * 100
        + [f"t{chr(97 + i % 26)}{chr(97 + (i // 26) % 26)}x" for i in range(800)]
    )
    docs = [
        (i, " ".join(words[i::50]))  # stripe words across 50 docs
        for i in range(50)
    ]
    base = spark.createDataFrame(docs, "doc_id long, text string")
    brute = {
        (r.token, r.freq)
        for r in base.select(
            F.explode(
                F.regexp_extract_all(
                    F.lower("text"), F.lit("[a-z]+"), F.lit(0)
                )
            ).alias("token")
        )
        .groupBy("token")
        .count()
        .withColumnRenamed("count", "freq")
        .where(F.col("freq") * 100 >= F.lit(len(words)) * 5)
        .collect()
    }
    for parts in (1, 17):
        got = {
            (r.token, r.freq)
            for r in heavy_hitters_exact(
                base.repartition(parts), num=5, den=100, k=20
            ).collect()
        }
        assert got == brute and {"alpha", "beta"} == {t for t, _ in got}
