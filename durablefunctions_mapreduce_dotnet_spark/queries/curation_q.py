"""Dataset-curation queries over ``documents`` (north-star scope):
deterministic sampling/splits, sequence packing, vocabulary stats,
PII redaction — each mirrored exactly in DuckDB.

The portable multiplicative hash (operators.curation.hash_bucket) is
what makes sampling/split oracles EXACT rather than statistical: both
engines select the identical row set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.curation import (
    doc_top_distinctive_terms,
    pack_documents,
    redact_pii,
    sample_fraction,
    sample_stratified,
    train_val_test_split,
    vocab_top_terms,
)
from ..session import cut
from ..sources.readers import read_parquet_evolved, read_table

_BUCKET = "((((doc_id * 2654435761) % 4294967296 + 4294967296) % 4294967296) % 100)"


def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% corpus sample (hash-bucket membership)."""
    d = read_table(spark, sf_dir, "documents")
    return sample_fraction(d, "doc_id", 10).select("doc_id", "lang")


_SAMPLE_SQL = f"""
SELECT doc_id, lang FROM documents WHERE {_BUCKET} < 10
"""


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebalancing sample: downsample dominant en to 10%, keep 50% of
    the tail languages."""
    d = read_table(spark, sf_dir, "documents")
    rates = {"en": 10, "de": 50, "fr": 50, "es": 50, "zh": 50}
    return sample_stratified(d, "doc_id", "lang", rates).select("doc_id", "lang")


_STRATIFIED_SQL = f"""
SELECT doc_id, lang FROM documents
WHERE {_BUCKET} < (CASE lang WHEN 'en' THEN 10
                             WHEN 'de' THEN 50 WHEN 'fr' THEN 50
                             WHEN 'es' THEN 50 WHEN 'zh' THEN 50 ELSE 0 END)
"""


def q_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """90/5/5 train/val/test split, counted per (lang, split) — the
    stability check a pipeline runs after splitting."""
    d = read_table(spark, sf_dir, "documents")
    return (
        train_val_test_split(d, "doc_id", 5, 5)
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


_SPLIT_SQL = f"""
SELECT lang,
       CASE WHEN {_BUCKET} < 90 THEN 'train'
            WHEN {_BUCKET} < 95 THEN 'val' ELSE 'test' END AS split,
       COUNT(*) AS n_docs
FROM documents GROUP BY 1, 2
"""


def q_split_groupaware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe split: membership is a function of the SOURCE key,
    so same-origin (and thus likely near-duplicate) documents can never
    straddle train/test.  n_sources per split proves group purity:
    summing it across splits equals the total distinct-source count —
    no source appears twice."""
    from ..operators.curation import group_aware_split

    d = read_table(spark, sf_dir, "documents")
    return (
        group_aware_split(d, "source", 10, 10)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
        )
    )


_GROUP_BUCKET = "(CAST(('0x' || substring(md5(source), 1, 8)) AS BIGINT) % 100)"
_SPLIT_GROUPAWARE_SQL = f"""
SELECT CASE WHEN {_GROUP_BUCKET} < 80 THEN 'train'
            WHEN {_GROUP_BUCKET} < 90 THEN 'val' ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT source) AS n_sources
FROM documents GROUP BY 1
"""


def q_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping sliding-window chunking (512-char chunks, 64-char
    overlap) — the RAG/context-window ingestion primitive, pure
    codegen'd sequence+explode+substring pipelined into the scan."""
    from ..operators.curation import chunk_documents

    d = read_table(spark, sf_dir, "documents")
    return chunk_documents(d, chunk_chars=512, overlap_chars=64)


_CHUNK_SQL = """
WITH t AS (
  SELECT doc_id, text, length(text) AS n FROM documents WHERE length(text) > 0
), s AS (
  SELECT doc_id, text,
         greatest(CAST(ceil((n - 512) / 448.0) AS BIGINT), 0) AS k
  FROM t
)
SELECT doc_id,
       CAST(i AS BIGINT) AS chunk_idx,
       substring(text, CAST(i * 448 + 1 AS INTEGER), 512) AS chunk_text
FROM s, unnest(range(0, k + 1)) AS u(i)
"""


def q_chunk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget chunking (128 BPE-ish tokens, 16 overlap) — the
    model-shaped sibling of curation_chunk_overlap; tokens carry their
    leading whitespace so chunks reconstruct the text exactly."""
    from ..operators.curation import chunk_documents_tokens

    d = read_table(spark, sf_dir, "documents")
    return chunk_documents_tokens(d, chunk_tokens=128, overlap_tokens=16)


_BPE_RE_SQL = "'''(s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+'"
_CHUNK_TOKENS_SQL = f"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(text, {_BPE_RE_SQL}) AS toks FROM documents
), s AS (
  SELECT doc_id, toks, len(toks) AS n,
         greatest(CAST(ceil((len(toks) - 128) / 112.0) AS BIGINT), 0) AS k
  FROM t WHERE len(toks) > 0
)
SELECT doc_id,
       CAST(i AS BIGINT) AS chunk_idx,
       array_to_string(list_slice(toks, CAST(i * 112 + 1 AS BIGINT),
                                  CAST(i * 112 + 128 AS BIGINT)), '') AS chunk_text,
       CAST(least(n - i * 112, 128) AS BIGINT) AS n_tokens
FROM s, unnest(range(0, k + 1)) AS u(i)
"""


def q_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing into 2048-token packs per source.
    (Budget is a power of two, so floor(prefix/budget) is FP-exact on
    both engines.)"""
    d = read_table(spark, sf_dir, "documents")
    return pack_documents(d, budget_tokens=2048)


_PACK_SQL = """
WITH t AS (
  SELECT doc_id, source,
         CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT doc_id, source, n_tokens,
       CAST(FLOOR(CAST(COALESCE(SUM(n_tokens) OVER (
              PARTITION BY source ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
            / 2048.0) AS BIGINT) AS pack_id
FROM t
"""


def q_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency audit over the 2048-token packs — the metric a
    training pipeline reads before committing a packing policy (waste =
    padding the trainer burns): per source, doc/pack counts, exact token
    totals, the largest pack (concat-and-chunk assigns whole docs to the
    pack where they START, so a straddling doc overfills it), and the
    fill ratio vs budget.  Integer aggregates end-to-end; the single
    ratio is one IEEE division rounded 6 dp."""
    d = read_table(spark, sf_dir, "documents")
    packs = pack_documents(d, budget_tokens=2048)
    per_pack = packs.groupBy("source", "pack_id").agg(
        F.sum("n_tokens").alias("_pt"), F.count(F.lit(1)).alias("_pd")
    )
    return (
        per_pack.groupBy("source")
        .agg(
            F.sum("_pd").alias("n_docs"),
            F.count(F.lit(1)).alias("n_packs"),
            F.sum("_pt").alias("total_tokens"),
            F.max("_pt").alias("max_pack_tokens"),
            F.round(
                F.sum("_pt") / (F.count(F.lit(1)) * F.lit(2048.0)), 6
            ).alias("fill_ratio"),
        )
        .orderBy("source")
    )


_PACK_EFFICIENCY_SQL = """
WITH t AS (
  SELECT doc_id, source,
         CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens
  FROM documents
),
p AS (
  SELECT doc_id, source, n_tokens,
         CAST(FLOOR(CAST(COALESCE(SUM(n_tokens) OVER (
                PARTITION BY source ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
              / 2048.0) AS BIGINT) AS pack_id
  FROM t
),
per_pack AS (
  SELECT source, pack_id, SUM(n_tokens) AS pt, COUNT(*) AS pd
  FROM p GROUP BY source, pack_id
)
SELECT source,
       CAST(SUM(pd) AS BIGINT) AS n_docs,
       COUNT(*) AS n_packs,
       CAST(SUM(pt) AS BIGINT) AS total_tokens,
       CAST(MAX(pt) AS BIGINT) AS max_pack_tokens,
       ROUND(CAST(SUM(pt) AS DOUBLE) / (COUNT(*) * 2048.0), 6) AS fill_ratio
FROM per_pack
GROUP BY source ORDER BY source
"""


def q_pack_bestfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-fit-decreasing packing at budget 256 (the corpus's ~40-100
    token docs make 2048 degenerate — one pack per source) — the
    policy ``q_pack_efficiency`` motivated: every pack respects the
    budget, so waste is padding only.  The oracle unrolls the exact
    greedy in a recursive CTE whose per-step state is the open-pack
    remainder LIST per (source, bucket) — all buckets advance in
    lockstep, depth = max bucket size.  Assignments are pure integer
    decisions (no FP anywhere), so the row is hash-exact by
    construction."""
    from ..operators.curation import pack_bestfit

    d = read_table(spark, sf_dir, "documents")
    return pack_bestfit(d, budget_tokens=256, n_buckets=2).orderBy(
        "source", "bucket", "pack", "doc_id"
    )


_PACK_BESTFIT_CTE = r"""
WITH RECURSIVE t AS (
  SELECT doc_id, source,
         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
              % 2 AS INTEGER) AS bucket
  FROM documents
),
b AS (
  SELECT doc_id, source, bucket, n_tokens,
         CAST(ROW_NUMBER() OVER (PARTITION BY source, bucket
                                 ORDER BY n_tokens DESC, doc_id) AS INTEGER) AS rn
  FROM t
),
ffd AS (  -- greedy first-fit-decreasing, open-pack remainders as list state
  SELECT source, bucket, rn, doc_id, n_tokens,
         1 AS pack,
         [256 - n_tokens] AS rem
  FROM b WHERE rn = 1
  UNION ALL
  SELECT source, bucket, rn, doc_id, n_tokens,
         CAST(COALESCE(idx, len(rem0) + 1) AS INTEGER) AS pack,
         CASE WHEN idx IS NULL THEN list_append(rem0, 256 - need)
              ELSE list_transform(range(1, len(rem0) + 1),
                                  j -> CASE WHEN j = idx THEN rem0[j] - need
                                            ELSE rem0[j] END)
         END AS rem
  FROM (
    SELECT nb.source, nb.bucket, nb.rn, nb.doc_id, nb.n_tokens,
           nb.n_tokens AS need, f.rem AS rem0,
           list_filter(range(1, len(f.rem) + 1),
                       i -> f.rem[i] >= nb.n_tokens)[1] AS idx
    FROM ffd f
    JOIN b nb ON nb.source = f.source AND nb.bucket = f.bucket
             AND nb.rn = f.rn + 1
  )
)
"""

_PACK_BESTFIT_SQL = (
    _PACK_BESTFIT_CTE
    + """
SELECT doc_id, source, bucket, n_tokens, CAST(pack AS INTEGER) AS pack
FROM ffd ORDER BY source, bucket, pack, doc_id
"""
)


def q_pack_split_bestfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-then-pack at budget 64 (the corpus's 15-99-token docs make
    1-2 pieces each, so the split is live): budget-capped contiguous
    token runs FFD-packed by piece — zero overflow at ANY budget
    (whole-doc best-fit gets oversize singletons once a doc exceeds
    the budget; this never does) and full pieces close packs at
    exactly 100% fill.  Oracle: piece explosion + the same
    remainder-list recursive greedy, budget 64, on piece rows."""
    from ..operators.curation import split_pack_bestfit

    d = read_table(spark, sf_dir, "documents")
    return split_pack_bestfit(d, budget_tokens=64, n_buckets=2).orderBy(
        "source", "bucket", "pack", "piece_id"
    )


_PACK_SPLIT_BESTFIT_SQL = r"""
WITH RECURSIVE d AS (
  SELECT doc_id, source,
         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n
  FROM documents
  WHERE len(regexp_extract_all(text, '\S+')) > 0
),
p0 AS (
  SELECT doc_id, source, n,
         unnest(range(0, (n - 1) // 64 + 1)) AS piece_idx
  FROM d
),
p AS (
  SELECT doc_id * 1000000 + piece_idx AS piece_id,
         doc_id, piece_idx, source,
         LEAST(64, n - piece_idx * 64) AS n_tokens,
         CAST(('0x' || substring(md5(CAST(doc_id * 1000000 + piece_idx
                                          AS VARCHAR)), 1, 15))::BIGINT
              % 2 AS INTEGER) AS bucket
  FROM p0
),
b AS (
  SELECT piece_id, source, bucket, n_tokens,
         CAST(ROW_NUMBER() OVER (PARTITION BY source, bucket
                                 ORDER BY n_tokens DESC, piece_id)
              AS INTEGER) AS rn
  FROM p
),
ffd AS (
  SELECT source, bucket, rn, piece_id, n_tokens,
         1 AS pack,
         [64 - n_tokens] AS rem
  FROM b WHERE rn = 1
  UNION ALL
  SELECT source, bucket, rn, piece_id, n_tokens,
         CAST(COALESCE(idx, len(rem0) + 1) AS INTEGER) AS pack,
         CASE WHEN idx IS NULL THEN list_append(rem0, 64 - need)
              ELSE list_transform(range(1, len(rem0) + 1),
                                  j -> CASE WHEN j = idx THEN rem0[j] - need
                                            ELSE rem0[j] END)
         END AS rem
  FROM (
    SELECT nb.source, nb.bucket, nb.rn, nb.piece_id, nb.n_tokens,
           nb.n_tokens AS need, f.rem AS rem0,
           list_filter(range(1, len(f.rem) + 1),
                       i -> f.rem[i] >= nb.n_tokens)[1] AS idx
    FROM ffd f
    JOIN b nb ON nb.source = f.source AND nb.bucket = f.bucket
             AND nb.rn = f.rn + 1
  )
)
SELECT f.piece_id, p.doc_id, p.piece_idx, f.source, f.bucket,
       f.n_tokens, CAST(f.pack AS INTEGER) AS pack
FROM ffd f JOIN p USING (piece_id)
ORDER BY f.source, f.bucket, pack, f.piece_id
"""


def q_pack_policy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Side-by-side packing-policy audit at budget 256 — the decision
    table ``q_pack_efficiency`` set up: per (source, policy), pack
    count, overflow tokens a trainer would TRUNCATE (whole-doc
    concat-and-chunk overfills the pack a straddling doc starts in —
    that's destroyed training data), padding tokens it would burn, and
    the USABLE fill ratio (tokens landing inside the physical budget
    window / capacity).  Three policies: ``bestfit`` (FFD, bucketed),
    ``nextfit`` (the honest lossless sequential baseline), ``chunk``
    (pack_documents — fewest packs, but fill is bought with
    truncation).  The packing claim — bestfit loses nothing AND fills
    strictly better than the lossless baseline — is pinned by
    tests/test_llm_ops.py::test_pack_bestfit_beats_chunk.  Integer
    aggregates end-to-end; fill is one IEEE division rounded 6 dp."""
    from ..operators.curation import pack_bestfit, pack_nextfit

    d = read_table(spark, sf_dir, "documents")
    bf = (
        pack_bestfit(d, budget_tokens=256, n_buckets=2)
        .groupBy("source", "bucket", "pack")
        .agg(F.sum("n_tokens").alias("_pt"))
    )
    nf = (
        pack_nextfit(d, budget_tokens=256)
        .groupBy("source", "pack")
        .agg(F.sum("n_tokens").alias("_pt"))
    )
    ch = (
        pack_documents(d, budget_tokens=256)
        .groupBy("source", "pack_id")
        .agg(F.sum("n_tokens").alias("_pt"))
    )

    def audit(per_pack: DataFrame, policy: str) -> DataFrame:
        usable = F.least(F.col("_pt"), F.lit(256))
        return per_pack.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_packs"),
            F.sum(F.greatest(F.col("_pt") - F.lit(256), F.lit(0))).alias(
                "overflow_tokens"
            ),
            F.sum(F.lit(256) - usable).alias("padding_tokens"),
            F.round(
                F.sum(usable) / (F.count(F.lit(1)) * F.lit(256.0)), 6
            ).alias("fill_ratio"),
        ).withColumn("policy", F.lit(policy))
    return (
        audit(bf, "bestfit")
        .unionByName(audit(nf, "nextfit"))
        .unionByName(audit(ch, "chunk"))
        .orderBy("source", "policy")
    )


_PACK_POLICY_AUDIT_SQL = (
    _PACK_BESTFIT_CTE
    + r""",
bf_packs AS (
  SELECT source, bucket, pack, SUM(n_tokens) AS pt
  FROM ffd GROUP BY source, bucket, pack
),
bid AS (
  SELECT doc_id, source, n_tokens,
         CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id)
              AS INTEGER) AS rn
  FROM t
),
nf AS (  -- next-fit: one open pack, closed when the next doc overflows
  SELECT source, rn, doc_id, n_tokens, 1 AS pack, n_tokens AS fill
  FROM bid WHERE rn = 1
  UNION ALL
  SELECT nb.source, nb.rn, nb.doc_id, nb.n_tokens,
         CASE WHEN f.fill + nb.n_tokens <= 256 THEN f.pack
              ELSE f.pack + 1 END AS pack,
         CASE WHEN f.fill + nb.n_tokens <= 256 THEN f.fill + nb.n_tokens
              ELSE nb.n_tokens END AS fill
  FROM nf f JOIN bid nb ON nb.source = f.source AND nb.rn = f.rn + 1
),
nf_packs AS (
  SELECT source, pack, SUM(n_tokens) AS pt
  FROM nf GROUP BY source, pack
),
ch AS (
  SELECT doc_id, source, n_tokens,
         CAST(FLOOR(CAST(COALESCE(SUM(n_tokens) OVER (
                PARTITION BY source ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
              / 256.0) AS BIGINT) AS pack_id
  FROM t
),
ch_packs AS (
  SELECT source, pack_id, SUM(n_tokens) AS pt
  FROM ch GROUP BY source, pack_id
),
audits AS (
  SELECT source, 'bestfit' AS policy,
         COUNT(*) AS n_packs,
         CAST(SUM(GREATEST(pt - 256, 0)) AS BIGINT) AS overflow_tokens,
         CAST(SUM(256 - LEAST(pt, 256)) AS BIGINT) AS padding_tokens,
         ROUND(CAST(SUM(LEAST(pt, 256)) AS DOUBLE) / (COUNT(*) * 256.0), 6)
           AS fill_ratio
  FROM bf_packs GROUP BY source
  UNION ALL
  SELECT source, 'nextfit' AS policy,
         COUNT(*) AS n_packs,
         CAST(SUM(GREATEST(pt - 256, 0)) AS BIGINT) AS overflow_tokens,
         CAST(SUM(256 - LEAST(pt, 256)) AS BIGINT) AS padding_tokens,
         ROUND(CAST(SUM(LEAST(pt, 256)) AS DOUBLE) / (COUNT(*) * 256.0), 6)
           AS fill_ratio
  FROM nf_packs GROUP BY source
  UNION ALL
  SELECT source, 'chunk' AS policy,
         COUNT(*) AS n_packs,
         CAST(SUM(GREATEST(pt - 256, 0)) AS BIGINT) AS overflow_tokens,
         CAST(SUM(256 - LEAST(pt, 256)) AS BIGINT) AS padding_tokens,
         ROUND(CAST(SUM(LEAST(pt, 256)) AS DOUBLE) / (COUNT(*) * 256.0), 6)
           AS fill_ratio
  FROM ch_packs GROUP BY source
)
SELECT * FROM audits ORDER BY source, policy
"""
)


def q_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 vocabulary by document frequency (df desc, term asc)."""
    d = read_table(spark, sf_dir, "documents")
    return vocab_top_terms(d, k=50)


_VOCAB_SQL = """
WITH words AS (
  SELECT unnest(list_distinct(regexp_extract_all(lower(text), '[a-z]+'))) AS term
  FROM documents
)
SELECT term, COUNT(*) AS doc_freq FROM words
GROUP BY term ORDER BY doc_freq DESC, term LIMIT 50
"""


def q_doc_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-3 distinctive terms (tf desc, df asc, term asc) with
    the tf-idf score attached (rounded 6 dp; ordering is pure-integer)."""
    d = read_table(spark, sf_dir, "documents")
    return doc_top_distinctive_terms(d, k=3)


_DOC_TOPTERMS_SQL = """
WITH terms AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT doc_id, term, tf, df, rank,
       ROUND(tf * LN(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
FROM (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df, n.n_docs,
         CAST(ROW_NUMBER() OVER (PARTITION BY tf.doc_id
              ORDER BY tf.tf DESC, dfreq.df ASC, tf.term ASC) AS BIGINT) AS rank
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
)
WHERE rank <= 3
"""


def _with_pii(d: DataFrame) -> DataFrame:
    """Inject deterministic PII spans (synthetic docs carry none): every
    3rd doc gets an email, every 5th a phone number."""
    return d.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit(" contact user"), F.col("doc_id"), F.lit("@example.com")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" call 555-"),
                    F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
                    F.lit("-0199"),
                ),
            ).otherwise(F.lit("")),
        ),
    )


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    return redact_pii(_with_pii(d))


_REDACT_SQL = r"""
WITH src AS (
  SELECT doc_id,
         text
         || (CASE WHEN doc_id % 3 = 0
                  THEN ' contact user' || doc_id || '@example.com' ELSE '' END)
         || (CASE WHEN doc_id % 5 = 0
                  THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-0199'
                  ELSE '' END) AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS BIGINT) AS n_phones,
       regexp_replace(
         regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g') AS redacted
FROM src
"""


def q_sample_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced sampling — the operation the k-means operator
    exists for: EQUAL COUNTS (40) from every spherical-k-means topic
    cluster, chosen in deterministic portable-hash order so the subset
    is stable across engines, partitionings and retries.  Composes
    operators/clustering.spherical_kmeans with the curation hash
    doctrine; the oracle nests the fully-unrolled Lloyd SQL and ranks
    with the identical integer hash.

    Scale note: the per-cluster window sorts one cluster per task —
    fine while m << cluster size and k gives enough parallelism (at
    100 TB you'd run k in the thousands, which also makes the clusters
    tighter); the two-phase partial-top-m refinement drops in here
    unchanged if a single cluster ever outgrows a task."""
    from ..operators.clustering import spherical_kmeans
    from ..operators.curation import portable_hash
    from pyspark.sql import Window

    e = read_table(spark, sf_dir, "embeddings")
    a = spherical_kmeans(e, k=8, iters=2)
    w = Window.partitionBy("cluster").orderBy(
        portable_hash("vec_id").asc(), F.col("vec_id").asc()
    )
    return (
        a.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= 40)
        .select("vec_id", "cluster")
    )


def _sample_clustered_sql() -> str:
    from .similarity_q import _kmeans_oracle_sql

    return f"""
WITH km AS ({_kmeans_oracle_sql()}),
ranked AS (
  SELECT vec_id, cluster,
         ROW_NUMBER() OVER (PARTITION BY cluster
           ORDER BY ((vec_id * 2654435761) % 4294967296 + 4294967296) % 4294967296, vec_id) AS rn
  FROM km)
SELECT vec_id, cluster FROM ranked WHERE rn <= 40
"""


_PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def q_profile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profiling in ONE scan: row count, null count, exact
    distinct count and min/max for several numeric columns at once —
    the pre-ingest audit a pipeline runs before trusting a drop.  The
    multi-column COUNT(DISTINCT) batch compiles to a single hash
    aggregate over an Expand (rows x #columns internally, one pass over
    the parquet, map-side partial for every stat); the wide single-row
    result is then unpivoted JVM-side with ``stack``.  The oracle is a
    per-column UNION ALL — same answer, DuckDB's planner's shape."""
    li = read_table(spark, sf_dir, "lineitem")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.min(c).alias(f"{c}__min"),
            F.max(c).alias(f"{c}__max"),
        ]
    wide = li.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__n, {c}__nulls, {c}__distinct, {c}__min, {c}__max"
        for c in _PROFILE_COLS
    )
    return wide.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack}) AS "
        "(col_name, n_rows, n_nulls, n_distinct, vmin, vmax)"
    )


_PROFILE_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col_name, COUNT(*) AS n_rows,
       COUNT(CASE WHEN {c} IS NULL THEN 1 END) AS n_nulls,
       COUNT(DISTINCT {c}) AS n_distinct,
       MIN({c}) AS vmin, MAX({c}) AS vmax
FROM lineitem"""
    for c in _PROFILE_COLS
)


def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted document sampling (64 docs, weight = n_chars) via
    deterministic Efraimidis-Spirakis (operators/curation.py
    sample_weighted) — longer documents proportionally likelier, yet the
    chosen set is a pure function of ids so the oracle re-derives it
    exactly."""
    from ..operators.curation import sample_weighted

    d = read_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return sample_weighted(d, "doc_id", "n_chars", k=64)


_SAMPLE_WEIGHTED_SQL = """
SELECT doc_id, n_chars FROM (
  SELECT doc_id, n_chars,
         ln(((((doc_id * 2654435761) % 4294967296 + 4294967296) % 4294967296) + 0.5) / 4294967296.0) / n_chars AS k
  FROM documents WHERE n_chars > 0)
ORDER BY k DESC, doc_id LIMIT 64
"""


def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width order-value histogram (width 25 000) in ONE map-side
    combined aggregate pass — the profiling staple beside
    ``curation_profile_stats``."""
    from ..operators.curation import fixed_width_histogram

    o = read_table(spark, sf_dir, "orders")
    return fixed_width_histogram(o, "o_totalprice", 25_000.0)


_HISTOGRAM_SQL = """
SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bucket,
       CAST(floor(o_totalprice / 25000.0) AS BIGINT) * 25000.0 AS bucket_lo,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_value,
       MIN(o_totalprice) AS min_value,
       MAX(o_totalprice) AS max_value
FROM orders
GROUP BY 1 ORDER BY bucket
"""


def q_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style one-scan constraint audit over a deliberately salted
    orders table (duplicated keys, NULLed dates, out-of-bounds prices,
    orphaned customer keys — all derived deterministically so the oracle
    builds the identical dirty table): key uniqueness + not-null +
    bounds ride ONE hash aggregate; referential integrity is a
    keys-only anti join."""
    from ..operators.curation import quality_audit

    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    m = F.col("o_orderkey") % 1000
    dup = o.where(m == 0)
    nulled = o.where(m == 1).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.lit(None).cast("timestamp").alias("o_orderdate"),
        "o_orderpriority",
    )
    oob = o.where(m == 2).select(
        (F.col("o_orderkey") + 20_000_000).alias("o_orderkey"),
        "o_custkey",
        "o_orderstatus",
        F.lit(-5.0).alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
    )
    orphan = o.where(m == 3).select(
        (F.col("o_orderkey") + 30_000_000).alias("o_orderkey"),
        (F.col("o_custkey") + 90_000_000).alias("o_custkey"),
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    )
    dirty = o.unionByName(dup).unionByName(nulled).unionByName(oob).unionByName(orphan)
    return quality_audit(
        dirty,
        key_cols=["o_orderkey"],
        not_null=["o_orderdate", "o_custkey"],
        bounds={"o_totalprice": (0.0, 600_000.0)},
        reference=(c, "o_custkey", "c_custkey"),
    )


_QUALITY_AUDIT_SQL = """
WITH dirty AS (
  SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders
  UNION ALL
  SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders
  WHERE o_orderkey % 1000 = 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_custkey, o_totalprice, CAST(NULL AS TIMESTAMP)
  FROM orders WHERE o_orderkey % 1000 = 1
  UNION ALL
  SELECT o_orderkey + 20000000, o_custkey, -5.0, o_orderdate
  FROM orders WHERE o_orderkey % 1000 = 2
  UNION ALL
  SELECT o_orderkey + 30000000, o_custkey + 90000000, o_totalprice, o_orderdate
  FROM orders WHERE o_orderkey % 1000 = 3
),
a AS (
  SELECT COUNT(*) AS n,
         COUNT(DISTINCT o_orderkey) AS kd,
         COUNT(CASE WHEN o_orderdate IS NULL THEN 1 END) AS nn_date,
         COUNT(CASE WHEN o_custkey IS NULL THEN 1 END) AS nn_cust,
         COUNT(CASE WHEN o_totalprice < 0.0 OR o_totalprice > 600000.0 THEN 1 END) AS ob_price
  FROM dirty
),
orph AS (
  SELECT COUNT(*) AS c FROM dirty d
  WHERE NOT EXISTS (SELECT 1 FROM customer x WHERE x.c_custkey = d.o_custkey)
)
SELECT * FROM (
  SELECT 'key_unique:o_orderkey' AS "check", n - kd AS metric, (n - kd) = 0 AS passed FROM a
  UNION ALL SELECT 'not_null:o_orderdate', nn_date, nn_date = 0 FROM a
  UNION ALL SELECT 'not_null:o_custkey', nn_cust, nn_cust = 0 FROM a
  UNION ALL SELECT 'bounds:o_totalprice', ob_price, ob_price = 0 FROM a
  UNION ALL SELECT 'fk_exists:o_custkey', c, c = 0 FROM orph
) ORDER BY "check"
"""


def q_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQUI-DEPTH (decile) histogram — the two-pass companion of the
    one-pass fixed-width histogram: global NTILE(10) tiles via the
    range-partitioned distribution rank (no SinglePartition window),
    then per-tile count/min/max/sum.  Composition of
    ``windows.global_distribution_rank`` + a combiner aggregate; the
    pin-release contract is the same as ``window_distribution``."""
    from ..operators.windows import global_distribution_rank
    from ..functions.numeric import dsum

    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    ranked = global_distribution_rank(o, ["o_totalprice", "o_orderkey"], ntile_k=10)
    return (
        ranked.groupBy(F.col("quartile").cast("long").alias("tile"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("o_totalprice").alias("min_value"),
            F.max("o_totalprice").alias("max_value"),
            dsum("o_totalprice", "sum_value"),
        )
        .orderBy("tile")
    )


_HISTOGRAM_EQUIDEPTH_SQL = """
WITH t AS (
  SELECT o_totalprice,
         CAST(NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS tile
  FROM orders
)
SELECT tile, COUNT(*) AS n_rows,
       MIN(o_totalprice) AS min_value,
       MAX(o_totalprice) AS max_value,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
FROM t GROUP BY tile ORDER BY tile
"""


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture resampling: per-source keep counts under
    sqrt-temperature weights at a 50% total draw (the GPT-3-style
    domain-mixing primitive; sqrt keeps the exponent IEEE-exact
    cross-engine)."""
    from ..operators.curation import temperature_mix

    d = read_table(spark, sf_dir, "documents")
    return temperature_mix(d, "doc_id", "source", target_fraction=0.5)


_TEMPERATURE_MIX_SQL = """
WITH stats AS (SELECT source AS src, COUNT(*) AS n FROM documents GROUP BY source),
tot AS (
  SELECT CAST(SUM(CAST(sqrt(CAST(n AS DOUBLE)) AS DECIMAL(38,18))) AS DOUBLE) AS sw,
         SUM(n) AS total
  FROM stats
),
rates AS (
  SELECT src, n,
         LEAST(CAST(1 AS DOUBLE),
               (sqrt(CAST(n AS DOUBLE)) / sw)
               * (CAST(total AS DOUBLE) * CAST(0.5 AS DOUBLE))
               / CAST(n AS DOUBLE)) AS rate
  FROM stats CROSS JOIN tot
),
kept AS (
  SELECT d.source AS src, COUNT(*) AS n_kept
  FROM documents d JOIN rates r ON d.source = r.src
  WHERE ((d.doc_id * 2654435761) % 4294967296 + 4294967296) % 4294967296
        < CAST(floor(rate * CAST(4294967296 AS DOUBLE)) AS BIGINT)
  GROUP BY 1
)
SELECT r.src AS source, r.n AS n_docs, COALESCE(k.n_kept, 0) AS n_kept
FROM rates r LEFT JOIN kept k USING (src)
ORDER BY source
"""


def q_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate phrase mining: word 5-grams recurring in ≥3 distinct
    docs (operators.curation.boilerplate_ngrams)."""
    from ..operators.curation import boilerplate_ngrams

    d = read_table(spark, sf_dir, "documents")
    return boilerplate_ngrams(d, n=5, min_docs=3).orderBy("phrase")


# DuckDB list slicing t[i:j] is 1-based INCLUSIVE of both ends, so the
# 5-gram at start i is t[i:i+4]; range(a, b) is exclusive of b like
# Spark sequence's guard arm.
_BOILERPLATE_SQL = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
grams AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(t) - 4, 0) + 1),
                                      i -> array_to_string(t[i:i+4], ' '))) AS g
  FROM toks
)
SELECT phrase, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM (SELECT doc_id, unnest(g) AS phrase FROM grams)
GROUP BY phrase HAVING COUNT(DISTINCT doc_id) >= 3
ORDER BY phrase
"""


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 5-gram novelty (operators.curation.ngram_novelty) —
    the inverse of the boilerplate signal; integer÷integer ratio so the
    oracle hash-matches without rounding."""
    from ..operators.curation import ngram_novelty

    d = read_table(spark, sf_dir, "documents")
    return ngram_novelty(d, n=5).orderBy("doc_id")


_NOVELTY_SQL = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
grams AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(t) - 4, 0) + 1),
                                      i -> array_to_string(t[i:i+4], ' '))) AS g
  FROM toks
),
x AS (SELECT doc_id, unnest(g) AS gram FROM grams),
cnt AS (SELECT gram, COUNT(*) AS d FROM x GROUP BY gram)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(COUNT(CASE WHEN d = 1 THEN 1 END) AS BIGINT) AS n_novel,
       CAST(COUNT(CASE WHEN d = 1 THEN 1 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS novelty
FROM x JOIN cnt USING (gram)
GROUP BY doc_id ORDER BY doc_id
"""


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights toward the src0/src1 target slice
    (operators.curation.dsir_weights; hashed-unigram log-likelihood
    ratios, 256 buckets)."""
    from ..operators.curation import dsir_weights

    d = read_table(spark, sf_dir, "documents")
    return dsir_weights(
        d, F.col("source").isin("src0", "src1"), n_buckets=256
    ).orderBy("doc_id")


_DSIR_SQL = """
WITH tok AS (
  SELECT doc_id, source IN ('src0', 'src1') AS is_t,
         (CAST(('0x' || substring(md5(w), 1, 8)) AS BIGINT) % 256) AS b
  FROM (SELECT doc_id, source, unnest(string_split(lower(text), ' ')) AS w
        FROM documents)
  WHERE w <> ''
),
hist AS (
  SELECT b, COUNT(*) AS q_cnt,
         COUNT(CASE WHEN is_t THEN 1 END) AS t_cnt
  FROM tok GROUP BY b
),
tot AS (SELECT SUM(q_cnt) AS q_tot, SUM(t_cnt) AS t_tot FROM hist),
llr AS (
  SELECT b,
         ln(CAST(t_cnt + 1 AS DOUBLE) / CAST(t_tot + 256 AS DOUBLE))
           - ln(CAST(q_cnt + 1 AS DOUBLE) / CAST(q_tot + 256 AS DOUBLE)) AS llr
  FROM hist CROSS JOIN tot
)
SELECT doc_id, ROUND(SUM(llr), 6) AS weight,
       CAST(COUNT(*) AS BIGINT) AS n_tokens
FROM tok JOIN llr USING (b)
GROUP BY doc_id ORDER BY doc_id
"""


def q_pipeline_end2end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE composite: the full curation funnel a training-data team runs
    — normalize → quality gate → exact dedup → MinHash near-dedup
    (greedy keep-smallest) → deterministic train/val/test split — as
    ONE query emitting the per-stage survivor counts (the data-audit
    artifact reviewed before a training run).  Every stage is an
    existing oracle-checked operator; the composed funnel is mirrored
    stage-for-stage in SQL, so the WHOLE pipeline is hash-checked, not
    just its parts.  Integer counts — no FP scaffolding needed.

    ONE full-text materialization: normalize + quality flags fuse into
    a single scan checkpointed as ``base`` (doc_id, text_norm,
    passes_quality); every later stage is a cheap derivation of it —
    the exact-dedup winners and the MinHash losers are checkpointed as
    bare ID SETS (broadcast-sized), never as another copy of the text.
    The r08 shape eagerly checkpointed the full text FOUR times
    (nonempty/quality/exact/kept), serializing the funnel behind three
    extra full-corpus materialization barriers — at 100 TB those are
    three extra petabyte-scale writes; at sf0.1 they were most of the
    query's 2.65→7.42 s drift.

    Negative result pinned (r15, ``git show
    de8968f:plans/r15/ab_pipeline_cuts.py``):
    turning the two TINY id-set cuts (winners/losers) into persists —
    the pagerank/triangles r15 persist finding — LOST 2.84 → 3.23 s
    (quiet interleaved min-of-4, outputs identical): these cuts feed
    semi/anti joins whose AQE planning wants the cut frame's exact
    stats, the same mechanism as the dedup candidate-pairs cut.  Both
    eager cuts stay."""
    from ..operators.curation import hash_bucket
    from ..operators.dedup import minhash_near_dup_pairs
    from ..operators.textops import normalize_text, quality_score

    d = read_table(spark, sf_dir, "documents")
    normed = normalize_text(d).select("doc_id", "text_norm")
    nonempty = normed.where(
        F.col("text_norm").isNotNull() & (F.col("text_norm") != "")
    )
    base = cut(quality_score(nonempty, text_col="text_norm", keep=("text_norm",)))
    quality = base.where("passes_quality").select("doc_id", "text_norm")
    # exact_dedup inlined on the flagged frame: min doc_id per md5 of
    # the normalized text — only 16-byte fingerprints + ids shuffle;
    # the winner-id set is checkpointed (tiny), not the text.
    winners = cut(
        quality.groupBy(F.md5("text_norm").alias("_fp"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    exact = quality.join(winners, "doc_id", "semi")
    pairs = minhash_near_dup_pairs(exact, text_col="text_norm", threshold=0.6)
    losers = cut(pairs.select(F.col("id_b").alias("doc_id")).distinct())
    kept = exact.join(losers, "doc_id", "anti")
    b = hash_bucket("doc_id")
    split = kept.select(
        F.when(b < 90, "05_train")
        .when(b < 95, "06_val")
        .otherwise("07_test")
        .alias("stage")
    )

    def cnt(df: DataFrame, stage: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_docs")).select(
            F.lit(stage).alias("stage"), "n_docs"
        )

    return (
        cnt(d, "00_raw")
        .unionByName(cnt(base, "01_nonempty_norm"))
        .unionByName(cnt(quality, "02_quality_pass"))
        .unionByName(cnt(exact, "03_exact_unique"))
        .unionByName(cnt(kept, "04_near_unique"))
        .unionByName(split.groupBy("stage").agg(F.count(F.lit(1)).alias("n_docs")))
        .orderBy("stage")
    )


_PIPELINE_SQL = r"""
WITH RECURSIVE normed AS (
  SELECT doc_id,
         lower(trim(regexp_replace(
           regexp_replace(text, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', ' ', 'g'),
           '[ \t\n\r]+', ' ', 'g'))) AS t
  FROM documents
),
nonempty AS (SELECT * FROM normed WHERE t IS NOT NULL AND t <> ''),
quality AS (
  SELECT doc_id, t FROM (
    SELECT doc_id, t,
           CAST(len(regexp_extract_all(t, '\S+')) AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all(lower(t), '\b(the|a|an|and|or|of|to|in|is|it)\b')) AS DOUBLE)
             / nullif(CAST(len(regexp_extract_all(t, '[A-Za-z]+')) AS DOUBLE), 0) AS swr,
           CAST(len(regexp_extract_all(t, '[^\w\s]')) AS DOUBLE)
             / nullif(CAST(length(t) AS DOUBLE), 0) AS pr
    FROM nonempty
  ) WHERE n_tokens >= 10 AND n_tokens <= 100000 AND swr >= 0.01 AND pr <= 0.2
),
exact AS (
  SELECT doc_id, t FROM quality
  WHERE doc_id IN (SELECT MIN(doc_id) FROM quality GROUP BY md5(t))
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(length(lower(t)) - 8, 1) + 1),
                                      i -> substr(lower(t), i, 9))) AS s
  FROM exact
),
prs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.6
),
kept AS (
  SELECT doc_id FROM exact
  WHERE doc_id NOT IN (SELECT id_b FROM prs)
),
split AS (
  SELECT CASE
           WHEN (((doc_id * 2654435761) % 4294967296 + 4294967296) % 4294967296) % 100 < 90 THEN '05_train'
           WHEN (((doc_id * 2654435761) % 4294967296 + 4294967296) % 4294967296) % 100 < 95 THEN '06_val'
           ELSE '07_test'
         END AS stage
  FROM kept
)
SELECT stage, n_docs FROM (
  SELECT '00_raw' AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
  UNION ALL SELECT '01_nonempty_norm', COUNT(*) FROM nonempty
  UNION ALL SELECT '02_quality_pass', COUNT(*) FROM quality
  UNION ALL SELECT '03_exact_unique', COUNT(*) FROM exact
  UNION ALL SELECT '04_near_unique', COUNT(*) FROM kept
  UNION ALL SELECT stage, COUNT(*) FROM split GROUP BY stage
) ORDER BY stage
"""


def q_kanonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity (k=5) over the metadata quasi-identifiers (lang,
    source, 500-char length bucket): rows in an equivalence class
    smaller than k get their quasi values suppressed to '*'
    (operators.curation.k_anonymize) — the pre-release privacy gate for
    metadata-bearing corpora.  Class sizes are a combiner aggregate
    broadcast back; pure integer/string output, hash-exact."""
    from ..operators.curation import k_anonymize

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        F.floor(F.col("n_chars") / F.lit(500)).alias("len_bucket"),
    )
    return k_anonymize(d, ["lang", "source", "len_bucket"], k=5).orderBy(
        "doc_id"
    )


_KANONYMITY_SQL = """
WITH base AS (
  SELECT doc_id, lang, source, CAST(FLOOR(n_chars / 500) AS BIGINT) AS len_bucket
  FROM documents
), sizes AS (
  SELECT lang, source, len_bucket, COUNT(*) AS class_size
  FROM base GROUP BY 1, 2, 3
)
SELECT b.doc_id,
       CASE WHEN s.class_size < 5 THEN '*' ELSE CAST(b.lang AS VARCHAR) END AS lang,
       CASE WHEN s.class_size < 5 THEN '*' ELSE CAST(b.source AS VARCHAR) END AS source,
       CASE WHEN s.class_size < 5 THEN '*' ELSE CAST(b.len_bucket AS VARCHAR) END AS len_bucket,
       s.class_size,
       s.class_size < 5 AS suppressed
FROM base b
JOIN sizes s
  ON b.lang IS NOT DISTINCT FROM s.lang
 AND b.source IS NOT DISTINCT FROM s.source
 AND b.len_bucket IS NOT DISTINCT FROM s.len_bucket
ORDER BY b.doc_id
"""


def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-granularity cross-document dedup: slide 128/16-overlap
    chunks over every doc (curation.chunk_documents), fingerprint each
    chunk (md5 of the normalized chunk), and report fingerprints
    appearing in ≥2 DISTINCT documents with their spread — the RAG-
    index hygiene pass exact DOC-level dedup misses (shared boilerplate
    sections inside otherwise-distinct docs).  Only (fingerprint,
    doc_id) scalars shuffle — chunk text never leaves the map side.
    Integer counts + hex strings, hash-exact."""
    from ..operators.curation import chunk_documents

    d = read_table(spark, sf_dir, "documents")
    chunks = chunk_documents(d, chunk_chars=128, overlap_chars=16)
    fp = chunks.select(
        "doc_id",
        F.md5(
            F.trim(F.regexp_replace(F.lower("chunk_text"), r"\s+", " "))
        ).alias("fp"),
    )
    return (
        fp.groupBy("fp")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_chunks"),
        )
        .where(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), F.desc("n_chunks"), "fp")
    )


_CHUNK_DEDUP_SQL = """
WITH t AS (
  SELECT doc_id, text, length(text) AS n FROM documents WHERE length(text) > 0
), s AS (
  SELECT doc_id, text,
         greatest(CAST(ceil((n - 128) / 112.0) AS BIGINT), 0) AS k
  FROM t
), chunks AS (
  SELECT doc_id,
         substring(text, CAST(i * 112 + 1 AS INTEGER), 128) AS chunk_text
  FROM s, unnest(range(0, k + 1)) AS u(i)
), fp AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(chunk_text), '\\s+', ' ', 'g'))) AS fp
  FROM chunks
)
SELECT fp,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_chunks
FROM fp GROUP BY fp
HAVING COUNT(DISTINCT doc_id) >= 2
ORDER BY n_docs DESC, n_chunks DESC, fp
"""


def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type winsorization of the event value (clip at p05/p95): the
    robustification pass feature pipelines run before training on
    heavy-tailed signals.  Two exact grouped percentiles (bit-equal
    across engines) broadcast back; the clip is a pure CASE — clipped
    values COPY the exact percentile double, so the output hash-matches
    with no rounding scaffolding.  Summarized per type (corpus-sized
    output would just echo the input): n_clipped_low/high + decimal-
    exact sum of the winsorized column."""
    from ..functions.numeric import dsum

    e = read_table(spark, sf_dir, "events").select("event_type", "value")
    cuts = e.groupBy("event_type").agg(
        F.percentile("value", 0.05).alias("lo"),
        F.percentile("value", 0.95).alias("hi"),
    )
    w = e.join(F.broadcast(cuts), "event_type").select(
        "event_type",
        "lo",
        "hi",
        F.when(F.col("value") < F.col("lo"), F.col("lo"))
        .when(F.col("value") > F.col("hi"), F.col("hi"))
        .otherwise(F.col("value"))
        .alias("wv"),
        (F.col("value") < F.col("lo")).cast("int").alias("_l"),
        (F.col("value") > F.col("hi")).cast("int").alias("_h"),
    )
    return (
        w.groupBy("event_type")
        .agg(
            F.round(F.min("lo"), 9).alias("p05"),
            F.round(F.min("hi"), 9).alias("p95"),
            F.sum("_l").alias("n_clipped_low"),
            F.sum("_h").alias("n_clipped_high"),
            F.round(dsum(F.round(F.col("wv"), 6)), 4).alias("winsorized_sum"),
        )
        .orderBy("event_type")
    )


_WINSORIZE_SQL = """
WITH e AS (SELECT event_type, value FROM events),
cuts AS (
  SELECT event_type, quantile_cont(value, 0.05) AS lo, quantile_cont(value, 0.95) AS hi
  FROM e GROUP BY 1
),
w AS (
  SELECT e.event_type, lo, hi,
         CASE WHEN value < lo THEN lo WHEN value > hi THEN hi ELSE value END AS wv,
         CASE WHEN value < lo THEN 1 ELSE 0 END AS l,
         CASE WHEN value > hi THEN 1 ELSE 0 END AS h
  FROM e JOIN cuts USING (event_type)
)
SELECT event_type,
       ROUND(MIN(lo), 9) AS p05, ROUND(MIN(hi), 9) AS p95,
       CAST(SUM(l) AS BIGINT) AS n_clipped_low,
       CAST(SUM(h) AS BIGINT) AS n_clipped_high,
       ROUND(CAST(SUM(CAST(ROUND(wv, 6) AS DECIMAL(38,6))) AS DOUBLE), 4) AS winsorized_sum
FROM w GROUP BY event_type ORDER BY event_type
"""


def q_forget_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten impact sweep: given a deletion-request set
    (here the deterministic 2% hash slice standing in for the requests
    table — in production this is a broadcast anti-join against it),
    report per event_type how many rows would be purged, how many
    remain, and how many distinct requesting users are affected.  Pure
    per-row predicate + one combiner aggregate: the compliance
    dashboard costs one scan at any scale."""
    from ..operators.curation import hash_bucket

    e = read_table(spark, sf_dir, "events")
    forget = hash_bucket("user_id") < 2
    return (
        e.groupBy("event_type")
        .agg(
            F.sum(F.when(forget, 1).otherwise(0)).alias("rows_to_delete"),
            F.sum(F.when(forget, 0).otherwise(1)).alias("rows_retained"),
            F.countDistinct(F.when(forget, F.col("user_id"))).alias(
                "users_affected"
            ),
        )
        .orderBy("event_type")
    )


_FORGET_BUCKET = "((((user_id * 2654435761) % 4294967296 + 4294967296) % 4294967296) % 100)"
_FORGET_SQL = f"""
SELECT event_type,
       CAST(SUM(CASE WHEN {_FORGET_BUCKET} < 2 THEN 1 ELSE 0 END) AS BIGINT) AS rows_to_delete,
       CAST(SUM(CASE WHEN {_FORGET_BUCKET} < 2 THEN 0 ELSE 1 END) AS BIGINT) AS rows_retained,
       COUNT(DISTINCT CASE WHEN {_FORGET_BUCKET} < 2 THEN user_id END) AS users_affected
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain contribution cap (operators.curation.domain_cap):
    keep each source's best ≤10 documents by the exact-integer length
    key (deterministic doc_id tie-break) — the crawl-pipeline guard
    against a single domain dominating the corpus.  One window pass
    partitioned by domain; no self-join, no global sort."""
    from ..operators.curation import domain_cap

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return domain_cap(d, cap=10).orderBy("source", "domain_rank")


_DOMAIN_CAP_SQL = """
WITH r AS (
  SELECT doc_id, source, n_chars,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY source ORDER BY n_chars DESC, doc_id
         ) AS INTEGER) AS domain_rank
  FROM documents
)
SELECT doc_id, source, n_chars, domain_rank
FROM r WHERE domain_rank <= 10 ORDER BY source, domain_rank
"""


def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch-2 training shuffle
    (operators.curation.epoch_shuffle): reproducible pseudorandom
    permutation key per row, shard assignment, in-shard position —
    global shuffle semantics with only a hash-partition exchange (the
    in-shard sort is per-partition, never a global sort).  All-integer
    plan, mirrored exactly."""
    from ..operators.curation import epoch_shuffle

    d = read_table(spark, sf_dir, "documents")
    return epoch_shuffle(d, n_shards=8, epoch=2).orderBy("shard", "position")


_EPOCH_SHUFFLE_SQL = """
WITH k AS (
  SELECT doc_id,
         (((doc_id + 2000006) * 2654435761) % 4294967296 + 4294967296)
           % 4294967296 AS key
  FROM documents
)
SELECT doc_id,
       key % 8 AS shard,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY key % 8 ORDER BY key, doc_id
       ) AS INTEGER) AS position
FROM k ORDER BY shard, position
"""


def q_curation_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read over crawl snapshots: three generations of
    the documents table written as parquet with ADDITIVE drift (gen0:
    doc_id/text; gen1: +lang; gen2: +quality bigint) and read back as
    ONE frame via mergeSchema (sources.readers.read_parquet_evolved) —
    older generations surface the late-added columns as NULL, pruning
    and pushdown still reach each file with its own physical schema.
    The aggregate profiles the merged corpus per lang bucket (pre-lang
    rows coalesce into their own bucket): doc counts, quality coverage,
    exact-integer quality/char totals.  The oracle recomputes the whole
    thing from the documents table with the same doc_id % 3 generation
    split, so a mis-merge (lost rows, wrong NULL fill, type slip)
    breaks the value hash."""
    import os
    import shutil
    import tempfile

    d = read_table(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="evolve_")
    try:
        gens = [
            d.where(F.col("doc_id") % 3 == 0).select("doc_id", "text"),
            d.where(F.col("doc_id") % 3 == 1).select("doc_id", "text", "lang"),
            d.where(F.col("doc_id") % 3 == 2).select(
                "doc_id", "text", "lang", F.col("n_chars").alias("quality")
            ),
        ]
        for i, g in enumerate(gens):
            g.write.parquet(os.path.join(tmp, f"gen{i}"))
        merged = read_parquet_evolved(spark, tmp)
        out = (
            merged.groupBy(
                F.coalesce("lang", F.lit("<pre-lang>")).alias("lang_bucket")
            )
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.count("quality").alias("n_quality"),
                F.coalesce(F.sum("quality"), F.lit(0)).alias("quality_total"),
                F.sum(F.length("text")).alias("chars_total"),
            )
            .orderBy("lang_bucket")
        )
        # materialize before the snapshot dir is removed — the result is
        # |langs|+1 rows, metadata-sized by construction; a local cut
        # stays in the JVM and session.release_pins frees it
        return cut(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_CURATION_SCHEMA_EVOLUTION_SQL = """
-- COALESCE mirrors the Spark side's coalesce(lang, '<pre-lang>'): a NULL
-- lang in gen1/gen2 must fold into the same bucket on both engines (a
-- bare ELSE lang would give it its own NULL bucket here, and DuckDB
-- additionally orders NULL last — row-count and hash would both break).
SELECT CASE WHEN doc_id % 3 = 0 THEN '<pre-lang>'
            ELSE COALESCE(lang, '<pre-lang>') END AS lang_bucket,
       COUNT(*) AS n_docs,
       COUNT(CASE WHEN doc_id % 3 = 2 THEN 1 END) AS n_quality,
       COALESCE(CAST(SUM(CASE WHEN doc_id % 3 = 2 THEN n_chars END) AS BIGINT), 0)
         AS quality_total,
       CAST(SUM(length(text)) AS BIGINT) AS chars_total
FROM documents
GROUP BY 1 ORDER BY lang_bucket
"""


def q_curation_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-decontamination sweep (operators.dedup.
    decontaminate_pairs): docs with pmod(doc_id, 20) = 0 stand in for a
    held-out eval suite, the rest are the training corpus; report every
    (benchmark doc, train doc) pair whose directed word-4-gram
    containment C(bench→train) clears 0.5, with the overlap fraction —
    the train docs a real pipeline would drop before training.  Only
    bench×train posting pairs are generated (train-side df-cut at 500
    mirrored in the oracle); the train corpus never self-joins."""
    from ..operators.dedup import decontaminate_pairs

    d = read_table(spark, sf_dir, "documents")
    is_bench = F.pmod(F.col("doc_id"), F.lit(20)) == 0
    return decontaminate_pairs(
        d.where(~is_bench),
        d.where(is_bench),
        n=4,
        threshold=0.5,
        max_postings=500,
    ).orderBy("bench_id", "train_id")


# Mirrors decontaminate_pairs exactly: same gram expression as
# _DEDUP_CONTAIN_SQL (per-doc-distinct lowered word-4-grams), the
# bench/train split on portable nonneg mod 20, and the TRAIN-side-only
# df-cut (<= 500, no lower bound — presence on both sides already
# implies the gram matches).
_CURATION_DECONTAMINATE_SQL = """
WITH grams AS (
  SELECT doc_id, ((doc_id % 20 + 20) % 20) = 0 AS is_bench,
         unnest(list_distinct(
    list_transform(range(1, greatest(len(string_split_regex(lower(text), '\\s+')) - 3, 1) + 1),
                   i -> array_to_string(string_split_regex(lower(text), '\\s+')[i:i+3], ' '))
  )) AS gram
  FROM documents
),
b AS (SELECT doc_id AS bench_id, gram FROM grams WHERE is_bench),
t AS (SELECT doc_id AS train_id, gram FROM grams WHERE NOT is_bench),
keep AS (SELECT gram FROM t GROUP BY gram HAVING COUNT(*) <= 500),
sizes AS (SELECT bench_id, COUNT(*) AS n_b FROM b GROUP BY bench_id),
inter AS (
  SELECT bench_id, train_id, COUNT(*) AS n_inter
  FROM b JOIN keep USING (gram) JOIN t USING (gram)
  GROUP BY 1, 2
)
SELECT bench_id, train_id,
       CAST(n_inter AS DOUBLE) / CAST(n_b AS DOUBLE) AS overlap
FROM inter JOIN sizes USING (bench_id)
WHERE CAST(n_inter AS DOUBLE) / CAST(n_b AS DOUBLE) >= 0.5
ORDER BY bench_id, train_id
"""


def q_curation_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL/host canonicalization + host-level rollup — the key crawl
    pipelines dedup, cap and robots-gate on.  The corpus carries no
    URLs, so each doc synthesizes a deterministic MESSY one closed-form
    from (doc_id, source) — upper-case scheme/host, www., default and
    non-default ports, tracking params, unsorted query keys, fragments
    (operators.curation.synth_url_col, the synth_bmp/wav pattern) —
    then operators.curation.normalize_urls canonicalizes with pure
    codegen'd string expressions and the rollup profiles each host:
    doc count, distinct normalized URLs, and the min/max normalized
    URL (full-string hash coverage of every rule).  The oracle
    regenerates and renormalizes independently in SQL."""
    from ..operators.curation import normalize_urls, synth_url_col

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", synth_url_col("doc_id", "source").alias("url")
    )
    n = normalize_urls(d, "url")
    return (
        n.groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("url_norm").alias("n_urls"),
            F.min("url_norm").alias("first_url"),
            F.max("url_norm").alias("last_url"),
        )
        .orderBy("host")
    )


# Mirrors synth_url_col + normalize_urls rule for rule with DuckDB
# string ops only (no engine URL functions): same portable nonneg mods,
# same regexes, same tracking-param filter + byte-sort of query params.
_P = "((doc_id % {m} + {m}) % {m})"
_CURATION_URL_SQL = f"""
WITH gen AS (
  SELECT doc_id,
         (CASE WHEN {_P.format(m=2)} = 0 THEN 'HTTP' ELSE 'https' END)
         || '://'
         || (CASE WHEN {_P.format(m=3)} = 0 THEN 'WWW.' || upper(source) || '.Example.COM'
                  WHEN {_P.format(m=3)} = 1 THEN source || '.example.com'
                  ELSE 'www.' || source || '.EXAMPLE.com' END)
         || (CASE WHEN {_P.format(m=5)} = 0 THEN ':80'
                  WHEN {_P.format(m=5)} = 1 THEN ':443'
                  WHEN {_P.format(m=5)} = 2 THEN ':8080' ELSE '' END)
         || '/docs/' || CAST({_P.format(m=50)} AS VARCHAR)
         || (CASE WHEN {_P.format(m=4)} = 0
                  THEN '?utm_source=feed&id=' || CAST({_P.format(m=7)} AS VARCHAR) || '&utm_campaign=x'
                  WHEN {_P.format(m=4)} = 1
                  THEN '?ref=home&id=' || CAST({_P.format(m=7)} AS VARCHAR)
                  WHEN {_P.format(m=4)} = 2 THEN '?utm_medium=em'
                  ELSE '' END)
         || (CASE WHEN {_P.format(m=6)} = 0 THEN '#top' ELSE '' END) AS url
  FROM documents
),
parts AS (
  SELECT doc_id, url,
         lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS hostport,
         regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
         regexp_extract(url, '\\?([^#]*)', 1) AS qs
  FROM gen
),
norm AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(lower(hostport), ':[0-9]+$', ''), '^www\\.', '') AS host,
         scheme, path,
         regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
         list_sort(list_filter(string_split(qs, '&'),
                   x -> x <> '' AND NOT regexp_matches(x, '^(utm_[a-z]+|fbclid|gclid)='))) AS params
  FROM parts
),
built AS (
  SELECT doc_id, host,
         scheme || '://' || host
         || (CASE WHEN port <> '' AND NOT (scheme = 'http' AND port = '80')
                       AND NOT (scheme = 'https' AND port = '443')
                  THEN ':' || port ELSE '' END)
         || path
         || (CASE WHEN len(params) > 0 THEN '?' || array_to_string(params, '&')
                  ELSE '' END) AS url_norm
  FROM norm
)
SELECT host,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT url_norm) AS n_urls,
       MIN(url_norm) AS first_url,
       MAX(url_norm) AS last_url
FROM built
GROUP BY host
ORDER BY host
"""


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout audit over events(user_id, value): per-file grid
    min/max spans for the naive single-column sort layout vs
    equal-count Morton-order files (sources.layout.grid_layout_audit).
    The 100 TB argument made measurable: ``span_cells`` (grid cells a
    filter on ALL clustered columns must consider per file) stays
    bounded under zorder while ``linear`` leaves the value dimension
    at full width.  Exact equi-depth buckets AND equal-count file
    tiles both come from the distributed exact NTILE — a pure integer
    path (no cross-engine FP exposure), no sampled boundaries, no
    SinglePartition window, hash-exact end-to-end.  The
    reference has no layout control at all (its blobs are arrival-
    ordered, Sample.cs:41-60); the production write path
    (write_zordered, quantile-bucketed) is pytest-covered in
    tests/test_layout.py."""
    from ..sources.layout import grid_layout_audit

    e = read_table(spark, sf_dir, "events")
    return grid_layout_audit(e, ["user_id", "value"], "event_id", bits=6, n_files=64)


_ZORDER_LAYOUT_SQL = """
WITH b AS (
  -- exact equi-depth bins: the integer twin of grid_layout_audit's
  -- distributed NTILE(64) bucketing (NULLS FIRST matches Spark's
  -- asc_nulls_first window order)
  SELECT event_id,
         CAST(NTILE(64) OVER (ORDER BY user_id NULLS FIRST, event_id) AS INTEGER) - 1 AS b0,
         CAST(NTILE(64) OVER (ORDER BY value   NULLS FIRST, event_id) AS INTEGER) - 1 AS b1
  FROM events
), z AS (
  SELECT event_id, b0, b1,
         ((b0 >> 5) & 1) * 2048 + ((b1 >> 5) & 1) * 1024
       + ((b0 >> 4) & 1) * 512  + ((b1 >> 4) & 1) * 256
       + ((b0 >> 3) & 1) * 128  + ((b1 >> 3) & 1) * 64
       + ((b0 >> 2) & 1) * 32   + ((b1 >> 2) & 1) * 16
       + ((b0 >> 1) & 1) * 8    + ((b1 >> 1) & 1) * 4
       + (b0 & 1) * 2           + (b1 & 1)            AS zc
  FROM b
), stacked AS (
  SELECT 'linear' AS layout,
         CAST(NTILE(64) OVER (ORDER BY b0, event_id) AS INTEGER) AS file_id, b0, b1 FROM z
  UNION ALL
  SELECT 'zorder' AS layout,
         CAST(NTILE(64) OVER (ORDER BY zc, event_id) AS INTEGER) AS file_id, b0, b1 FROM z
)
SELECT layout, file_id,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(b0) AS BIGINT) AS min_b0, CAST(MAX(b0) AS BIGINT) AS max_b0,
       CAST(MIN(b1) AS BIGINT) AS min_b1, CAST(MAX(b1) AS BIGINT) AS max_b1,
       CAST(MAX(b0) - MIN(b0) + 1 AS BIGINT) * (MAX(b1) - MIN(b1) + 1) AS span_cells,
       CAST(CASE WHEN MIN(b0) <= 23 AND MAX(b0) >= 16 THEN 1 ELSE 0 END AS INTEGER) AS touch_b0,
       CAST(CASE WHEN MIN(b1) <= 23 AND MAX(b1) >= 16 THEN 1 ELSE 0 END AS INTEGER) AS touch_b1
FROM stacked
GROUP BY layout, file_id
ORDER BY layout, file_id
"""


def q_mix_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stride-scheduler source mixing: the exact
    interleave order a training pipeline uses to mix corpora at fixed
    ratios.  Each source emits its k-th example at virtual time
    (2k+1)/(2*share) — the classic stride schedule, whose guarantee
    (pytest-locked in tests/test_curation_graph.py) is that after any
    prefix of steps every source's emission count is within 1 of
    step*share: no burst, no starvation, reproducible from row one.
    Shares come from the per-language doc counts (one combiner agg
    — genuinely non-uniform: en holds ~44% of the corpus, each other
    language ~13-15%, so the schedule interleaves ~3 en emissions
    between any two emissions of a smaller language);
    times are a single double division with identical operands on both
    engines, tie-broken (t, source) into a total order.  The global
    order is a TakeOrderedAndProject of the first 500 steps — the
    row_number window runs on that bounded result, never on the
    corpus."""
    from ..operators.curation import stride_schedule

    d = read_table(spark, sf_dir, "documents")
    cnt = d.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt"))
    return stride_schedule(cnt, n_steps=500, key_col="lang")


_MIX_SCHEDULE_SQL = """
WITH cnt AS (
  SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang
), seq AS (
  SELECT lang, cnt, i AS k FROM cnt, unnest(range(0, 500)) AS u(i)
), timed AS (
  SELECT lang, CAST(k AS BIGINT) AS k,
         (2 * k + 1) / (2 * cnt) AS t
  FROM seq
), first AS (
  SELECT * FROM timed ORDER BY t, lang LIMIT 500
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY t, lang) AS BIGINT) AS step,
       lang, k
FROM first
ORDER BY step
"""


QUERIES = {
    "curation_mix_schedule": q_mix_schedule,
    "curation_zorder_layout": q_zorder_layout,
    "curation_schema_evolution": q_curation_schema_evolution,
    "curation_decontaminate": q_curation_decontaminate,
    "curation_url_normalize": q_curation_url_normalize,
    "curation_forget_users": q_forget_users,
    "curation_domain_cap": q_domain_cap,
    "curation_epoch_shuffle": q_epoch_shuffle,
    "curation_kanonymity": q_kanonymity,
    "curation_chunk_dedup": q_chunk_dedup,
    "curation_winsorize": q_winsorize,
    "curation_pipeline_end2end": q_pipeline_end2end,
    "curation_boilerplate_ngrams": q_boilerplate,
    "curation_ngram_novelty": q_ngram_novelty,
    "curation_dsir_weights": q_dsir_weights,
    "curation_temperature_mix": q_temperature_mix,
    "curation_quality_audit": q_quality_audit,
    "curation_histogram_equidepth": q_histogram_equidepth,
    "curation_histogram": q_histogram,
    "curation_sample_clustered": q_sample_clustered,
    "curation_sample_weighted": q_sample_weighted,
    "curation_profile_stats": q_profile_stats,
    "curation_sample_hash": q_sample_hash,
    "curation_sample_stratified": q_sample_stratified,
    "curation_split_counts": q_split_counts,
    "curation_split_groupaware": q_split_groupaware,
    "curation_chunk_overlap": q_chunk_overlap,
    "curation_chunk_tokens": q_chunk_tokens,
    "curation_pack_sequences": q_pack,
    "curation_pack_efficiency": q_pack_efficiency,
    "curation_pack_bestfit": q_pack_bestfit,
    "curation_pack_split_bestfit": q_pack_split_bestfit,
    "curation_pack_policy_audit": q_pack_policy_audit,
    "curation_vocab_topk": q_vocab,
    "curation_doc_topterms": q_doc_topterms,
    "curation_redact_pii": q_redact_pii,
}
ORACLES = {
    "curation_mix_schedule": _MIX_SCHEDULE_SQL,
    "curation_zorder_layout": _ZORDER_LAYOUT_SQL,
    "curation_schema_evolution": _CURATION_SCHEMA_EVOLUTION_SQL,
    "curation_decontaminate": _CURATION_DECONTAMINATE_SQL,
    "curation_url_normalize": _CURATION_URL_SQL,
    "curation_forget_users": _FORGET_SQL,
    "curation_domain_cap": _DOMAIN_CAP_SQL,
    "curation_epoch_shuffle": _EPOCH_SHUFFLE_SQL,
    "curation_kanonymity": _KANONYMITY_SQL,
    "curation_chunk_dedup": _CHUNK_DEDUP_SQL,
    "curation_winsorize": _WINSORIZE_SQL,
    "curation_pipeline_end2end": _PIPELINE_SQL,
    "curation_boilerplate_ngrams": _BOILERPLATE_SQL,
    "curation_ngram_novelty": _NOVELTY_SQL,
    "curation_dsir_weights": _DSIR_SQL,
    "curation_temperature_mix": _TEMPERATURE_MIX_SQL,
    "curation_quality_audit": _QUALITY_AUDIT_SQL,
    "curation_histogram_equidepth": _HISTOGRAM_EQUIDEPTH_SQL,
    "curation_histogram": _HISTOGRAM_SQL,
    "curation_sample_clustered": _sample_clustered_sql(),
    "curation_sample_weighted": _SAMPLE_WEIGHTED_SQL,
    "curation_profile_stats": _PROFILE_SQL,
    "curation_sample_hash": _SAMPLE_SQL,
    "curation_sample_stratified": _STRATIFIED_SQL,
    "curation_split_counts": _SPLIT_SQL,
    "curation_split_groupaware": _SPLIT_GROUPAWARE_SQL,
    "curation_chunk_overlap": _CHUNK_SQL,
    "curation_chunk_tokens": _CHUNK_TOKENS_SQL,
    "curation_pack_sequences": _PACK_SQL,
    "curation_pack_efficiency": _PACK_EFFICIENCY_SQL,
    "curation_pack_bestfit": _PACK_BESTFIT_SQL,
    "curation_pack_split_bestfit": _PACK_SPLIT_BESTFIT_SQL,
    "curation_pack_policy_audit": _PACK_POLICY_AUDIT_SQL,
    "curation_vocab_topk": _VOCAB_SQL,
    "curation_doc_topterms": _DOC_TOPTERMS_SQL,
    "curation_redact_pii": _REDACT_SQL,
}
