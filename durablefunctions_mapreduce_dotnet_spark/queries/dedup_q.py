"""Dedup queries over the ``documents`` table (north-star scope).

Oracle strategy: exact/minhash/ngram/embedding dedup are SQL-expressible
(brute-force or mirrored-cut formulations in DuckDB); SimHash depends on
xxhash64 which DuckDB lacks → rows-only (driver records the weaker
check; pytest property-tests cover it instead).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    containment_pairs,
    embedding_near_dup_pairs,
    exact_dedup,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash_candidates,
)
from ..session import cut
from ..sources.readers import read_table


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup demonstrated on documents ∪ (documents with shifted
    ids) — every text then has exactly one duplicate, and dedup must keep
    the original (smaller) id."""
    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = d.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    return exact_dedup(d.union(dups)).orderBy("doc_id")


_DEDUP_EXACT_SQL = """
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM documents
)
SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
FROM all_docs GROUP BY md5(text) ORDER BY doc_id
"""


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidates + exact-Jaccard verify at τ=0.6.  The
    oracle recomputes all-pairs Jaccard brute-force; parity also proves
    LSH recall = 1.0 on this corpus at this threshold."""
    d = read_table(spark, sf_dir, "documents")
    return minhash_near_dup_pairs(d, threshold=0.6)


_DEDUP_MINHASH_SQL = """
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(length(lower(text)) - 8, 1) + 1),
                                      i -> substr(lower(text), i, 9))) AS s
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.6
"""


def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard ≥ 0.5 via inverted index with df-cut at 500
    (mirrored exactly in the oracle)."""
    d = read_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, n=3, threshold=0.5, max_postings=500)


_DEDUP_NGRAM_SQL = """
WITH grams AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(range(1, greatest(len(string_split_regex(lower(text), '\\s+')) - 2, 1) + 1),
                   i -> array_to_string(string_split_regex(lower(text), '\\s+')[i:i+2], ' '))
  )) AS gram
  FROM documents
),
sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id),
hot AS (SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) BETWEEN 2 AND 500),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM grams a JOIN hot USING (gram) JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       CAST(n_inter AS DOUBLE) / CAST(sa.n_grams + sb.n_grams - n_inter AS DOUBLE) AS jaccard
FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_grams + sb.n_grams - n_inter AS DOUBLE) >= 0.5
"""


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: spherical k-means (k=8, 2 Lloyd rounds — the
    hash-checked kmeans_clusters pipeline) then cosine-≥0.45 pairs
    within each cluster (operators.dedup.semantic_dedup_pairs).  The
    oracle reuses the unrolled k-means CTE and brute-forces
    within-cluster pairs — ids-only output keeps it hash-exact."""
    from ..operators.dedup import semantic_dedup_pairs

    e = read_table(spark, sf_dir, "embeddings")
    return semantic_dedup_pairs(
        e, k=8, iters=2, threshold=0.45
    ).orderBy("id_a", "id_b")


def _semantic_oracle_sql() -> str:
    from .similarity_q import _kmeans_oracle_sql

    return f"""
WITH km AS ({_kmeans_oracle_sql(k=8, iters=2)}),
e2 AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
  FROM embeddings
),
en2 AS (
  SELECT vec_id,
         list_transform(v, x -> x / (CASE WHEN nrm = 0 THEN 1 ELSE nrm END)) AS vn
  FROM e2
),
a AS (
  SELECT km.vec_id, km.cluster, en2.vn
  FROM km JOIN en2 USING (vec_id)
)
SELECT x.vec_id AS id_a, y.vec_id AS id_b, x.cluster
FROM a x JOIN a y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
WHERE list_sum(list_transform(range(1, 65), i -> x.vn[i] * y.vn[i])) >= 0.45
ORDER BY id_a, id_b
"""


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed word-4-gram containment ≥ 0.5 (Broder containment
    coefficient) — the sub-document duplication screen; df-cut at 500
    mirrored exactly in the oracle."""
    d = read_table(spark, sf_dir, "documents")
    return containment_pairs(
        d, n=4, threshold=0.5, max_postings=500
    ).orderBy("id_a", "id_b")


_DEDUP_CONTAIN_SQL = """
WITH grams AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(range(1, greatest(len(string_split_regex(lower(text), '\\s+')) - 3, 1) + 1),
                   i -> array_to_string(string_split_regex(lower(text), '\\s+')[i:i+3], ' '))
  )) AS gram
  FROM documents
),
sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id),
hot AS (SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) BETWEEN 2 AND 500),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM grams a JOIN hot USING (gram)
  JOIN grams b ON a.gram = b.gram AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       CAST(n_inter AS DOUBLE) / CAST(sa.n_grams AS DOUBLE) AS containment
FROM inter JOIN sizes sa ON sa.doc_id = id_a
WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_grams AS DOUBLE) >= 0.5
ORDER BY id_a, id_b
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash hamming-≤8 pairs with EXACT recall (9 disjoint chunks by
    pigeonhole; rows-only: DuckDB lacks xxhash64 — properties are
    pytest-verified instead)."""
    d = read_table(spark, sf_dir, "documents")
    return simhash_candidates(d, max_hamming=8)


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs at τ=0.45 — ids only, so FP enters
    results solely via the threshold comparison."""
    e = read_table(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(e, threshold=0.45)


_DEDUP_EMBEDDING_SQL = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))
        / (a.nrm * b.nrm) >= 0.45
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER assignment + canonical keep-list: MinHash pairs
    → connected components (iterative min-label propagation) → every doc
    labeled with its cluster and a keep flag.  The oracle recomputes the
    transitive closure with a recursive CTE over brute-force Jaccard
    pairs, so parity proves pair recall AND the component labels."""
    from ..operators.graph import canonicalize_clusters

    d = read_table(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(d, threshold=0.6).select("id_a", "id_b")
    # verified pairs are distinct with id_a < id_b by construction
    # (candidates deduped, verify is a join+filter) — skip CC's
    # edge-distinct shuffle
    return canonicalize_clusters(
        d, pairs, pairs_distinct_ordered=True
    ).orderBy("doc_id")


# The exact-pair oracles below MATERIALIZE ``pairs``: inlined, DuckDB
# re-runs the quadratic all-pairs Jaccard join once per reference (both
# legs of ``edges``); _DEDUP_CLUSTERS_SQL at sf0.001 on a 4-core host
# took 247 s inlined and 68 s materialized.  The hint changes execution
# only; the rows are identical.
_DEDUP_CLUSTERS_SQL = """
WITH RECURSIVE sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(length(lower(text)) - 8, 1) + 1),
                                      i -> substr(lower(text), i, 9))) AS s
  FROM documents
), pairs AS MATERIALIZED (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.6
), edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION SELECT id_b, id_a FROM pairs
), reach AS (
  SELECT u AS n, u AS m FROM edges
  UNION
  SELECT e.u, r.m FROM edges e JOIN reach r ON e.v = r.n
), comp AS (
  SELECT n AS doc_id, MIN(m) AS cluster_id FROM reach GROUP BY n
)
SELECT d.doc_id,
       COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
       d.doc_id = COALESCE(c.cluster_id, d.doc_id) AS keep
FROM documents d LEFT JOIN comp c USING (doc_id)
ORDER BY d.doc_id
"""


def q_dedup_clusters_pj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_clusters through the POINTER-JUMPING + fully-distributed
    code path: ``pointer_jumping=True`` adds the label-chasing join
    (O(log diameter) convergence for adversarial chain graphs) and
    ``small_graph_threshold=0`` disables the driver union-find cutover,
    so the propagation loop itself — the path a 100 TB pair table takes
    — earns a driver value-hash row instead of resting on pytest
    bit-equality alone.  Identical fixpoint by construction: shares
    dedup_clusters' full-closure oracle."""
    from ..operators.graph import canonicalize_clusters

    d = read_table(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(d, threshold=0.6).select("id_a", "id_b")
    return canonicalize_clusters(
        d,
        pairs,
        pairs_distinct_ordered=True,
        small_graph_threshold=0,
        pointer_jumping=True,
    ).orderBy("doc_id")


def q_dedup_clusters_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTALLY-MAINTAINED near-dup clusters (operators.graph.
    incremental_components): even doc_ids are the stored corpus with
    its prior CC labeling; odd doc_ids arrive as a new batch whose
    touching pairs come from the asymmetric incremental MinHash pass
    (new×history ∪ new×new — history×history is never re-scanned).
    Contraction maps pair endpoints to prior component ids, CC runs
    over that batch-sized edge set only, and one broadcast join
    relabels the prior table.  The oracle IS the full recompute (the
    same recursive-closure SQL as dedup_clusters), so the driver row
    states the IVM theorem for graphs: incremental ≡ from-scratch,
    label for label.

    Bench note: this query's wall time EXCEEDS dedup_clusters because
    the driver contract demands self-containment — the prior labeling
    is rebuilt from scratch (history MinHash + history CC) inside the
    query.  In production the prior is a stored table; the incremental
    step proper is the incremental-MinHash pass + a batch-sized CC +
    one broadcast relabel, and never re-reads history pairs — that
    asymmetry, not this harness timing, is the 100 TB claim."""
    from ..operators.dedup import (
        minhash_near_dup_incremental,
        shingle_minhash_table_fast,
    )
    from ..operators.graph import canonicalize_clusters, incremental_components

    d = read_table(spark, sf_dir, "documents")
    hist = d.where(F.col("doc_id") % 2 == 0)
    new = d.where(F.col("doc_id") % 2 == 1)
    # r14: the history corpus is SIGNED ONCE — the checkpointed fused
    # (id, hs, sig, buckets) table is the stored artifact a production
    # deployment keeps between batches, and all four consumers (the
    # prior rebuild's banding + verify hashes, the incremental pass's
    # history banding + hashes) read the materialized table instead of
    # re-running the corpus-sized Arrow kernel (eager: the consumer
    # stages race within one job, so a lazy pin would double-compute).
    hist_tbl = cut(
        shingle_minhash_table_fast(hist, "text", "doc_id", 9, 63, bands=21)
    )
    hist_pairs = minhash_near_dup_pairs(hist, threshold=0.6, table=hist_tbl).select(
        "id_a", "id_b"
    )
    prior = canonicalize_clusters(
        hist, hist_pairs, pairs_distinct_ordered=True
    ).select("doc_id", "cluster_id")
    new_pairs = minhash_near_dup_incremental(
        new, hist, threshold=0.6, history_table=hist_tbl
    ).select("id_a", "id_b")
    updated = incremental_components(
        prior, new_pairs, node="doc_id", comp="cluster_id"
    )
    return (
        d.select("doc_id")
        .join(updated, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
        )
        .withColumn("keep", F.col("doc_id") == F.col("cluster_id"))
        .orderBy("doc_id")
    )


def q_dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster SIZE distribution — the audit a curation run
    reads before committing a dedup policy (how much mass sits in
    2-dup pairs vs 50-doc boilerplate families): the dedup_clusters
    assignment rolled up twice (cluster → size, size → cluster count /
    doc mass / docs droppable under keep-one).  Integer counts over the
    same CC labels, so parity extends the recursive-CTE closure proof
    to the distribution view."""
    from ..operators.graph import canonicalize_clusters

    d = read_table(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(d, threshold=0.6).select("id_a", "id_b")
    clusters = canonicalize_clusters(d, pairs, pairs_distinct_ordered=True)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("size")
    )
    return (
        sizes.groupBy("size")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            (F.count(F.lit(1)) * F.col("size")).alias("n_docs"),
            (F.count(F.lit(1)) * (F.col("size") - F.lit(1))).alias(
                "n_droppable"
            ),
        )
        .orderBy("size")
    )


_DEDUP_CLUSTER_SIZES_SQL = """
WITH RECURSIVE sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(length(lower(text)) - 8, 1) + 1),
                                      i -> substr(lower(text), i, 9))) AS s
  FROM documents
), pairs AS MATERIALIZED (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.6
), edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION SELECT id_b, id_a FROM pairs
), reach AS (
  SELECT u AS n, u AS m FROM edges
  UNION
  SELECT e.u, r.m FROM edges e JOIN reach r ON e.v = r.n
), comp AS (
  SELECT n AS doc_id, MIN(m) AS cluster_id FROM reach GROUP BY n
), assigned AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c USING (doc_id)
), sizes AS (
  SELECT cluster_id, COUNT(*) AS size FROM assigned GROUP BY cluster_id
)
SELECT size, COUNT(*) AS n_clusters,
       COUNT(*) * size AS n_docs,
       COUNT(*) * (size - 1) AS n_droppable
FROM sizes
GROUP BY size
ORDER BY size
"""


def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-quadratic embedding near-dup: LSH bucket self-join candidates
    + exact cosine ≥ 0.45 verify — FULL oracle parity: the deterministic
    hyperplanes are baked into the SQL (same family as ``ann_lsh_topk``),
    so signatures, bucket join, scoring and threshold are all mirrored.
    Parity vs the exact ``dedup_embedding`` pairs also exposes the
    banding recall honestly: any true pair missing here never collided."""
    from ..operators.dedup import embedding_near_dup_lsh

    e = read_table(spark, sf_dir, "embeddings")
    return embedding_near_dup_lsh(e, threshold=0.45)


def _embedding_lsh_oracle_sql(
    dim: int = 64,
    num_tables: int = 8,
    planes_per_table: int = 4,
    seed: int = 42,
    threshold: float = 0.45,
) -> str:
    from ..operators.similarity import make_planes

    rows = []
    for t in range(num_tables):
        for p, plane in enumerate(make_planes(dim, planes_per_table, seed + 1000 * t)):
            vec = "[" + ", ".join(repr(x) for x in plane) + "]"
            rows.append(f"({t}, {2 ** p}, {vec}::DOUBLE[])")
    values = ",\n    ".join(rows)
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
  FROM embeddings
),
planes(t, pow2, pv) AS (
  VALUES
    {values}
),
sig AS (
  SELECT vec_id, t,
         CAST(SUM(CASE WHEN list_sum(list_transform(range(1, {dim} + 1),
                          i -> v[i] * pv[i])) > 0 THEN pow2 ELSE 0 END) AS INTEGER) AS b
  FROM e CROSS JOIN planes
  GROUP BY vec_id, t
),
cand AS (
  SELECT DISTINCT sa.vec_id AS id_a, sb.vec_id AS id_b
  FROM sig sa JOIN sig sb ON sa.t = sb.t AND sa.b = sb.b AND sa.vec_id < sb.vec_id
)
SELECT c.id_a, c.id_b
FROM cand c JOIN e ea ON ea.vec_id = c.id_a JOIN e eb ON eb.vec_id = c.id_b
WHERE list_sum(list_transform(range(1, len(ea.v) + 1), i -> ea.v[i] * eb.v[i]))
        / (ea.nrm * eb.nrm) >= {threshold}
"""


def q_dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) partial-overlap pairs: documents sharing ≥ 20
    winnowed k-gram fingerprints — the LOCAL-similarity detector that
    catches a copied passage inside otherwise-unrelated documents,
    which whole-document MinHash structurally cannot."""
    from ..operators.dedup import winnowing_overlap_pairs

    d = read_table(spark, sf_dir, "documents")
    return winnowing_overlap_pairs(d, k=8, window=4, min_shared=20, max_postings=200)


def _winnowing_oracle_sql(
    k: int = 8, window: int = 4, min_shared: int = 20, max_postings: int = 200
) -> str:
    # closed-form polynomial: same residue as Spark's stepwise fold
    # (terms stay < 2^63, so one final % equals mod-at-each-step)
    pows = [131 ** (k - 1 - d) for d in range(k)]
    poly = " + ".join(
        f"CAST(ascii(substr(s, p + {d}, 1)) AS BIGINT) * {w}" for d, w in enumerate(pows)
    )
    return f"""
WITH docs AS (
  SELECT doc_id, lower(text) AS s FROM documents WHERE length(text) >= {k + window - 1}
),
hashes AS (
  SELECT doc_id,
         list_transform(range(1, greatest(length(s) - {k - 1}, 1) + 1),
                        p -> ({poly}) % 2147483647) AS hs
  FROM docs
),
fps AS (
  SELECT doc_id,
         unnest(list_distinct(
           list_transform(range(1, greatest(len(hs) - {window - 1}, 1) + 1),
                          p -> list_min(hs[p:p+{window - 1}])))) AS fp
  FROM hashes
),
hot AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) BETWEEN 2 AND {max_postings})
SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
FROM fps a JOIN hot USING (fp) JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= {min_shared}
"""


_BATCH_SOURCES = ("src0", "src1", "src2", "src3", "src4")


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup (operators/dedup.py incremental_dedup):
    sources src0-src4 play the incoming crawl batch — salted with
    re-crawled copies of every 10th historical doc (shifted ids) and an
    in-batch duplicate of every 25th batch doc — against the remaining
    sources as the historical fingerprint store.  Survivors are batch
    ids whose text is new both within the batch and vs history."""
    from ..operators.dedup import incremental_dedup

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    is_batch = F.col("source").isin(*_BATCH_SOURCES)
    batch = d.where(is_batch).select("doc_id", "text")
    history = d.where(~is_batch).select("doc_id", "text")
    recrawled = history.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
    )
    in_batch_dup = batch.where(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"), "text"
    )
    incoming = batch.union(recrawled).union(in_batch_dup)
    return incremental_dedup(incoming, history).orderBy("doc_id")


_DEDUP_INCREMENTAL_SQL = """
WITH batch AS (
  SELECT doc_id, text FROM documents
  WHERE source IN ('src0', 'src1', 'src2', 'src3', 'src4')
),
history AS (
  SELECT doc_id, text FROM documents
  WHERE source NOT IN ('src0', 'src1', 'src2', 'src3', 'src4')
),
incoming AS (
  SELECT doc_id, text FROM batch
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text FROM history WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 3000000 AS doc_id, text FROM batch WHERE doc_id % 25 = 0
),
b AS (SELECT md5(text) AS fp, MIN(doc_id) AS doc_id FROM incoming GROUP BY md5(text))
SELECT doc_id FROM b
WHERE NOT EXISTS (SELECT 1 FROM history h WHERE md5(h.text) = b.fp)
ORDER BY doc_id
"""


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection: near-dup clusters (MinHash →
    connected components, as dedup_clusters) but the KEPT member is the
    highest-quality doc per cluster (longest by n_chars, ties → lowest
    id) instead of the lowest id — the policy a real curation pipeline
    applies (keep the richest copy, drop the truncated mirrors).
    Integer-only ranking, so the oracle hash-matches exactly."""
    from ..operators.dedup import minhash_near_dup_pairs
    from ..operators.graph import connected_components
    from pyspark.sql import Window

    d = read_table(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(d, threshold=0.6).select("id_a", "id_b")
    comp = connected_components(
        pairs, pairs_distinct_ordered=True
    ).withColumnRenamed("n", "doc_id")
    labeled = (
        d.select("doc_id", "n_chars")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            "n_chars",
            F.coalesce("component", F.col("doc_id")).alias("cluster_id"),
        )
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        labeled.withColumn("keep", F.row_number().over(w) == 1)
        .select("doc_id", "cluster_id", "keep")
        .orderBy("doc_id")
    )


_DEDUP_KEEP_BEST_SQL = """
WITH RECURSIVE sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(length(lower(text)) - 8, 1) + 1),
                                      i -> substr(lower(text), i, 9))) AS s
  FROM documents
), pairs AS MATERIALIZED (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.6
), edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION SELECT id_b, id_a FROM pairs
), reach AS (
  SELECT u AS n, u AS m FROM edges
  UNION
  SELECT e.u, r.m FROM edges e JOIN reach r ON e.v = r.n
), comp AS (
  SELECT n AS doc_id, MIN(m) AS cluster_id FROM reach GROUP BY n
), labeled AS (
  SELECT d.doc_id, d.n_chars,
         COALESCE(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c USING (doc_id)
)
SELECT doc_id, cluster_id,
       ROW_NUMBER() OVER (PARTITION BY cluster_id
                          ORDER BY n_chars DESC, doc_id ASC) = 1 AS keep
FROM labeled ORDER BY doc_id
"""


def q_dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recurring-ingest near-dedup: odd doc_ids arrive as the new batch,
    even doc_ids are the stored corpus — verified pairs (new × history)
    ∪ (new × new) only, never history × history
    (operators.dedup.minhash_near_dup_incremental).  The oracle
    recomputes all-pairs Jaccard restricted to pairs touching the
    batch, so parity also proves the history-history suppression."""
    from ..operators.dedup import minhash_near_dup_incremental

    d = read_table(spark, sf_dir, "documents")
    new = d.where(F.col("doc_id") % 2 == 1)
    hist = d.where(F.col("doc_id") % 2 == 0)
    return minhash_near_dup_incremental(new, hist, threshold=0.6).orderBy(
        "id_a", "id_b"
    )


_DEDUP_MINHASH_INCR_SQL = """
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(length(lower(text)) - 8, 1) + 1),
                                      i -> substr(lower(text), i, 9))) AS s
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE (a.doc_id % 2 = 1 OR b.doc_id % 2 = 1)
  AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.6
ORDER BY id_a, id_b
"""


def q_dedup_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 60-bit portable SimHash fingerprints — the md5-family
    twin of dedup_simhash that a DuckDB oracle CAN check bit-for-bit
    (operators.dedup.simhash_portable), upgrading the SimHash family
    from rows-only to hash-exact coverage."""
    from ..operators.dedup import simhash_portable

    d = read_table(spark, sf_dir, "documents")
    return simhash_portable(d).orderBy("doc_id")


_SIMHASH_PORTABLE_SQL = r"""
WITH tok AS (
  SELECT doc_id,
         ('0x' || substring(md5(w), 1, 15))::BIGINT AS h
  FROM (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS w
        FROM documents)
  WHERE w <> ''
),
votes AS (
  SELECT doc_id, b,
         SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM tok CROSS JOIN range(0, 60) r(b)
  GROUP BY doc_id, b
),
fp AS (
  SELECT doc_id,
         SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS simhash
  FROM votes GROUP BY doc_id
)
SELECT d.doc_id, CAST(COALESCE(f.simhash, 0) AS BIGINT) AS simhash
FROM documents d LEFT JOIN fp f USING (doc_id)
ORDER BY d.doc_id
"""


def q_dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style repeated-span report
    (operators.dedup.repeated_substring_spans): every sampled 64-char
    window whose portable md5-prefix fingerprint occurs in ≥2 distinct
    documents, with its (doc, position) — the surgical span-removal
    input (Lee et al. 2022), where winnowing only names the pair."""
    from ..operators.dedup import repeated_substring_spans

    d = read_table(spark, sf_dir, "documents")
    return repeated_substring_spans(
        d, k=64, stride=16, max_postings=200
    ).orderBy("doc_id", "pos")


_DEDUP_SUBSTRING_SPANS_SQL = """
WITH lc AS (SELECT doc_id, lower(text) AS t FROM documents),
fpos AS (
  SELECT doc_id, t, unnest(range(1, length(t) - 62, 16)) AS i
  FROM lc WHERE length(t) >= 64
),
fps AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         ('0x' || substring(md5(substring(t, CAST(i AS INTEGER), 64)), 1, 15))::BIGINT AS fp
  FROM fpos
),
hot AS (
  SELECT fp, COUNT(DISTINCT doc_id) AS n_docs
  FROM fps GROUP BY fp
  HAVING COUNT(DISTINCT doc_id) >= 2 AND COUNT(*) <= 200
)
SELECT f.doc_id, f.pos, f.fp, h.n_docs
FROM fps f JOIN hot h USING (fp)
ORDER BY doc_id, pos
"""


QUERIES = {
    "dedup_substring_spans": q_dedup_substring_spans,
    "dedup_simhash_portable": q_dedup_simhash_portable,
    "dedup_minhash_incremental": q_dedup_minhash_incremental,
    "dedup_keep_best": q_dedup_keep_best,
    "dedup_exact": q_dedup_exact,
    "dedup_incremental": q_dedup_incremental,
    "dedup_clusters": q_dedup_clusters,
    "dedup_clusters_incremental": q_dedup_clusters_incremental,
    "dedup_clusters_pj": q_dedup_clusters_pj,
    "dedup_cluster_sizes": q_dedup_cluster_sizes,
    "dedup_minhash": q_dedup_minhash,
    "dedup_ngram_jaccard": q_dedup_ngram,
    "dedup_containment": q_dedup_containment,
    "dedup_semantic": q_dedup_semantic,
    "dedup_simhash": q_dedup_simhash,
    "dedup_embedding": q_dedup_embedding,
    "dedup_embedding_lsh": q_dedup_embedding_lsh,
    "dedup_winnowing": q_dedup_winnowing,
}
ORACLES = {
    "dedup_substring_spans": _DEDUP_SUBSTRING_SPANS_SQL,
    "dedup_simhash_portable": _SIMHASH_PORTABLE_SQL,
    "dedup_minhash_incremental": _DEDUP_MINHASH_INCR_SQL,
    "dedup_keep_best": _DEDUP_KEEP_BEST_SQL,
    "dedup_embedding_lsh": _embedding_lsh_oracle_sql(),
    "dedup_winnowing": _winnowing_oracle_sql(),
    "dedup_exact": _DEDUP_EXACT_SQL,
    "dedup_incremental": _DEDUP_INCREMENTAL_SQL,
    "dedup_clusters": _DEDUP_CLUSTERS_SQL,
    "dedup_clusters_incremental": _DEDUP_CLUSTERS_SQL,
    "dedup_clusters_pj": _DEDUP_CLUSTERS_SQL,
    "dedup_cluster_sizes": _DEDUP_CLUSTER_SIZES_SQL,
    "dedup_minhash": _DEDUP_MINHASH_SQL,
    "dedup_ngram_jaccard": _DEDUP_NGRAM_SQL,
    "dedup_containment": _DEDUP_CONTAIN_SQL,
    "dedup_semantic": _semantic_oracle_sql(),
    "dedup_embedding": _DEDUP_EMBEDDING_SQL,
}
