"""Similarity-search queries over the ``embeddings`` table."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import brute_force_topk, ivf_topk, lsh_topk, maxsim_topk
from ..session import cut
from ..sources.readers import read_table


def _queries_subset(e: DataFrame) -> DataFrame:
    """Deterministic query set: every 50th vector."""
    return e.where(F.col("vec_id") % 50 == 0)


def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for each query vector (ids + rank only)."""
    e = read_table(spark, sf_dir, "embeddings")
    return brute_force_topk(e, _queries_subset(e), k=5)


_ANN_BRUTE_SQL = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
  FROM embeddings
),
q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM e WHERE vec_id % 50 = 0),
scored AS (
  SELECT q.qid, e.vec_id AS vid,
         list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * e.v[i]))
           / (qn * e.nrm) AS cos
  FROM q JOIN e ON q.qid != e.vec_id
)
SELECT qid AS query_id, vid AS neighbor_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS INTEGER) AS rank
FROM scored
QUALIFY rank <= 5
"""


def q_ann_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction (ColBERT-style) MaxSim top-5: vectors viewed as
    8 sub-token embeddings of 8 dims; score = sum over query tokens of
    the best-matching doc-token dot (operators.similarity.maxsim_topk
    — broadcast query token tensor, one einsum per Arrow batch,
    partial top-k before the shuffle).  The oracle unrolls the full
    sum-of-greatest-of-dots expression (8 x 8 x 8 products) in SQL;
    ids + rank only, the brute_force_topk discipline."""
    e = read_table(spark, sf_dir, "embeddings")
    return maxsim_topk(e, _queries_subset(e), k=5, n_tokens=8)


def _maxsim_oracle_sql(n_tokens: int = 8, sub: int = 8, k: int = 5) -> str:
    terms = []
    for u in range(n_tokens):
        dots = []
        for t in range(n_tokens):
            prods = " + ".join(
                f"qv[{u * sub + i}] * dv[{t * sub + i}]" for i in range(1, sub + 1)
            )
            dots.append(f"({prods})")
        terms.append("greatest(" + ",\n             ".join(dots) + ")")
    score = "\n         + ".join(terms)
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 50 = 0),
pairs AS (
  SELECT q.qid, e.vec_id AS vid, q.qv AS qv, e.v AS dv
  FROM q JOIN e ON q.qid != e.vec_id
),
scored AS (
  SELECT qid, vid,
         {score} AS s
  FROM pairs
)
SELECT qid AS query_id, vid AS neighbor_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY s DESC, vid) AS INTEGER) AS rank
FROM scored
QUALIFY rank <= {k}
"""


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-5 — FULL oracle parity: the
    hyperplanes are deterministic literals (make_planes seed=42), so the
    oracle bakes the identical plane values into SQL and recomputes
    sign-signatures, bucket joins, scoring and ranking end-to-end.
    Sign-boundary FP margin: |dot| is O(1) vs ~1e-15 fold/gemm skew."""
    e = read_table(spark, sf_dir, "embeddings")
    return lsh_topk(e, _queries_subset(e), k=5)


def _lsh_oracle_sql(dim: int = 64, num_tables: int = 4, planes_per_table: int = 4, seed: int = 42) -> str:
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
sig AS (  -- per-vector per-table sign-bucket id
  SELECT vec_id, t,
         CAST(SUM(CASE WHEN list_sum(list_transform(range(1, {dim} + 1),
                          i -> v[i] * pv[i])) > 0 THEN pow2 ELSE 0 END) AS INTEGER) AS b
  FROM e CROSS JOIN planes
  GROUP BY vec_id, t
),
q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM e WHERE vec_id % 50 = 0),
qsig AS (SELECT s.vec_id AS qid, s.t, s.b FROM sig s JOIN q ON q.qid = s.vec_id),
cand AS (
  SELECT DISTINCT qs.qid, s.vec_id AS vid
  FROM qsig qs JOIN sig s ON qs.t = s.t AND qs.b = s.b
  WHERE qs.qid != s.vec_id
),
scored AS (
  SELECT c.qid, c.vid,
         list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * e.v[i]))
           / (q.qn * e.nrm) AS cos
  FROM cand c JOIN q ON q.qid = c.qid JOIN e ON e.vec_id = c.vid
)
SELECT qid AS query_id, vid AS neighbor_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS INTEGER) AS rank
FROM scored
QUALIFY rank <= 5
"""


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-5 — FULL oracle parity: the deterministic
    seed-centroid construction (16 lowest-id vectors), argmax cell
    assignment, 4-probe candidate generation and exact scoring are all
    mirrored in SQL, so the driver hash-checks the entire IVF pipeline.
    FP margin: cell-assignment cosine gaps are ~1e-3 vs ~1e-16 gemm/
    fold divergence, so the argmax decision set is stable."""
    e = read_table(spark, sf_dir, "embeddings")
    return ivf_topk(e, _queries_subset(e), k=5)


_ANN_IVF_SQL = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
  FROM embeddings
),
cents AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell, v AS cv, nrm AS cn
  FROM e ORDER BY vec_id LIMIT 16
),
assign AS (  -- every corpus vector -> its max-cosine cell (ties: lowest cell)
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
             list_sum(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * c.cv[i]))
               / (e.nrm * c.cn) DESC, c.cell ASC) AS rn
    FROM e CROSS JOIN cents c
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM e WHERE vec_id % 50 = 0),
probes AS (  -- each query's 4 nearest cells
  SELECT qid, cell FROM (
    SELECT q.qid, c.cell,
           ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
             list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * c.cv[i]))
               / (q.qn * c.cn) DESC, c.cell ASC) AS rn
    FROM q CROSS JOIN cents c
  ) WHERE rn <= 4
),
scored AS (
  SELECT p.qid, a.vec_id AS vid,
         list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * e.v[i]))
           / (q.qn * e.nrm) AS cos
  FROM probes p
  JOIN assign a USING (cell)
  JOIN q ON q.qid = p.qid
  JOIN e ON e.vec_id = a.vec_id
  WHERE a.vec_id != p.qid
)
SELECT qid AS query_id, vid AS neighbor_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS INTEGER) AS rank
FROM scored
QUALIFY rank <= 5
"""


def q_ann_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 neighbors by int8-quantized dot product — the memory-lever
    ANN path (4× smaller vectors, integer SIMD gemms).  Quantized dots
    are EXACT integers, so unlike the cosine paths this one needs no FP
    margin argument at all: scores, ranking and ties hash-match the SQL
    oracle bit-for-bit."""
    from ..operators.similarity import quantized_topk

    e = read_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") % 50 == 0)
    return quantized_topk(e, q, k=5)


_ANN_QUANTIZED_SQL = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), mx AS (
  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS m FROM e
), qq AS (
  SELECT vec_id,
         list_transform(v, x -> CAST(round(x / (CASE WHEN m = 0 THEN 1.0
                                                     ELSE m / 127.0 END)) AS INTEGER)) AS q
  FROM mx
), pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(range(1, len(a.q) + 1),
                                      i -> CAST(a.q[i] AS BIGINT) * b.q[i])) AS BIGINT) AS dot_q
  FROM qq a JOIN qq b ON a.vec_id % 50 = 0 AND a.vec_id <> b.vec_id
)
SELECT query_id, neighbor_id, dot_q, rank
FROM (
  SELECT query_id, neighbor_id, dot_q,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY dot_q DESC, neighbor_id) AS BIGINT) AS rank
  FROM pairs
)
WHERE rank <= 5
"""


def q_ann_quantized_rescored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage production ANN: int8-quantized prefilter (top-20) +
    exact-cosine rescore of only those candidates.  The oracle composes
    the same two stages; the rescore ranking rides the same cosine FP
    margin as the brute-force oracle (hash-green since r03)."""
    from ..operators.similarity import quantized_rescored_topk

    e = read_table(spark, sf_dir, "embeddings")
    return quantized_rescored_topk(e, _queries_subset(e), k=5, prefilter_k=20)


_ANN_QUANTIZED_RESCORED_SQL = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
  FROM embeddings
), mx AS (
  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS m FROM e
), qq AS (
  SELECT vec_id,
         list_transform(v, x -> CAST(round(x / (CASE WHEN m = 0 THEN 1.0
                                                     ELSE m / 127.0 END)) AS INTEGER)) AS q
  FROM mx
), pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(range(1, len(a.q) + 1),
                                      i -> CAST(a.q[i] AS BIGINT) * b.q[i])) AS BIGINT) AS dot_q
  FROM qq a JOIN qq b ON a.vec_id % 50 = 0 AND a.vec_id <> b.vec_id
), cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY dot_q DESC, neighbor_id) AS prerank
    FROM pairs
  ) WHERE prerank <= 20
), rescored AS (
  SELECT c.query_id, c.neighbor_id,
         list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))
           / (a.nrm * b.nrm) AS cos
  FROM cand c JOIN e a ON a.vec_id = c.query_id JOIN e b ON b.vec_id = c.neighbor_id
)
SELECT query_id, neighbor_id, rank
FROM (
  SELECT query_id, neighbor_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
  FROM rescored
)
WHERE rank <= 5
"""


def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spherical k-means cluster assignment (k=8, 2 Lloyd updates) —
    FULL oracle parity: deterministic lowest-id seeding, every Lloyd
    iteration (argmax assign, normalized-sum centroid update) and the
    final assignment are unrolled into SQL, so the driver hash-checks
    the whole iterative pipeline.  FP margin: assignment gaps between
    top-2 cells are O(1e-2) vs ~1e-14 cross-engine sum skew (same
    argument as the IVF oracle above)."""
    from ..operators.clustering import spherical_kmeans

    e = read_table(spark, sf_dir, "embeddings")
    return spherical_kmeans(e, k=8, iters=2)


def _kmeans_oracle_sql(k: int = 8, iters: int = 2, dim: int = 64) -> str:
    """Unrolled Lloyd iterations as a CTE chain mirroring
    operators.clustering.spherical_kmeans step by step."""

    def assign_body(cents: str) -> str:
        return f"""
  SELECT vec_id, cell FROM (
    SELECT en.vec_id, c.cell,
           ROW_NUMBER() OVER (PARTITION BY en.vec_id ORDER BY
             list_sum(list_transform(range(1, {dim} + 1), i -> en.vn[i] * c.cv[i]))
               DESC, c.cell ASC) AS rn
    FROM en CROSS JOIN {cents} AS c
  ) WHERE rn = 1"""

    ctes = [
        f"""e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
  FROM embeddings
)""",
        """en AS (  -- unit-normalized corpus (zero vectors pass through)
  SELECT vec_id,
         list_transform(v, x -> x / (CASE WHEN nrm = 0 THEN 1 ELSE nrm END)) AS vn
  FROM e
)""",
        f"""c0 AS (  -- seeds: the k lowest-id vectors, already unit length
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell, vn AS cv
  FROM en ORDER BY vec_id LIMIT {k}
)""",
    ]
    for t in range(1, iters + 1):
        ctes.append(f"a{t} AS ({assign_body(f'c{t - 1}')}\n)")
        ctes.append(f"""s{t} AS (  -- per-cell per-dimension sums of member unit vectors
  SELECT a.cell, t.i AS pos, SUM(en.vn[t.i]) AS s
  FROM en JOIN a{t} AS a USING (vec_id) CROSS JOIN range(1, {dim} + 1) AS t(i)
  GROUP BY a.cell, t.i
)""")
        ctes.append(f"""c{t} AS (  -- normalized sum = spherical centroid; empty/zero cells keep previous
  SELECT c.cell,
         CASE WHEN g.nrm IS NULL OR g.nrm = 0 THEN c.cv
              ELSE list_transform(g.sv, x -> x / g.nrm) END AS cv
  FROM c{t - 1} AS c LEFT JOIN (
    SELECT cell, sv, sqrt(list_sum(list_transform(sv, y -> y * y))) AS nrm
    FROM (SELECT cell, list(s ORDER BY pos) AS sv FROM s{t} GROUP BY cell)
  ) AS g ON c.cell = g.cell
)""")
    ctes.append(f"fin AS ({assign_body(f'c{iters}')}\n)")
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT vec_id, CAST(cell AS INTEGER) AS cluster FROM fin
"""


def q_ann_ivf_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with 2 Lloyd refinement iterations over the seed centroids —
    rows-only contract: the refined centroids are data-dependent float
    means, so a faithful SQL mirror would reimplement k-means in a
    recursive CTE for no extra coverage (the UNREFINED pipeline is
    already hash-checked by ann_ivf_topk, and refinement's recall gain
    is pinned in tests/test_llm_ops.py).  The driver verifies the
    result shape: every query id present, exactly k=5 ranked rows
    each."""
    e = read_table(spark, sf_dir, "embeddings")
    return ivf_topk(e, _queries_subset(e), k=5, refine_iters=2).orderBy(
        "query_id", "rank"
    )


def q_ann_ivf_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-EXACT IVF twin: the same inverted-file kernel as
    ann_ivf_topk probed EXHAUSTIVELY (n_probe = n_lists), which must
    return exactly the brute-force top-k — cell assignment only decides
    which candidates are scored, and exhaustive probing scores them
    all.  The oracle is therefore the brute-force SQL verbatim, giving
    the IVF Arrow kernel (batch cell routing, per-cell gemm scoring,
    (cos desc, id) tie-break, window fan-in) a driver value-hash row
    that the approximate configurations can't have."""
    e = read_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        e, _queries_subset(e), k=5, n_lists=16, n_probe=16
    ).orderBy("query_id", "rank")


def q_ann_ivf_refined_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-EXACT refined-IVF twin — the exhaustive-twin pattern
    (ann_ivf_exhaustive r10, ann_pq/ivfpq_exhaustive r11) applied to
    the last ANN kernel variant without a value-hash row: ivf_topk with
    refine_iters=2 AND n_probe = n_lists.  The Lloyd refinement only
    moves centroid VALUES — cell assignment decides which candidates
    get scored, and exhaustive probing scores them all — so the result
    must equal brute-force cosine top-k no matter where refinement
    converges.  This gives the refinement path itself (gemm Lloyd
    passes, renormalization, degenerate-cell carry-over, the full
    refined routing + scoring + (cos desc, id) fan-in) a driver
    value-hash row; ann_ivf_refined keeps the production n_probe=4
    configuration under the rows-only + recall-floor contract."""
    e = read_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        e, _queries_subset(e), k=5, n_lists=16, n_probe=16, refine_iters=2
    ).orderBy("query_id", "rank")


def q_ann_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered exact vector search (operators.similarity.
    filtered_topk): each query retrieves its top-5 only among corpus
    vectors sharing its ``label`` — the tenant-/language-/time-scoped
    constraint of production retrieval.  The filter applies inside the
    scoring kernel (pre-rank), so queries whose attribute is rare still
    fill k — post-filtering an unconstrained top-k would under-fill.
    Exact kernel, exact SQL mirror: hash-exact, no FP margin beyond the
    shared cosine tie-break discipline."""
    from ..operators.similarity import filtered_topk

    e = read_table(spark, sf_dir, "embeddings")
    return filtered_topk(e, _queries_subset(e), k=5).orderBy(
        "query_id", "rank"
    )


_ANN_FILTERED_SQL = """
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v,
         sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
  FROM embeddings
),
q AS (SELECT vec_id AS qid, label AS ql, v AS qv, nrm AS qn
      FROM e WHERE vec_id % 50 = 0),
scored AS (
  SELECT q.qid, e.vec_id AS vid,
         list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * e.v[i]))
           / (qn * e.nrm) AS cos
  FROM q JOIN e ON q.qid != e.vec_id AND q.ql = e.label
)
SELECT qid AS query_id, vid AS neighbor_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS INTEGER) AS rank
FROM scored
QUALIFY rank <= 5
ORDER BY query_id, rank
"""


def q_ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the 5 MOST similar corpus vectors whose label DIFFERS —
    the negatives a retriever/embedding model trains against (easy
    random negatives teach nothing; the near-boundary ones do).  Same
    kernel as ann_filtered with the eligibility mask negated
    (operators.similarity.filtered_topk(negate=True)): one corpus pass,
    broadcast query matrix, in-kernel mask, exact partial top-k — and
    the same SQL-NULL semantics (a NULL label is never eligible, as
    with ``a <> b``).  Exact mirror via the inequality join."""
    from ..operators.similarity import filtered_topk

    e = read_table(spark, sf_dir, "embeddings")
    return filtered_topk(e, _queries_subset(e), k=5, negate=True).orderBy(
        "query_id", "rank"
    )


_ANN_HARD_NEGATIVES_SQL = """
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v,
         sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
  FROM embeddings
),
q AS (SELECT vec_id AS qid, label AS ql, v AS qv, nrm AS qn
      FROM e WHERE vec_id % 50 = 0),
scored AS (
  SELECT q.qid, e.vec_id AS vid,
         list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * e.v[i]))
           / (qn * e.nrm) AS cos
  FROM q JOIN e ON q.qid != e.vec_id AND q.ql <> e.label
)
SELECT qid AS query_id, vid AS neighbor_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS INTEGER) AS rank
FROM scored
QUALIFY rank <= 5
ORDER BY query_id, rank
"""


def q_ann_ivf_filtered_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact twin of the filtered-IVF scale path: probing ALL 16 cells
    makes the inverted-list search brute-force-equivalent, so the
    label-filtered top-5 must equal ``filtered_topk``'s bit for bit —
    the same `_ANN_FILTERED_SQL` oracle serves both (the
    ann_ivf_exhaustive exact-twin convention, extended to the filtered
    axis of the accuracy dashboard)."""
    from ..operators.similarity import ivf_filtered_topk

    e = read_table(spark, sf_dir, "embeddings")
    return ivf_filtered_topk(
        e, _queries_subset(e), k=5, n_lists=16, n_probe=16
    ).orderBy("query_id", "rank")


def q_ann_filtered_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered recall@5 — the fourth face of the ANN accuracy
    dashboard (probes / dimensions / precision / now ATTRIBUTE
    constraint): per query, how many of the exact label-filtered top-5
    the 4-probe filtered IVF recovers.  Attribute filters are where
    ANN recall quietly collapses in production (the constrained
    neighbors may live outside the probed cells even when
    unconstrained recall is high) — this is the number that decides
    between more probes and attribute-partitioned indexes.  Both legs
    are individually hash-exact kernels, so the intersection counts
    carry no FP exposure."""
    from ..operators.similarity import filtered_topk, ivf_filtered_topk

    e = read_table(spark, sf_dir, "embeddings")
    q = _queries_subset(e)
    exact = filtered_topk(e, q, k=5).select("query_id", "neighbor_id")
    ivf = ivf_filtered_topk(e, q, k=5, n_lists=16, n_probe=4).select(
        "query_id", "neighbor_id"
    )
    base = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_true"))
    hits = (
        exact.join(ivf, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        base.join(hits, "query_id", "left")
        .fillna(0, subset=["n_hits"])
        .select(
            "query_id",
            "n_true",
            "n_hits",
            (F.col("n_hits") / F.col("n_true")).alias("recall"),
        )
        .orderBy("query_id")
    )


_ANN_FILTERED_RECALL_SQL = """
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v,
         sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
  FROM embeddings
),
q AS (SELECT vec_id AS qid, label AS ql, v AS qv, nrm AS qn
      FROM e WHERE vec_id % 50 = 0),
bf AS (
  SELECT qid, vid FROM (
    SELECT q.qid, e.vec_id AS vid,
           list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * e.v[i]))
             / (qn * e.nrm) AS cos
    FROM q JOIN e ON q.qid != e.vec_id AND q.ql = e.label
  ) QUALIFY ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) <= 5
),
cents AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
         v AS cv, nrm AS cn
  FROM e ORDER BY vec_id LIMIT 16
),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
             list_sum(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * c.cv[i]))
               / (e.nrm * c.cn) DESC, c.cell ASC) AS rn
    FROM e CROSS JOIN cents c
  ) WHERE rn = 1
),
probes AS (
  SELECT qid, cell FROM (
    SELECT q.qid, c.cell,
           ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
             list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * c.cv[i]))
               / (q.qn * c.cn) DESC, c.cell ASC) AS rn
    FROM q CROSS JOIN cents c
  ) WHERE rn <= 4
),
ivf AS (
  SELECT qid, vid FROM (
    SELECT p.qid, a.vec_id AS vid,
           list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * e.v[i]))
             / (q.qn * e.nrm) AS cos
    FROM probes p
    JOIN assign a USING (cell)
    JOIN q ON q.qid = p.qid
    JOIN e ON e.vec_id = a.vec_id
    WHERE a.vec_id != p.qid AND e.label = q.ql
  ) QUALIFY ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) <= 5
),
base AS (SELECT qid, COUNT(*) AS n_true FROM bf GROUP BY qid),
hits AS (
  SELECT bf.qid, COUNT(*) AS n
  FROM bf JOIN ivf ON bf.qid = ivf.qid AND bf.vid = ivf.vid
  GROUP BY bf.qid
)
SELECT base.qid AS query_id,
       n_true::BIGINT AS n_true,
       COALESCE(hits.n, 0)::BIGINT AS n_hits,
       COALESCE(hits.n, 0) / n_true AS recall
FROM base LEFT JOIN hits ON base.qid = hits.qid
ORDER BY query_id
"""


def q_ann_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified top-5 from each query's exact top-20
    (operators.similarity.mmr_rerank, λ=0.5): the greedy
    relevance-vs-redundancy re-rank every RAG stack applies so
    near-duplicate passages don't crowd the context window.  The
    oracle unrolls the five greedy picks in SQL (the kmeans/pagerank
    unroll pattern) — ids-only output, so cross-engine FP noise in the
    scores can only matter at ~1e-15 score ties, orders below the
    corpus's observed margins."""
    from ..operators.similarity import mmr_rerank

    e = read_table(spark, sf_dir, "embeddings")
    return mmr_rerank(e, _queries_subset(e), k=5, n_candidates=20).orderBy(
        "query_id", "rank"
    )


def _mmr_oracle_sql(k: int = 5, n_cand: int = 20, lam: float = 0.5) -> str:
    """Unrolled greedy MMR: rel = exact top-n_cand per query, sim =
    candidate-pair cosines, then k argmax picks, each excluding prior
    picks and penalizing max similarity to them — (score desc, vid)
    tie-break at every step, mirroring the kernel's lexsort."""
    parts = [
        f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
  FROM embeddings
),
q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM e WHERE vec_id % 50 = 0),
rel AS (
  SELECT qid, vid, r FROM (
    SELECT q.qid, e.vec_id AS vid,
           list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * e.v[i]))
             / (qn * e.nrm) AS r
    FROM q JOIN e ON q.qid != e.vec_id
  ) QUALIFY ROW_NUMBER() OVER (PARTITION BY qid ORDER BY r DESC, vid) <= {n_cand}
),
sim AS (
  SELECT ra.qid, ra.vid AS va, rb.vid AS vb,
         list_sum(list_transform(range(1, len(ea.v) + 1), i -> ea.v[i] * eb.v[i]))
           / (ea.nrm * eb.nrm) AS s
  FROM rel ra JOIN rel rb ON ra.qid = rb.qid AND ra.vid != rb.vid
  JOIN e ea ON ea.vec_id = ra.vid
  JOIN e eb ON eb.vec_id = rb.vid
),
p1 AS (
  SELECT qid, vid FROM rel
  QUALIFY ROW_NUMBER() OVER (PARTITION BY qid ORDER BY r DESC, vid) = 1
),
pc1 AS (SELECT qid, vid, 1 AS rank FROM p1)"""
    ]
    for t in range(2, k + 1):
        parts.append(f""",
sc{t} AS (
  SELECT r.qid, r.vid, {lam} * r.r - {1.0 - lam} * MAX(s.s) AS score
  FROM rel r
  JOIN sim s ON s.qid = r.qid AND s.va = r.vid
  JOIN pc{t - 1} p ON p.qid = s.qid AND p.vid = s.vb
  WHERE NOT EXISTS (
    SELECT 1 FROM pc{t - 1} x WHERE x.qid = r.qid AND x.vid = r.vid)
  GROUP BY r.qid, r.vid, r.r
),
p{t} AS (
  SELECT qid, vid FROM sc{t}
  QUALIFY ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, vid) = 1
),
pc{t} AS (
  SELECT * FROM pc{t - 1}
  UNION ALL SELECT qid, vid, {t} AS rank FROM p{t}
)""")
    parts.append(f"""
SELECT qid AS query_id, vid AS neighbor_id, CAST(rank AS INTEGER) AS rank
FROM pc{k}
ORDER BY query_id, rank
""")
    return "".join(parts)


def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed (64×64) embedding covariance, integer-quantized for
    exact cross-engine parity (operators.clustering.embedding_covariance)
    — the PCA/whitening building block, hash-checked with NO FP margin:
    means are decimal-summed, centered values quantize through the
    engine-identical floor(x·10⁶ + 0.5), products and sums are exact
    integers, and the final divide is one IEEE op."""
    from ..operators.clustering import embedding_covariance

    e = read_table(spark, sf_dir, "embeddings")
    return embedding_covariance(e).orderBy("i", "j")


_COVARIANCE_SQL = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
x AS (
  -- DuckDB range() cannot lateral-reference len(v); 128 is a static
  -- upper bound on the embedding dim, cut back to the true length
  SELECT vec_id, CAST(i - 1 AS INTEGER) AS i, v[CAST(i AS INTEGER)] AS x
  FROM e CROSS JOIN range(1, 129) t(i)
  WHERE i <= len(v)
),
m AS (
  SELECT i,
         CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS m
  FROM x GROUP BY i
),
q AS (
  SELECT vec_id, x.i,
         CAST(FLOOR((x.x - m.m) * 1000000.0 + 0.5) AS BIGINT) AS q
  FROM x JOIN m USING (i)
),
n AS (SELECT COUNT(*) AS n FROM e)
SELECT a.i, b.i AS j,
       CAST(SUM(a.q * b.q) AS DOUBLE)
         / (1000000.0 * 1000000.0 * CAST(n.n - 1 AS DOUBLE)) AS cov
FROM q a JOIN q b ON a.vec_id = b.vec_id AND b.i >= a.i
CROSS JOIN n
GROUP BY a.i, b.i, n.n
ORDER BY a.i, j
"""


def q_embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-8 PCA projection of the embedding corpus
    (operators.clustering.pca_project) — rows-only contract: the driver
    eigendecomposition is not SQL; projection parity vs numpy is
    pytest-pinned, and the covariance it consumes is hash-checked by
    embedding_covariance."""
    from ..operators.clustering import pca_project

    e = read_table(spark, sf_dir, "embeddings")
    return (
        pca_project(e, n_components=8)
        .select(
            "vec_id",
            F.round(F.element_at("components", 1), 6).alias("pc1"),
            F.round(F.element_at("components", 2), 6).alias("pc2"),
        )
        .orderBy("vec_id")
    )


def q_embedding_pca2_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-EXACT PCA twin (operators.clustering.pca2d_exact): 2-D PCA
    over the first two embedding coordinates, where the eigensolve has
    a closed form ((a+c) ± √((a−c)² + (2b)²)) / 2 that both engines
    evaluate as the same chain of single correctly-rounded IEEE ops —
    the full pipeline (quantized covariance → eigenvalues → sign-pinned
    eigenvectors → per-row projection) is mirrored in SQL with no FP
    margin, closing the audit gap q_embedding_pca's rows-only contract
    leaves (its 64-D eigh is driver-side numpy; THIS row proves the
    covariance→component→projection semantics end-to-end)."""
    from ..operators.clustering import pca2d_exact

    e = read_table(spark, sf_dir, "embeddings")
    return pca2d_exact(e).orderBy("vec_id")


_PCA2_EXACT_SQL = """
WITH base AS (
  SELECT vec_id, (embedding::DOUBLE[])[1] AS x, (embedding::DOUBLE[])[2] AS y
  FROM embeddings
),
s1 AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS mx,
         CAST(SUM(CAST(y AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS my
  FROM base
),
q AS (
  SELECT n, mx, my,
         CAST(FLOOR((x - mx) * 1000000.0 + 0.5) AS HUGEINT) AS qx,
         CAST(FLOOR((y - my) * 1000000.0 + 0.5) AS HUGEINT) AS qy
  FROM base CROSS JOIN s1
),
mom AS (
  SELECT n, mx, my,
         CAST(SUM(qx * qx) AS DOUBLE)
           / (1000000.0 * 1000000.0 * CAST(n - 1 AS DOUBLE)) AS a,
         CAST(SUM(qx * qy) AS DOUBLE)
           / (1000000.0 * 1000000.0 * CAST(n - 1 AS DOUBLE)) AS b,
         CAST(SUM(qy * qy) AS DOUBLE)
           / (1000000.0 * 1000000.0 * CAST(n - 1 AS DOUBLE)) AS c
  FROM q GROUP BY n, mx, my
),
eig AS (
  SELECT mx, my, a, b, c,
         ((a + c) + sqrt((a - c) * (a - c) + (2.0 * b) * (2.0 * b))) / 2.0 AS lam1,
         ((a + c) - sqrt((a - c) * (a - c) + (2.0 * b) * (2.0 * b))) / 2.0 AS lam2
  FROM mom
),
uv AS (
  SELECT mx, my, lam1, lam2,
         CASE WHEN b <> 0.0
                THEN b / sqrt(b * b + (lam1 - a) * (lam1 - a))
              WHEN a >= c THEN 1.0 ELSE 0.0 END AS ux,
         CASE WHEN b <> 0.0
                THEN (lam1 - a) / sqrt(b * b + (lam1 - a) * (lam1 - a))
              WHEN a >= c THEN 0.0 ELSE 1.0 END AS uy
  FROM eig
),
vecs AS (
  SELECT mx, my, lam1, lam2,
         CASE WHEN ux < 0.0 OR (ux = 0.0 AND uy < 0.0) THEN -ux ELSE ux END AS v1x,
         CASE WHEN ux < 0.0 OR (ux = 0.0 AND uy < 0.0) THEN -uy ELSE uy END AS v1y
  FROM uv
)
SELECT vec_id,
       ROUND((x - mx) * v1x + (y - my) * v1y, 9) + 0.0 AS pc1,
       ROUND((x - mx) * (-v1y) + (y - my) * v1x, 9) + 0.0 AS pc2,
       ROUND(lam1, 9) + 0.0 AS lam1,
       ROUND(lam2, 9) + 0.0 AS lam2
FROM base CROSS JOIN vecs
ORDER BY vec_id
"""


def q_ann_pq_rescored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with exact rescoring
    (operators.similarity.pq_rescored_topk): PQ codes (m=8 subspaces ×
    64 codewords ≈ 32× compression vs float32) prefilter the corpus by
    asymmetric-distance cosine, the top-50 candidates per query are
    rescored with exact cosine — FAISS's ADC + refine recipe.
    Rows-only contract: the codebooks are data-dependent k-means means
    (same argument as ann_ivf_refined); prefilter/rescored recall
    floors and a numpy ADC parity check are pytest-pinned
    (tests/test_llm_ops.py)."""
    from ..operators.similarity import pq_rescored_topk

    e = read_table(spark, sf_dir, "embeddings")
    return pq_rescored_topk(e, _queries_subset(e), k=5).orderBy(
        "query_id", "rank"
    )


def q_ann_ivfpq_rescored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IVFADC + exact refine (operators.similarity.
    ivfpq_rescored_topk): coarse inverted-file probe × residual product
    quantization × exact-cosine rescore — the composition completing
    the ANN tier (brute / LSH / IVF / int8 / PQ / IVFPQ).  Rows-only
    contract (k-means coarse + residual codebooks, same argument as
    ann_ivf_refined / ann_pq_rescored); recall floors pytest-pinned at
    the adversarial near-random corpus's measured levels."""
    from ..operators.similarity import ivfpq_rescored_topk

    e = read_table(spark, sf_dir, "embeddings")
    return ivfpq_rescored_topk(e, _queries_subset(e), k=5).orderBy(
        "query_id", "rank"
    )


def q_ann_pq_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-EXACT PQ twin (the ann_ivf_exhaustive pattern applied to
    the ADC + refine stack): pq_rescored_topk with prefilter_k = corpus
    size, so the PQ-code prefilter retains EVERY candidate and the
    exact-cosine rescore ranks them all — by construction equal to
    brute-force cosine top-k regardless of code reconstruction error
    (ADC scores only ORDER the prefilter, and an exhaustive prefilter
    makes that order irrelevant).  The oracle is the brute-force SQL
    verbatim, giving the PQ kernel (codebook train, batch code
    assignment, LUT scoring, candidate plumbing, broadcast rescore
    join, (cos desc, id) tie-break) a driver value-hash row the
    approximate configuration (ann_pq_rescored) can't have.  The
    corpus-sized prefilter is the validation configuration only — the
    production path keeps prefilter_k = 50."""
    from ..operators.similarity import pq_rescored_topk

    e = read_table(spark, sf_dir, "embeddings")
    n = e.count()  # metadata-sized: one scalar job to size the prefilter
    return (
        pq_rescored_topk(e, _queries_subset(e), k=5, prefilter_k=n)
        .withColumn("rank", F.col("rank").cast("int"))  # oracle's INTEGER
        .orderBy("query_id", "rank")
    )


def q_ann_ivfpq_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-EXACT IVFADC twin: ivfpq_rescored_topk probed exhaustively
    (n_probe = n_lists) with prefilter_k = corpus size — every corpus
    vector lands in some probed cell and survives the residual-ADC
    prefilter, so the exact-cosine rescore must reproduce brute-force
    top-k.  Covers the full composed kernel (coarse Lloyd refine, cell
    routing, residual coding, XDOT decomposition, per-cell LUT scoring,
    rescore fan-in) with a driver value-hash row; ann_ivfpq_rescored
    keeps the production n_probe=8/prefilter=50 configuration under the
    rows-only + recall-floor contract."""
    from ..operators.similarity import ivfpq_rescored_topk

    e = read_table(spark, sf_dir, "embeddings")
    n = e.count()
    return (
        ivfpq_rescored_topk(
            e, _queries_subset(e), k=5, prefilter_k=n, n_lists=16, n_probe=16
        )
        .withColumn("rank", F.col("rank").cast("int"))  # oracle's INTEGER
        .orderBy("query_id", "rank")
    )


_RRF_K = 60
_RRF_TOPK = 20


def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion — the standard
    lexical+vector fusion of a RAG / retrieval stack: the BM25 top-20
    for the fixed three-term query (text_q's corpus-stat leg) and the
    exact-cosine top-20 around vec 0's embedding fuse as
    Σ 1/(60 + rank), a doc absent from a leg contributing 0.

    Determinism: both legs are already hash-exact queries (bit-equal
    scores ⇒ identical ranks under the (score desc, id) tie-break);
    the fused score is ONE addition of two per-row IEEE divisions of
    exact integers — order-free.  Scale: each leg's top-k is k rows,
    so the fusion join is trivially broadcast; all heavy lifting stays
    in the legs (BM25's df-cut inverted index, the gemm-tiled scan)."""
    from ..operators.textops import bm25_topk
    from ..queries.text_q import _BM25_TERMS

    from pyspark.sql import Window

    d = read_table(spark, sf_dir, "documents")
    e = read_table(spark, sf_dir, "embeddings")
    lex = bm25_topk(d, list(_BM25_TERMS), k=_RRF_TOPK).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("score"), "doc_id"))
        .cast("bigint")
        .alias("r_lex"),
    )
    vec = brute_force_topk(
        e, e.where(F.col("vec_id") == 0), k=_RRF_TOPK
    ).select(
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").cast("bigint").alias("r_vec"),
    )
    contrib = lambda r: F.coalesce(  # noqa: E731
        F.lit(1.0) / (F.lit(_RRF_K) + F.col(r)), F.lit(0.0)
    )
    return (
        lex.join(vec, "doc_id", "full_outer")
        .select(
            "doc_id",
            "r_lex",
            "r_vec",
            (contrib("r_lex") + contrib("r_vec")).alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), "doc_id")
    )


def _rrf_oracle_sql() -> str:
    from ..queries.text_q import _bm25_oracle_sql

    return f"""
WITH lex_raw AS ({_bm25_oracle_sql(k=_RRF_TOPK)}),
lex AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS r_lex
  FROM lex_raw
),
emb AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
  FROM embeddings
),
q AS (SELECT v AS qv, nrm AS qn FROM emb WHERE vec_id = 0),
vec AS (
  SELECT vec_id AS doc_id, CAST(rnk AS BIGINT) AS r_vec FROM (
    SELECT emb.vec_id,
           ROW_NUMBER() OVER (
             ORDER BY list_sum(list_transform(range(1, len(qv) + 1),
                                              i -> qv[i] * emb.v[i]))
                        / (qn * emb.nrm) DESC, emb.vec_id) AS rnk
    FROM emb CROSS JOIN q WHERE emb.vec_id <> 0
  ) WHERE rnk <= {_RRF_TOPK}
)
SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id, r_lex, r_vec,
       COALESCE(CAST(1.0 AS DOUBLE) / ({_RRF_K} + r_lex), 0.0)
         + COALESCE(CAST(1.0 AS DOUBLE) / ({_RRF_K} + r_vec), 0.0) AS rrf_score
FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id
ORDER BY rrf_score DESC, doc_id
"""


def q_ann_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF index maintenance — completes the
    recurring-crawl incremental triad (exact dedup -> MinHash -> CC ->
    similarity): odd vec_ids arrive as the new batch, even vec_ids are
    the stored corpus whose 16 lowest-id vectors are the FROZEN
    coarse-quantizer asset.  The batch is assigned with ONE gemm pass
    (operators.similarity.ivf_assign — the stored corpus's vectors are
    never re-scored in production; rebuilding its assignments here is
    driver-contract self-containment, the dedup_clusters_incremental
    convention), and the output is the per-cell drift report
    (ivf_cell_drift): stored vs batch occupancy share, signed delta,
    and the retrain flag that triggers re-clustering when the crawl
    distribution shifts.  The oracle mirrors seed construction, argmax
    assignment, spine zero-fill and share arithmetic; counts are exact
    integers and shares are single IEEE-754 divisions, so the row is
    hash-exact despite living downstream of an FP argmax (assignment
    cosine gaps ~1e-3 vs ~1e-16 engine divergence — the _ANN_IVF_SQL
    margin argument)."""
    from ..operators.similarity import ivf_assign, ivf_cell_drift, ivf_seed_centroids

    e = read_table(spark, sf_dir, "embeddings")
    hist = e.where(F.col("vec_id") % 2 == 0)
    batch = e.where(F.col("vec_id") % 2 == 1)
    cents = ivf_seed_centroids(hist, n_lists=16)
    hist_assign = ivf_assign(hist, cents)  # persisted state, rebuilt
    batch_assign = ivf_assign(batch, cents)  # the incremental pass
    return ivf_cell_drift(hist_assign, batch_assign, n_lists=16).orderBy("cell")


_ANN_IVF_INCR_SQL = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
  FROM embeddings
),
cents AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
         v AS cv, nrm AS cn
  FROM e WHERE vec_id % 2 = 0 ORDER BY vec_id LIMIT 16
),
assign AS (  -- every vector -> its max-cosine cell (ties: lowest cell)
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
             list_sum(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * c.cv[i]))
               / (e.nrm * c.cn) DESC, c.cell ASC) AS rn
    FROM e CROSS JOIN cents c
  ) WHERE rn = 1
),
counts AS (
  SELECT cell,
         COUNT(CASE WHEN vec_id % 2 = 0 THEN 1 END) AS hist_n,
         COUNT(CASE WHEN vec_id % 2 = 1 THEN 1 END) AS batch_n
  FROM assign GROUP BY cell
),
rep AS (
  SELECT CAST(s.range AS INTEGER) AS cell,
         COALESCE(c.hist_n, 0)::BIGINT AS hist_n,
         COALESCE(c.batch_n, 0)::BIGINT AS batch_n
  FROM range(0, 16) s LEFT JOIN counts c ON CAST(s.range AS INTEGER) = c.cell
),
tot AS (SELECT SUM(hist_n)::DOUBLE AS ht, SUM(batch_n)::DOUBLE AS bt FROM rep)
SELECT cell, hist_n, batch_n,
       batch_n / bt - hist_n / ht AS drift,
       abs(batch_n / bt - hist_n / ht) > 0.02 AS retrain
FROM rep, tot
ORDER BY cell
"""


def q_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 audit of the registered IVF path against exact brute
    force — the quality gauge a production ANN deployment tracks
    beside its latency (probe count / centroid drift tuning both read
    it; ``ivf_cell_drift``'s retrain flag is actioned by exactly this
    number).  Per query: true top-5 size, how many the 4-probe IVF
    recovered, and the recall ratio.  Both top-5 sets are individually
    hash-exact driver rows (ann_bruteforce_topk / ann_ivf_topk), so
    their intersection count carries no new FP exposure; the plan runs
    the two one-pass kernels and a semi-join of two 5-row-per-query
    frames — corpus never shuffles."""
    e = read_table(spark, sf_dir, "embeddings")
    q = _queries_subset(e)
    bf = brute_force_topk(e, q, k=5).select("query_id", "neighbor_id")
    ivf = ivf_topk(e, q, k=5).select("query_id", "neighbor_id")
    base = bf.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_true"))
    hits = (
        bf.join(ivf, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        base.join(hits, "query_id", "left")
        .fillna(0, subset=["n_hits"])
        .select(
            "query_id",
            "n_true",
            "n_hits",
            (F.col("n_hits") / F.col("n_true")).alias("recall"),
        )
        .orderBy("query_id")
    )


_ANN_RECALL_SQL = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
  FROM embeddings
),
q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM e WHERE vec_id % 50 = 0),
bf AS (
  SELECT qid, vid FROM (
    SELECT q.qid, e.vec_id AS vid,
           list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * e.v[i]))
             / (qn * e.nrm) AS cos
    FROM q JOIN e ON q.qid != e.vec_id
  ) QUALIFY ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) <= 5
),
cents AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
         v AS cv, nrm AS cn
  FROM e ORDER BY vec_id LIMIT 16
),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
             list_sum(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * c.cv[i]))
               / (e.nrm * c.cn) DESC, c.cell ASC) AS rn
    FROM e CROSS JOIN cents c
  ) WHERE rn = 1
),
probes AS (
  SELECT qid, cell FROM (
    SELECT q.qid, c.cell,
           ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
             list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * c.cv[i]))
               / (q.qn * c.cn) DESC, c.cell ASC) AS rn
    FROM q CROSS JOIN cents c
  ) WHERE rn <= 4
),
ivf AS (
  SELECT qid, vid FROM (
    SELECT p.qid, a.vec_id AS vid,
           list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * e.v[i]))
             / (q.qn * e.nrm) AS cos
    FROM probes p
    JOIN assign a USING (cell)
    JOIN q ON q.qid = p.qid
    JOIN e ON e.vec_id = a.vec_id
    WHERE a.vec_id != p.qid
  ) QUALIFY ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) <= 5
),
base AS (SELECT qid, COUNT(*) AS n_true FROM bf GROUP BY qid),
hits AS (
  SELECT bf.qid, COUNT(*) AS n
  FROM bf JOIN ivf ON bf.qid = ivf.qid AND bf.vid = ivf.vid
  GROUP BY bf.qid
)
SELECT base.qid AS query_id,
       n_true::BIGINT AS n_true,
       COALESCE(hits.n, 0)::BIGINT AS n_hits,
       COALESCE(hits.n, 0) / n_true AS recall
FROM base LEFT JOIN hits ON base.qid = hits.qid
ORDER BY query_id
"""


def q_ann_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation audit (Kusupati et al. 2022): recall@5 of
    cosine search on the embedding PREFIX (dims 8/16/32) against the
    full 64-dim exact top-5 — the dimension-vs-recall decision table
    behind serving truncated MRL embeddings (4-8x memory/gemm savings
    when the prefix carries the signal).  Each tier is the same
    one-pass brute-force kernel on sliced vectors; all slices verified
    non-degenerate (min prefix-8 squared norm ~0.02 — no zero-norm
    NaN edge); counts are exact integers, recall one IEEE division."""
    e = read_table(spark, sf_dir, "embeddings")
    full = brute_force_topk(e, _queries_subset(e), k=5).select(
        "query_id", "neighbor_id"
    )
    base = full.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_true"))
    parts = []
    for d in (8, 16, 32):
        et = e.select(
            "vec_id", F.slice("embedding", 1, d).alias("embedding")
        )
        td = brute_force_topk(et, _queries_subset(et), k=5).select(
            "query_id", "neighbor_id"
        )
        hits = (
            td.join(full, ["query_id", "neighbor_id"], "left_semi")
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n_hits"))
        )
        parts.append(
            base.join(hits, "query_id", "left")
            .fillna(0, subset=["n_hits"])
            .select(
                F.lit(d).cast("int").alias("dim"),
                "query_id",
                "n_true",
                "n_hits",
                (F.col("n_hits") / F.col("n_true")).alias("recall"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("dim", "query_id")


def _matryoshka_oracle_sql(dims: "tuple[int, ...]" = (8, 16, 32)) -> str:
    tiers = []
    for d in dims:
        tiers.append(f"""
t{d} AS (
  SELECT qid, vid FROM (
    SELECT q.qid, e.vec_id AS vid,
           list_sum(list_transform(range(1, {d + 1}), i -> q.qv[i] * e.v[i]))
             / (sqrt(list_sum(list_transform(q.qv[1:{d}], x -> x * x)))
                * sqrt(list_sum(list_transform(e.v[1:{d}], x -> x * x)))) AS cos
    FROM q JOIN e ON q.qid != e.vec_id
  ) QUALIFY ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) <= 5
),
a{d} AS (
  SELECT b.qid, {d} AS dim, COUNT(*) AS n_true,
         COALESCE(SUM(CASE WHEN t.vid IS NOT NULL THEN 1 ELSE 0 END), 0) AS n_hits
  FROM full5 b LEFT JOIN t{d} t ON t.qid = b.qid AND t.vid = b.vid
  GROUP BY b.qid
)""")
        # (n_hits counts full-top5 rows recovered by the truncated tier)
    unions = "\nUNION ALL\n".join(
        f"SELECT dim, qid, n_true, n_hits FROM a{d}" for d in dims
    )
    return (
        """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
  FROM embeddings
),
q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM e WHERE vec_id % 50 = 0),
full5 AS (
  SELECT qid, vid FROM (
    SELECT q.qid, e.vec_id AS vid,
           list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * e.v[i]))
             / (qn * e.nrm) AS cos
    FROM q JOIN e ON q.qid != e.vec_id
  ) QUALIFY ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) <= 5
),"""
        + ",".join(tiers)
        + f"""
SELECT CAST(dim AS INTEGER) AS dim, qid AS query_id,
       n_true::BIGINT AS n_true, n_hits::BIGINT AS n_hits,
       n_hits / n_true AS recall
FROM ({unions})
ORDER BY dim, query_id
"""
    )


def q_ann_quantized_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8-quantization recall audit — third face of the accuracy
    dashboard (IVF probes: ann_recall_audit; dimension truncation:
    ann_matryoshka_audit; precision: this): per query, how many of the
    exact cosine top-5 the symmetric per-vector int8 dot-product top-5
    recovers.  Both rankings are hash-exact rows already; the
    intersection is pure integers."""
    from ..operators.similarity import quantized_topk

    e = read_table(spark, sf_dir, "embeddings")
    full = brute_force_topk(e, _queries_subset(e), k=5).select(
        "query_id", "neighbor_id"
    )
    qt = quantized_topk(e, _queries_subset(e), k=5).select(
        "query_id", "neighbor_id"
    )
    base = full.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_true"))
    hits = (
        qt.join(full, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        base.join(hits, "query_id", "left")
        .fillna(0, subset=["n_hits"])
        .select(
            "query_id",
            "n_true",
            "n_hits",
            (F.col("n_hits") / F.col("n_true")).alias("recall"),
        )
        .orderBy("query_id")
    )


_ANN_QUANTIZED_RECALL_SQL = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
  FROM embeddings
),
q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM e WHERE vec_id % 50 = 0),
full5 AS (
  SELECT qid, vid FROM (
    SELECT q.qid, e.vec_id AS vid,
           list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * e.v[i]))
             / (qn * e.nrm) AS cos
    FROM q JOIN e ON q.qid != e.vec_id
  ) QUALIFY ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) <= 5
),
mx AS (
  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS m FROM e
), qq AS (
  SELECT vec_id,
         list_transform(v, x -> CAST(round(x / (CASE WHEN m = 0 THEN 1.0
                                                     ELSE m / 127.0 END)) AS INTEGER)) AS q
  FROM mx
),
q5 AS (
  SELECT query_id, neighbor_id FROM (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           CAST(list_sum(list_transform(range(1, len(a.q) + 1),
                                        i -> CAST(a.q[i] AS BIGINT) * b.q[i])) AS BIGINT) AS dot_q
    FROM qq a JOIN qq b ON a.vec_id % 50 = 0 AND a.vec_id <> b.vec_id
  ) QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY dot_q DESC, neighbor_id) <= 5
),
base AS (SELECT qid, COUNT(*) AS n_true FROM full5 GROUP BY qid),
hits AS (
  SELECT f.qid, COUNT(*) AS n
  FROM full5 f JOIN q5 ON q5.query_id = f.qid AND q5.neighbor_id = f.vid
  GROUP BY f.qid
)
SELECT base.qid AS query_id,
       n_true::BIGINT AS n_true,
       COALESCE(hits.n, 0)::BIGINT AS n_hits,
       COALESCE(hits.n, 0) / n_true AS recall
FROM base LEFT JOIN hits ON base.qid = hits.qid
ORDER BY query_id
"""


def q_ann_pipeline_end2end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE RAG composite (similarity twin of curation_pipeline_end2end):
    the retrieve-side funnel a RAG stack runs end-to-end — token-budget
    chunking (``chunk_documents_tokens`` 64/8) → chunk-level exact
    fingerprint dedup (md5 of whitespace-normalized lowercase chunk
    text, keep lowest chunk id) → embed-join (docs retaining ≥1 unique
    chunk join the embeddings table 1:1 on doc_id = vec_id) →
    label-scoped exact retrieval (``filtered_topk`` k=20) → MMR
    diversified selection (``mmr_rerank`` k=5, λ=0.5, consuming the
    retrieval stage via its ``candidates`` hook — no second corpus
    pass).  Emits the per-stage survivor/candidate counts plus an
    integer pick-checksum binding the identity of every final
    (query, rank, neighbor) pick — all integers, hash-exact against
    the staged CTE composition in SQL.

    Scale shape: the chunk fingerprints are materialized ONCE as
    scalar rows (two longs + a 16-byte md5 — never the chunk text),
    the corpus once at embeddings width; retrieval is the one
    corpus-sized gemm pass (broadcast query matrix, no vector
    shuffle) and the MMR loop touches only ≤20 candidate rows per
    query.  Every leg is an individually driver-green operator; the
    composite hash-checks their composition."""
    from ..operators.curation import chunk_documents_tokens
    from ..operators.similarity import filtered_topk, mmr_rerank

    d = read_table(spark, sf_dir, "documents")
    e = read_table(spark, sf_dir, "embeddings")
    chunks = chunk_documents_tokens(d, chunk_tokens=64, overlap_tokens=8)
    fp = F.md5(F.trim(F.regexp_replace(F.lower("chunk_text"), r"\s+", " ")))
    ch = cut(
        chunks.select(
            "doc_id",
            (F.col("doc_id") * 10_000 + F.col("chunk_idx")).alias("chunk_id"),
            fp.alias("_fp"),
        )
    )
    winners = ch.groupBy("_fp").agg(F.min("chunk_id").alias("chunk_id"))
    uniq = ch.join(winners.select("chunk_id"), "chunk_id", "semi")
    corpus = cut(
        e.join(
            uniq.select(F.col("doc_id").alias("vec_id")).distinct(), "vec_id", "semi"
        )
    )
    queries = corpus.where(F.col("vec_id") % 50 == 0)
    retrieved = cut(filtered_topk(corpus, queries, k=20))
    picks = mmr_rerank(corpus, queries, k=5, lam=0.5, candidates=retrieved)

    def cnt(df: DataFrame, stage: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(stage).alias("stage"), "n"
        )

    checksum = picks.agg(
        F.sum(
            F.col("query_id") * 131
            + F.col("rank").cast("bigint") * 17
            + F.col("neighbor_id") * 7
        ).alias("n")
    ).select(F.lit("07_pick_checksum").alias("stage"), "n")
    return (
        cnt(d, "00_docs")
        .unionByName(cnt(ch, "01_chunks"))
        .unionByName(cnt(uniq, "02_unique_chunks"))
        .unionByName(cnt(corpus, "03_corpus_docs"))
        .unionByName(cnt(queries, "04_queries"))
        .unionByName(cnt(retrieved, "05_retrieval_candidates"))
        .unionByName(cnt(picks, "06_mmr_picks"))
        .unionByName(checksum)
        .orderBy("stage")
    )


def _rag_pipeline_sql(k: int = 5, n_cand: int = 20, lam: float = 0.5) -> str:
    """Staged CTE mirror of q_ann_pipeline_end2end: chunk (the
    curation_chunk_tokens CTE at 64/8) → fingerprint dedup → corpus →
    label-filtered top-n_cand rel → the same unrolled greedy MMR as
    _mmr_oracle_sql (rel/sim redefined over the filtered candidates)
    → stage counts + the integer pick checksum.

    The re-read CTEs (chunks, corpus, rel, sim and the pc{t} pick
    chain) are ``MATERIALIZED``: inlined, each pc{t} re-derives rel and
    sim per reference, and the query ran out of memory at 12.5 GiB;
    materialized, it runs in about 0.3 s at sf0.001 with the same
    rows."""
    from .curation_q import _BPE_RE_SQL

    parts = [
        f"""
WITH tk AS (
  SELECT doc_id, toks, len(toks) AS n,
         greatest(CAST(ceil((len(toks) - 64) / 56.0) AS BIGINT), 0) AS k
  FROM (SELECT doc_id, regexp_extract_all(text, {_BPE_RE_SQL}) AS toks
        FROM documents)
  WHERE len(toks) > 0
),
chunks AS MATERIALIZED (
  SELECT doc_id, doc_id * 10000 + i AS chunk_id,
         md5(trim(regexp_replace(lower(array_to_string(
           list_slice(toks, CAST(i * 56 + 1 AS BIGINT),
                      CAST(i * 56 + 64 AS BIGINT)), '')),
           '\\s+', ' ', 'g'))) AS fp
  FROM tk, unnest(range(0, k + 1)) AS u(i)
),
uniq AS (
  SELECT doc_id, chunk_id FROM chunks
  WHERE chunk_id IN (SELECT MIN(chunk_id) FROM chunks GROUP BY fp)
),
corpus AS MATERIALIZED (
  SELECT vec_id, label, embedding::DOUBLE[] AS v,
         sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
  FROM embeddings WHERE vec_id IN (SELECT DISTINCT doc_id FROM uniq)
),
q AS (SELECT vec_id AS qid, label AS ql, v AS qv, nrm AS qn
      FROM corpus WHERE vec_id % 50 = 0),
rel AS MATERIALIZED (
  SELECT qid, vid, r FROM (
    SELECT q.qid, c.vec_id AS vid,
           list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * c.v[i]))
             / (qn * c.nrm) AS r
    FROM q JOIN corpus c ON q.qid != c.vec_id AND q.ql = c.label
  ) QUALIFY ROW_NUMBER() OVER (PARTITION BY qid ORDER BY r DESC, vid) <= {n_cand}
),
sim AS MATERIALIZED (
  SELECT ra.qid, ra.vid AS va, rb.vid AS vb,
         list_sum(list_transform(range(1, len(ea.v) + 1), i -> ea.v[i] * eb.v[i]))
           / (ea.nrm * eb.nrm) AS s
  FROM rel ra JOIN rel rb ON ra.qid = rb.qid AND ra.vid != rb.vid
  JOIN corpus ea ON ea.vec_id = ra.vid
  JOIN corpus eb ON eb.vec_id = rb.vid
),
p1 AS (
  SELECT qid, vid FROM rel
  QUALIFY ROW_NUMBER() OVER (PARTITION BY qid ORDER BY r DESC, vid) = 1
),
pc1 AS MATERIALIZED (SELECT qid, vid, 1 AS rank FROM p1)"""
    ]
    for t in range(2, k + 1):
        parts.append(f""",
sc{t} AS (
  SELECT r.qid, r.vid, {lam} * r.r - {1.0 - lam} * MAX(s.s) AS score
  FROM rel r
  JOIN sim s ON s.qid = r.qid AND s.va = r.vid
  JOIN pc{t - 1} p ON p.qid = s.qid AND p.vid = s.vb
  WHERE NOT EXISTS (
    SELECT 1 FROM pc{t - 1} x WHERE x.qid = r.qid AND x.vid = r.vid)
  GROUP BY r.qid, r.vid, r.r
),
p{t} AS (
  SELECT qid, vid FROM sc{t}
  QUALIFY ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, vid) = 1
),
pc{t} AS MATERIALIZED (
  SELECT * FROM pc{t - 1}
  UNION ALL SELECT qid, vid, {t} AS rank FROM p{t}
)""")
    parts.append(f"""
SELECT * FROM (
  SELECT '00_docs' AS stage, COUNT(*)::BIGINT AS n FROM documents
  UNION ALL SELECT '01_chunks', COUNT(*)::BIGINT FROM chunks
  UNION ALL SELECT '02_unique_chunks', COUNT(*)::BIGINT FROM uniq
  UNION ALL SELECT '03_corpus_docs', COUNT(*)::BIGINT FROM corpus
  UNION ALL SELECT '04_queries', COUNT(*)::BIGINT FROM q
  UNION ALL SELECT '05_retrieval_candidates', COUNT(*)::BIGINT FROM rel
  UNION ALL SELECT '06_mmr_picks', COUNT(*)::BIGINT FROM pc{k}
  UNION ALL SELECT '07_pick_checksum',
         CAST(SUM(qid * 131 + rank * 17 + vid * 7) AS BIGINT) FROM pc{k}
) ORDER BY stage
""")
    return "".join(parts)


QUERIES = {
    "ann_pipeline_end2end": q_ann_pipeline_end2end,
    "ann_hybrid_rrf": q_hybrid_rrf,
    "ann_ivf_incremental": q_ann_ivf_incremental,
    "ann_recall_audit": q_ann_recall_audit,
    "ann_matryoshka_audit": q_ann_matryoshka,
    "ann_quantized_recall": q_ann_quantized_recall,
    "ann_ivfpq_rescored": q_ann_ivfpq_rescored,
    "ann_maxsim_topk": q_ann_maxsim,
    "ann_bruteforce_topk": q_ann_bruteforce,
    "ann_lsh_topk": q_ann_lsh,
    "ann_ivf_topk": q_ann_ivf,
    "ann_ivf_exhaustive": q_ann_ivf_exhaustive,
    "ann_ivf_refined": q_ann_ivf_refined,
    "ann_ivf_refined_exhaustive": q_ann_ivf_refined_exhaustive,
    "ann_filtered": q_ann_filtered,
    "ann_hard_negatives": q_ann_hard_negatives,
    "ann_ivf_filtered_exhaustive": q_ann_ivf_filtered_exhaustive,
    "ann_filtered_recall": q_ann_filtered_recall,
    "ann_mmr_rerank": q_ann_mmr_rerank,
    "ann_pq_rescored": q_ann_pq_rescored,
    "ann_pq_exhaustive": q_ann_pq_exhaustive,
    "ann_ivfpq_exhaustive": q_ann_ivfpq_exhaustive,
    "embedding_covariance": q_embedding_covariance,
    "embedding_pca": q_embedding_pca,
    "embedding_pca2_exact": q_embedding_pca2_exact,
    "ann_quantized_topk": q_ann_quantized,
    "ann_quantized_rescored": q_ann_quantized_rescored,
    "kmeans_clusters": q_kmeans,
}
ORACLES = {
    "ann_pipeline_end2end": _rag_pipeline_sql(),
    "ann_hybrid_rrf": _rrf_oracle_sql(),
    "ann_ivf_incremental": _ANN_IVF_INCR_SQL,
    "ann_recall_audit": _ANN_RECALL_SQL,
    "ann_maxsim_topk": _maxsim_oracle_sql(),
    "ann_hard_negatives": _ANN_HARD_NEGATIVES_SQL,
    "ann_matryoshka_audit": _matryoshka_oracle_sql(),
    "ann_quantized_recall": _ANN_QUANTIZED_RECALL_SQL,
    "embedding_covariance": _COVARIANCE_SQL,
    "embedding_pca2_exact": _PCA2_EXACT_SQL,
    "ann_bruteforce_topk": _ANN_BRUTE_SQL,
    "ann_ivf_topk": _ANN_IVF_SQL,
    "ann_ivf_exhaustive": _ANN_BRUTE_SQL,
    "ann_ivf_refined_exhaustive": _ANN_BRUTE_SQL,
    "ann_filtered": _ANN_FILTERED_SQL,
    "ann_ivf_filtered_exhaustive": _ANN_FILTERED_SQL,
    "ann_filtered_recall": _ANN_FILTERED_RECALL_SQL,
    "ann_mmr_rerank": _mmr_oracle_sql(),
    "ann_pq_exhaustive": _ANN_BRUTE_SQL,
    "ann_ivfpq_exhaustive": _ANN_BRUTE_SQL,
    "ann_quantized_topk": _ANN_QUANTIZED_SQL,
    "ann_quantized_rescored": _ANN_QUANTIZED_RESCORED_SQL,
    "ann_lsh_topk": _lsh_oracle_sql(),
    "kmeans_clusters": _kmeans_oracle_sql(),
}
