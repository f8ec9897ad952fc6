"""Deduplication operators for large-scale text pipelines.

Seven families, all expressed as DataFrame plans (SURVEY.md §7.2 phase 3;
north-star scope in BASELINE.json):

* exact          — hash-groupBy on a text fingerprint (+ the incremental
                   ingest-vs-history variant)
* MinHash+LSH    — shingle → signature → banded bucket join → verify
* SimHash        — 64-bit sign-aggregated token hashes, hamming candidates
* n-gram Jaccard — inverted-index self-join with exact set overlap
* embedding      — exact distributed block-gemm pairs AND the
                   sub-quadratic hyperplane-LSH bucket path
* winnowing      — MOSS local fingerprints for PARTIAL-overlap detection
                   (copied passages, not whole-document similarity)

Scale posture: signatures are computed per-row (higher-order functions
or Arrow-vectorized numpy where the interpreted form measured 50-1000×
slower — each such case carries its measurement); candidate generation
only ever joins on band/bucket/fingerprint keys (never all-pairs);
verification touches candidate pairs only.  Buckets and posting lists
are capped so a degenerate key cannot serialize a task (the classic
LSH/boilerplate skew hazard).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import cut


def _widen(df: DataFrame) -> DataFrame:
    """Raise occupancy for narrow inputs only: a tiny local parquet
    arrives as 1-2 splits and would serialize the signature stage, so
    fan it out to ``defaultParallelism``.  When the source is already at
    least that wide (a 100 TB scan arrives with thousands of splits) the
    exchange would be pure cost — skip it.  The partition probe plans
    but never runs a job."""
    p = df.sparkSession.sparkContext.defaultParallelism
    return df if df.rdd.getNumPartitions() >= p else df.repartition(p)


# --- exact ------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the smallest id per exact text.  GroupBy rides on a 128-bit
    fingerprint so only 16-byte keys shuffle, never the full text."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("_fp"))
        .groupBy("_fp")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
        .drop("_fp")
    )


def incremental_dedup(
    new_batch: DataFrame,
    history: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental ingest dedup: ids from ``new_batch`` that survive
    (a) within-batch exact dedup (min id per fingerprint) and (b) an
    anti-join against the HISTORICAL corpus's fingerprints — the shape
    every recurring crawl/ingest runs, where re-processing the whole
    corpus per batch is not an option.

    Scale contract: texts never shuffle — both sides reduce to 16-byte
    md5 fingerprints before any exchange; the history side is exactly
    the fingerprint store a production pipeline would persist (and with
    a bucketed store, sources/bucketing.py makes the anti-join
    exchange-free on the batch side only).
    """
    fp = F.md5(F.col(text_col))
    b = (
        new_batch.select(F.col(id_col), fp.alias("_fp"))
        .groupBy("_fp")
        .agg(F.min(id_col).alias(id_col))
    )
    h = history.select(fp.alias("_fp")).distinct()
    return b.join(h, "_fp", "left_anti").select(id_col)


# --- shingling / MinHash ----------------------------------------------------


def shingle_expr(text_col: str, k: int = 9, lowered: bool = False) -> F.Column:
    """Distinct lowercase character k-shingles, computed per-row (no
    explode).  Pass ``lowered=True`` with a pre-lowered MATERIALIZED
    column: referencing ``lower(text)`` inside the transform lambda
    re-runs the O(len) lowercasing per shingle position — the
    O(len²)-per-document interpreted-HOF pattern (r08) — while
    substring over a bound attribute is cheap."""
    src = text_col if lowered else f"lower({text_col})"
    return F.expr(
        f"array_distinct(transform(sequence(1, greatest(length({src}) - {k - 1}, 1)),"
        f" i -> substring({src}, i, {k})))"
    )


_MERSENNE = 2147483647  # 2^31 - 1


def shingle_hashes_expr(shingles_col: str) -> F.Column:
    """31-bit base hash per shingle — the only string hashing in MinHash,
    done exactly once per shingle."""
    return F.expr(f"transform({shingles_col}, s -> xxhash64(s) & {_MERSENNE}L)")


def minhash_signature_udf(num_hashes: int = 63, seed: int = 42):
    """Arrow-vectorized MinHash signature: one numpy (|shingles| × k)
    broadcasted min per row.

    Spark's higher-order functions are interpreted (no whole-stage
    codegen for lambda expressions), so a pure-expression form of the
    same (a·h + b) mod p family costs ~100 ns per (shingle, k) pair —
    measured 15 s for 5 000 docs × 64 hashes.  The same arithmetic in
    numpy over Arrow batches is ~20 µs per row (~50× faster
    end-to-end), which is why this one stage breaks the
    built-ins-only rule."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    import random

    rng = random.Random(seed)
    a = np.array([rng.randrange(1, _MERSENNE) for _ in range(num_hashes)], dtype=np.uint64)
    b = np.array([rng.randrange(0, _MERSENNE) for _ in range(num_hashes)], dtype=np.uint64)

    # NB: annotations must be real types here (module has `from
    # __future__ import annotations`, which would stringify hints and
    # break pandas_udf's type inference) — so hint via locals:
    def _sig(hs):
        return _sig_impl(hs)

    _sig.__annotations__ = {"hs": pd.Series, "return": pd.Series}

    def _sig_impl(hs):
        out = []
        for h in hs:
            h = np.asarray(h, dtype=np.uint64)  # base hashes < 2^31
            if h.size == 0:
                out.append(np.full(num_hashes, _MERSENNE, dtype=np.int64))
                continue
            # h < 2^31 and a < 2^31 ⇒ products < 2^62: no uint64 overflow
            m = (h[:, None] * a[None, :] + b[None, :]) % _MERSENNE
            out.append(m.min(axis=0).astype(np.int64))
        return pd.Series(out)

    return pandas_udf("array<bigint>")(_sig)


def minhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 63,
    bands: int = 21,
    shingle_k: int = 9,
    max_bucket: int = 200,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH.

    Parameter choice is driven by measured separation on text corpora:
    char-9-shingles put unrelated docs at J ≈ 0.02 (max ≈ 0.1 over 20k
    sampled pairs) while near-dups sit at J ≥ 0.8, so bands=21 ×
    rows-per-band=3 gives P(miss) = (1-J³)²¹ ≤ 2e-8 at J = 0.83 and a
    background collision rate of J³·21 ≈ 3e-4 — candidates stay linear
    in the corpus, not quadratic.  (rows-per-band=2 with 5-shingles,
    the naive choice, admitted ~20 % of ALL pairs as candidates:
    background J ≈ 0.17 and (1-J²)·32 band draws is far too loose.)
    Buckets larger than ``max_bucket`` are dropped — a degenerate key
    (e.g. boilerplate-heavy shingles) would otherwise produce a
    quadratic task.
    """
    hs_tbl = shingle_hash_table(df, text_col, id_col, shingle_k)
    return minhash_candidates_from_hashes(hs_tbl, id_col, num_hashes, bands, max_bucket)


def shingle_hash_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 9,
) -> DataFrame:
    """(id, hs: array<long>) — one shingling+hashing pass over the corpus,
    eagerly checkpointed because BOTH candidate generation and Jaccard
    verification consume it (without pinning, the most expensive stage of
    the pipeline would execute once per consumer branch).  The cut is
    ``session.cut``: reliable once the context has a checkpoint dir."""
    src = _widen(df.select(F.col(id_col), F.col(text_col)))
    lc = src.select(F.col(id_col), F.lower(F.col(text_col)).alias("_lc"))
    return cut(
        lc.select(
            F.col(id_col), shingle_expr("_lc", shingle_k, lowered=True).alias("sh")
        )
        .select(F.col(id_col), shingle_hashes_expr("sh").alias("hs"))
    )


def _minhash_family(num_hashes: int, seed: int):
    """The shared (a·h + b) mod 2³¹−1 hash family, as numpy arrays —
    one definition so the expression path and the fused Arrow path
    produce signatures from identical coefficients."""
    import random

    import numpy as np

    rng = random.Random(seed)
    a = np.array(
        [rng.randrange(1, _MERSENNE) for _ in range(num_hashes)], dtype=np.uint64
    )
    b = np.array(
        [rng.randrange(0, _MERSENNE) for _ in range(num_hashes)], dtype=np.uint64
    )
    return a, b


def shingle_minhash_table_fast(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 9,
    num_hashes: int = 63,
    seed: int = 42,
    bands: int | None = None,
) -> DataFrame:
    """(id, hs, sig) in ONE Arrow pass over the raw text — the fused
    fast path for the MinHash pipeline (same shape as the
    ``char_entropy_fast`` kernel in textops).

    The expression path pays for three interpreted higher-order stages
    per document (substring transform → array_distinct → xxhash64
    transform) before the signature UDF even starts; here the k-gram
    hashes come from one vectorized polynomial rolling hash over the
    UTF-32 codepoints (uint64 wraparound arithmetic, numpy
    sliding-window view — no per-shingle Python, no per-shingle string
    allocation) and the signature is the same (a·h+b) mod p family
    applied to the SAME batch while it is hot in cache.  One Python
    worker round-trip instead of two, zero JVM lambda interpretation.

    The hash VALUES differ from the xxhash64 expression path — harmless
    by design: ``hs`` only ever feeds set intersections (Jaccard is
    hash-family-agnostic) and ``sig`` only ever feeds LSH banding, whose
    recall bound (1-(1-J^r)^bands, P(miss) ≤ 2e-8 at J = 0.83 with the
    default 21×3) holds for any uniform family.  Exact-Jaccard
    verification downstream keeps precision exact either way;
    tests/test_llm_ops.py pins fast == slow on the FINAL verified
    pairs.

    ``bands`` (optional) additionally emits a ``buckets array<bigint>``
    column — the per-band LSH bucket keys, hashed from the signature
    slices while the batch is hot — so the banding stage downstream is a
    plain explode instead of an interpreted
    transform/xxhash64/slice expression chain over every signature
    (measured: the expression-side banding was the single largest cost
    of the pipeline at sf0.1).  Bucket keys embed the band index; any
    uniform family preserves the banding recall bound, so the family
    need not match the expression path's xxhash64."""
    import numpy as np
    import pandas as pd

    a, b = _minhash_family(num_hashes, seed)
    base = np.uint64(1099511628211)  # FNV-64 prime, odd ⇒ full-period mod 2^64
    pows = np.empty(shingle_k, dtype=np.uint64)
    pows[-1] = np.uint64(1)
    with np.errstate(over="ignore"):  # uint64 wraparound IS the modulus
        for i in range(shingle_k - 2, -1, -1):
            pows[i] = pows[i + 1] * base
    empty = np.array([], dtype=np.int64)
    sig_empty = np.full(num_hashes, _MERSENNE, dtype=np.int64)
    if bands is not None:
        rows_per_band = num_hashes // bands
        if rows_per_band == 0:
            # bands > num_hashes would make every per-band key a pure band
            # offset (identical across documents): banding degenerates into
            # max_bucket-capped full-corpus buckets with silently collapsed
            # recall/precision. Refuse loudly instead.
            raise ValueError(
                f"shingle_minhash_table_fast: bands={bands} exceeds "
                f"num_hashes={num_hashes} (rows_per_band would be 0)"
            )
        # vectorized bucket key: band-index base + polynomial combine of
        # the band's signature rows (uint64 wraparound modulus) — any
        # uniform family works, bucket keys only ever feed grouping
        bmul = np.empty((bands, rows_per_band), dtype=np.uint64)
        for bi in range(bands):
            for r in range(rows_per_band):
                bmul[bi, r] = np.uint64(
                    pow(0x9E3779B97F4A7C15, bi * rows_per_band + r + 1, 1 << 64)
                )
        boff = (np.arange(bands, dtype=np.uint64) + np.uint64(1)) * np.uint64(
            0xC2B2AE3D27D4EB4F
        )

        def _bucket_keys(sigv: "np.ndarray") -> "np.ndarray":
            sl = sigv.view(np.uint64)[: bands * rows_per_band].reshape(
                bands, rows_per_band
            )
            return ((sl * bmul).sum(axis=1, dtype=np.uint64) + boff).view(np.int64)

        buckets_empty = _bucket_keys(sig_empty)

    def batches(it):
        for pdf in it:
            ids = pdf[id_col]
            hs_out, sig_out = [], []
            bk_out = [] if bands is not None else None
            for t in pdf[text_col]:
                if t is None:
                    hs_out.append(empty)
                    sig_out.append(sig_empty)
                    if bk_out is not None:
                        bk_out.append(buckets_empty)
                    continue
                codes = np.frombuffer(
                    t.lower().encode("utf-32-le"), dtype=np.uint32
                ).astype(np.uint64)
                if codes.size <= shingle_k:
                    # mirrors the expression path's single whole-text
                    # shingle for short docs: one window, one hash
                    h = np.array(
                        [(codes * pows[: codes.size]).sum(dtype=np.uint64)],
                        dtype=np.uint64,
                    )
                else:
                    win = np.lib.stride_tricks.sliding_window_view(
                        codes, shingle_k
                    )
                    h = (win * pows[None, :]).sum(axis=1, dtype=np.uint64)
                hs = np.unique(h)
                hr = hs % np.uint64(_MERSENNE)
                # hr < 2^31, a < 2^31 ⇒ products < 2^62: no wraparound
                m = (hr[:, None] * a[None, :] + b[None, :]) % np.uint64(_MERSENNE)
                sigv = m.min(axis=0).astype(np.int64)
                hs_out.append(hs.view(np.int64))
                sig_out.append(sigv)
                if bk_out is not None:
                    bk_out.append(_bucket_keys(sigv))
            cols = {id_col: ids, "hs": hs_out, "sig": sig_out}
            if bk_out is not None:
                cols["buckets"] = bk_out
            yield pd.DataFrame(cols)

    src = _widen(df.select(F.col(id_col), F.col(text_col)))
    schema = f"{id_col} bigint, hs array<bigint>, sig array<bigint>"
    if bands is not None:
        schema += ", buckets array<bigint>"
    return src.mapInPandas(batches, schema)


def banded_pairs_from_sig(
    sig_tbl: DataFrame,
    id_col: str = "doc_id",
    bands: int = 21,
    rows_per_band: int = 3,
    max_bucket: int = 200,
) -> DataFrame:
    """Banding + bucket-join from a precomputed (id, sig) table — the
    shared tail of both signature paths."""
    # Bucket key embeds the band index, so each doc lands in exactly one
    # bucket per band — no distinct needed before grouping.
    banded = sig_tbl.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands - 1}),"
                f" b -> xxhash64(b, slice(sig, b * {rows_per_band} + 1, {rows_per_band})))"
            )
        ).alias("bucket"),
    )
    # One shuffle total for candidate generation: group ids per bucket,
    # cap the bucket (skew guard), emit in-bucket pair combinations with
    # a per-row nested transform.  No self-join → the signature pipeline
    # runs exactly once.
    buckets = (
        banded.groupBy("bucket")
        .agg(F.collect_list("_id").alias("ids"))
        .where(F.size("ids").between(2, max_bucket))
    )
    pairs = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (x, i) -> transform(slice(ids, i + 2, size(ids)),"
                " y -> struct(least(x, y) AS a, greatest(x, y) AS b))))"
            )
        ).alias("p")
    )
    return pairs.select(F.col("p.a").alias("id_a"), F.col("p.b").alias("id_b")).distinct()


def banded_pairs_from_buckets(
    tbl: DataFrame,
    id_col: str = "doc_id",
    max_bucket: int = 200,
) -> DataFrame:
    """Banding tail over PRECOMPUTED per-band bucket keys (the fused
    kernel's ``buckets`` column): explode → group → in-bucket pair
    combinations — same shuffle shape as :func:`banded_pairs_from_sig`
    minus the interpreted signature-slicing expressions."""
    banded = tbl.select(
        F.col(id_col).alias("_id"), F.explode("buckets").alias("bucket")
    )
    buckets = (
        banded.groupBy("bucket")
        .agg(F.collect_list("_id").alias("ids"))
        .where(F.size("ids").between(2, max_bucket))
    )
    pairs = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (x, i) -> transform(slice(ids, i + 2, size(ids)),"
                " y -> struct(least(x, y) AS a, greatest(x, y) AS b))))"
            )
        ).alias("p")
    )
    return pairs.select(F.col("p.a").alias("id_a"), F.col("p.b").alias("id_b")).distinct()


def minhash_candidates_from_hashes(
    hs_tbl: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 63,
    bands: int = 21,
    max_bucket: int = 200,
) -> DataFrame:
    rows_per_band = num_hashes // bands
    sig = hs_tbl.select(
        id_col, minhash_signature_udf(num_hashes)(F.col("hs")).alias("sig")
    )
    return banded_pairs_from_sig(sig, id_col, bands, rows_per_band, max_bucket)


def jaccard_verify(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 9,
    threshold: float = 0.6,
    hashes: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard on candidate pairs only (never all-pairs).
    Integer-ratio arithmetic → deterministic doubles.

    The intersection runs over 64-bit shingle *hashes*, not the strings:
    same Jaccard (xxhash64 collisions are ~|shingles|²/2⁶⁴ ≈ 1e-7 on a
    5k-doc corpus, and parity with the string-based oracle is asserted),
    but the arrays are 8-byte longs instead of 9-char strings — cheaper
    to shuffle and to hash-probe.

    ``hashes`` (from ``shingle_hash_table``) lets callers reuse the
    pipeline's one shingling pass; when absent, shingles are computed
    only for docs that appear in some candidate pair (semi-join first) —
    at scale candidates are a vanishing fraction of the corpus.

    ``pairs`` feeds multiple branches (ids-union + final join) and is
    pinned through an eager ``session.cut`` — candidate-sized, tiny.
    r14 note: an experiment dropping this cut when ``hashes`` is
    provided (single consumer) measured consistently
    SLOWER end-to-end (dedup_minhash ~2.6 vs ~2.0 s, cluster_sizes
    ~3.3 vs ~2.3 s interleaved A/B): materialized candidate sizes let
    AQE plan the verify join from exact stats, which beats saving the
    checkpoint job — so the eager cut stays unconditional."""
    pairs = cut(pairs)
    if hashes is None:
        ids = (
            pairs.select(F.col("id_a").alias(id_col))
            .union(pairs.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        needed = df.join(ids, id_col, "semi")
        hashes = shingle_hash_table(needed, text_col, id_col, shingle_k)
    a = hashes.select(F.col(id_col).alias("id_a"), F.col("hs").alias("hs_a"))
    b = hashes.select(F.col(id_col).alias("id_b"), F.col("hs").alias("hs_b"))
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    union = F.size("hs_a") + F.size("hs_b") - inter
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    num_hashes: int = 63,
    bands: int = 21,
    shingle_k: int = 9,
    max_bucket: int = 200,
    fast: bool = True,
    table: DataFrame | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline sharing ONE shingling pass:
    hash table → banded candidates → exact-Jaccard verification.
    The shared pass and the candidate set are cut through ``session.cut``
    (reliable once the context has a checkpoint dir).

    ``fast=True`` (default) computes shingle hashes AND signatures in a
    single fused Arrow kernel (:func:`shingle_minhash_table_fast`);
    ``fast=False`` keeps the two-stage expression+UDF formulation —
    identical FINAL pairs (pytest-pinned), different hash family.

    Negative result pinned (r15, ``git show
    de8968f:plans/r15/ab_dedup_cuts.py``): dropping
    the candidate-pairs eager cut (pairs uncut, sign table still cut)
    to save one serialized driver job was re-measured for the
    construction-dominated single-consumer queries
    (dedup_keep_best / dedup_cluster_sizes, where the pairs feed one
    bounded CC collect rather than the final action) — and LOST both
    times: 1.71 → 2.35 s and 1.81 → 2.28 s (quiet interleaved min-of-4,
    outputs asserted row-identical).  The r14 rationale holds in the
    small-path era too: AQE plans the verify join from the cut frame's
    exact stats.  The eager pairs cut stays.

    ``table`` (fast path only): a PRECOMPUTED, already-checkpointed
    fused table for ``df`` — ``shingle_minhash_table_fast(df, …,
    bands=bands)`` with the same parameters.  This is the stored-table
    production shape (sources/sinks.py): a caller that needs the same
    corpus signed for several passes (e.g. a full-corpus pass AND an
    incremental pass over the same history) pays the one corpus-sized
    Arrow pass once instead of once per consumer."""
    if fast:
        # The fused table feeds two consumers whose stages run
        # CONCURRENTLY in the final job (the banding shuffle and the
        # verify-join hash exchanges), so a lazy pin would compute the
        # Arrow pass once per racing stage — the EAGER checkpoint that
        # materializes it first is load-bearing, not overhead
        # (measured r14: lazy persist regressed dedup_minhash ~2x).
        tbl = table if table is not None else cut(
            shingle_minhash_table_fast(
                df, text_col, id_col, shingle_k, num_hashes, bands=bands
            )
        )
        cand = banded_pairs_from_buckets(
            tbl.select(id_col, "buckets"), id_col, max_bucket
        )
        return jaccard_verify(
            df, cand, text_col, id_col, shingle_k, threshold,
            hashes=tbl.select(id_col, "hs"),
        )
    hs_tbl = shingle_hash_table(df, text_col, id_col, shingle_k)
    cand = minhash_candidates_from_hashes(hs_tbl, id_col, num_hashes, bands, max_bucket)
    return jaccard_verify(
        df, cand, text_col, id_col, shingle_k, threshold,
        hashes=hs_tbl,
    )


def near_dedup_minhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    **kw,
) -> DataFrame:
    """Greedy near-dedup: drop any doc that duplicates a smaller-id doc.
    (Deterministic single pass; full connected components would need
    iterative joins — overkill for dedup, where greedy-by-id is the
    standard large-pipeline choice.)"""
    pairs = minhash_near_dup_pairs(df, text_col, id_col, threshold=threshold, **kw)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "anti")


# --- SimHash ----------------------------------------------------------------


def token_hashes_expr(text_col: str) -> F.Column:
    """One xxhash64 per whitespace token — materialize this in its own
    select so the 64 bit-probes below never re-hash strings."""
    return F.expr(
        f"transform(filter(split(lower({text_col}), '\\\\s+'), t -> t != ''),"
        " t -> xxhash64(t))"
    )


def simhash_from_hashes_expr(hashes_col: str) -> F.Column:
    """64-bit SimHash from precomputed token hashes: bit b is set iff the
    sum of ±1 contributions (bit b of each hash) is positive — pure
    integer higher-order functions, per-row, no shuffle."""
    return F.expr(
        "aggregate(sequence(0, 63), cast(0 as bigint), (acc, b) -> acc + "
        f"(case when aggregate({hashes_col}, 0, (s, h) -> s + "
        "(case when (shiftright(h, b) & 1) = 1 then 1 else -1 end)) > 0 "
        "then shiftleft(cast(1 as bigint), b) else cast(0 as bigint) end))"
    )


def simhash_expr(text_col: str) -> F.Column:
    """Convenience single-expression form (tests); prefer the two-step
    ``token_hashes_expr`` → ``simhash_from_hashes_expr`` in plans."""
    return simhash_from_hashes_expr(f"transform(filter(split(lower({text_col}), '\\\\s+'), t -> t != ''), t -> xxhash64(t))")


def simhash_from_hashes_udf(n_bits: int = 64):
    """numpy SimHash over Arrow batches — integer-identical to
    ``simhash_from_hashes_expr`` (bit b set iff Σ±1 > 0, sign from bit b
    of each token hash) but ~50× faster: the nested-aggregate expression
    is interpreted per (bit, token) pair (64×|tokens| lambda evals/row).
    ``n_bits < 64`` folds only the low bits (used by the portable 60-bit
    md5 variant, whose values always fit a signed bigint)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    shifts = np.arange(n_bits, dtype=np.uint64)

    def _sim(hs):
        out = np.zeros(len(hs), dtype=np.int64)
        for i, h in enumerate(hs):
            h = np.asarray(h, dtype=np.uint64)
            if h.size == 0:
                continue
            # ±1 per (token, bit); bit set iff the column sum is positive
            signs = (((h[:, None] >> shifts[None, :]) & 1) << 1).astype(np.int64) - 1
            packed = int(((signs.sum(axis=0) > 0).astype(np.uint64) << shifts).sum(dtype=np.uint64))
            # two's-complement fold to match the JVM's wrapping bigint
            out[i] = packed - (1 << 64) if packed >= (1 << 63) else packed
        return pd.Series(out)

    _sim.__annotations__ = {"hs": pd.Series, "return": pd.Series}
    return pandas_udf("bigint")(_sim)


def portable_token_hashes_expr(text_col: str) -> F.Column:
    """60-bit md5-prefix token hashes — the portable-string-hash
    doctrine (group_aware_split) applied to SimHash: 15 hex chars
    < 2⁶⁰ always fit a signed bigint on BOTH engines, so a DuckDB
    oracle can reproduce the fingerprints bit-for-bit (xxhash64, the
    default family, exists only on the JVM)."""
    return F.expr(
        f"transform(filter(split(lower({text_col}), '\\\\s+'), t -> t != ''),"
        " t -> cast(conv(substr(md5(t), 1, 15), 16, 10) as bigint))"
    )


def simhash_portable(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, simhash) with the 60-bit md5 family — same ±1 bit-vote
    construction as the xxhash64 operator (Arrow kernel), different
    (engine-portable) token hash, so the fingerprint VALUES are
    oracle-checkable rather than rows-only.  Near-dup behavior is
    family-agnostic (Charikar's bound depends only on hash uniformity);
    production keeps the 64-bit JVM family, audits use this one."""
    hs = df.select(
        F.col(id_col), portable_token_hashes_expr(text_col).alias("hs")
    )
    return hs.select(
        F.col(id_col),
        simhash_from_hashes_udf(60)(F.col("hs")).alias("simhash"),
    )


def simhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """EXACT near-dup pairs by SimHash hamming distance: the 64-bit
    signature is partitioned into ``max_hamming + 1`` disjoint chunks,
    so any two signatures within ``max_hamming`` differing bits share at
    least one chunk UNCHANGED (pigeonhole) — candidates come from
    equi-joins on chunk values with guaranteed recall, never all-pairs;
    ``bit_count(xor)`` then filters exactly.

    The default 3 gives the classic 4 x 16-bit multi-index (Manku et
    al.'s near-duplicate detection design).  Raising ``max_hamming``
    keeps recall exact but narrows each chunk (64 / (h+1) bits), so
    bucket collision rates — and candidate volume — grow fast: beyond
    ~7 the chunks are byte-sized and a 100 TB corpus would pay
    quadratic-ish candidates; prefer MinHash at that radius.

    .. note:: the default ``max_hamming`` changed from 8 to 3 in round 3
       (the Manku 4×16-bit design).  Recall stays exact at either value,
       but callers relying on the old wide radius now get a much tighter
       candidate set — pass ``max_hamming=8`` explicitly to keep the old
       behavior.
    """
    src = _widen(df.select(F.col(id_col), F.col(text_col)))
    sh = src.select(F.col(id_col), token_hashes_expr(text_col).alias("hs")).select(
        F.col(id_col), simhash_from_hashes_udf()(F.col("hs")).alias("simhash")
    )
    return hamming_pairs_from_hashes(sh, id_col, "simhash", max_hamming)


def hamming_pairs_from_hashes(
    sig_df: DataFrame,
    id_col: str,
    hash_col: "str | Sequence[str]",
    max_hamming: int,
    max_bucket: int | None = None,
    n_chunks: int | None = None,
) -> DataFrame:
    """EXACT-recall hamming-≤h pairs over ANY 64-bit signature column —
    or a MULTI-WORD signature (a sequence of 64-bit columns treated as
    one concatenated bit string): SimHash, perceptual image dHash,
    audio fingerprints.  The shared pigeonhole tail — partition the
    signature into disjoint chunks, equi-join on chunk values, filter
    with ``bit_count(xor)`` summed across words.

    ``n_chunks`` picks the point on the chunk-width / probe-count
    curve (multi-index hashing, Norouzi et al., CVPR'12):

    * default ``max_hamming + 1`` — the classic design: two signatures
      within h differing bits share ≥1 chunk UNCHANGED, so candidates
      come from exact chunk equi-joins.  Chunk width 64/(h+1) is what
      bounds candidates: at radius 12 over one word that leaves
      4-5-bit chunks (16-32 distinct values — every bucket holds ~n/16
      of the corpus and candidates grow ~n², the r07 VERDICT finding).
    * fewer chunks + probes — with c chunks, a pair within h bits has
      SOME chunk differing by at most d = floor(h/c) bits (if every
      chunk differed by ≥ d+1, the total would exceed h).  The probe
      side therefore also emits every value within d bit-flips of each
      chunk; recall stays EXACT while chunks widen to 64/c bits.  At
      radius 12, ``n_chunks=7`` gives 9-10-bit chunks (d=1, 65 extra
      probe rows per signature) — ~32× fewer candidates per bucket for
      a ~5× bigger probe side: the sub-quadratic operating point for
      wide radii.  d > 2 is refused (probe expansion C(w, d) explodes;
      raise n_chunks instead).

    Chunks never straddle a word boundary (the per-word split keeps
    the shift/mask arithmetic exact); pigeonhole needs only
    disjointness, so an uneven per-word chunk count is fine.

    ``max_bucket`` (None = exact recall) drops index-side chunk
    buckets holding more than that many signatures — the same
    documented recall trade as the MinHash banding path
    (``banded_pairs_from_buckets``): a degenerate chunk value (e.g.
    the all-zero chunk of constant-color images) would otherwise make
    one bucket quadratic at corpus scale.  Pairs agreeing ONLY on
    dropped-hot chunks are missed; pairs sharing any surviving chunk
    are still found exactly."""
    hash_cols = [hash_col] if isinstance(hash_col, str) else list(hash_col)
    n_words = len(hash_cols)
    if n_chunks is None:
        n_chunks = max_hamming + 1
    if n_chunks < 1:
        raise ValueError(f"hamming_pairs_from_hashes: n_chunks={n_chunks} < 1")
    sub_d = max_hamming // n_chunks
    if sub_d > 2:
        raise ValueError(
            f"hamming_pairs_from_hashes: n_chunks={n_chunks} at radius "
            f"{max_hamming} needs per-chunk probe distance {sub_d} > 2 "
            f"(probe expansion explodes) — raise n_chunks"
        )
    idx_pieces, probe_pieces, ci = [], [], 0
    for wi, hc in enumerate(hash_cols):
        # even split of the chunks across words (first words take the
        # remainder); a word with 0 chunks is skipped — recall only
        # needs the chunks to be DISJOINT, not to cover every bit.
        w_chunks = n_chunks // n_words + (1 if wi < n_chunks % n_words else 0)
        if w_chunks == 0:
            continue
        base, rem = divmod(64, w_chunks)
        off = 0
        for j in range(w_chunks):
            w = base + (1 if j < rem else 0)
            # arithmetic shiftright sign-extends the top chunk; the mask
            # truncates back to the w-bit field, so every chunk is exact.
            # A full-width chunk (max_hamming=0) is the signature itself —
            # and 2^64-1 wouldn't fit a long literal anyway.
            v = F.col(hc)
            if w < 64:
                v = F.shiftright(v, off).bitwiseAND(F.lit((1 << w) - 1))
            idx_pieces.append(F.struct(F.lit(ci).alias("c"), v.alias("v")))
            masks = []
            if sub_d >= 1:
                masks += [1 << i for i in range(w)]
            if sub_d >= 2:
                masks += [
                    (1 << i) | (1 << j2)
                    for i in range(w)
                    for j2 in range(i + 1, w)
                ]
            probe_pieces.append(F.struct(F.lit(ci).alias("c"), v.alias("v")))
            # A full-word chunk (w=64, e.g. a 2-word signature with
            # n_chunks=2) puts bit 63 in the flip masks; 1<<63 exceeds
            # the signed-long literal range, so emit the two's-complement
            # representation — the same signed-hash convention the
            # signatures themselves use.  XOR is bit-pattern arithmetic,
            # so the signed reinterpretation is value-exact.
            probe_pieces.extend(
                F.struct(
                    F.lit(ci).alias("c"),
                    v.bitwiseXOR(
                        F.lit(m - (1 << 64) if m >= (1 << 63) else m)
                    ).alias("v"),
                )
                for m in masks
            )
            off += w
            ci += 1

    # Candidate generation is a codegen'd hash JOIN on (chunk, value) —
    # measured faster than the collect_list + higher-order-transform
    # bucket shape (interpreted lambda evaluation) at equal candidate
    # volume.  NOTE: both sides scan sig_df, so an expensive upstream
    # (a mapInPandas media decode) is computed twice — callers with a
    # costly signature stage should pass a cached frame
    # (phash_near_dup_pairs does).
    def _explode(pieces: list) -> DataFrame:
        return sig_df.select(
            id_col, *hash_cols, F.explode(F.array(*pieces)).alias("chunk")
        ).select(
            id_col,
            *hash_cols,
            F.col("chunk.c").alias("c"),
            F.col("chunk.v").alias("v"),
        )

    index_side = _explode(idx_pieces)
    if max_bucket is not None:
        sizes = index_side.groupBy("c", "v").agg(F.count(F.lit(1)).alias("_bn"))
        index_side = index_side.join(
            sizes.where(F.col("_bn") <= max_bucket), ["c", "v"]
        ).drop("_bn")
    probe_side = index_side if sub_d == 0 else _explode(probe_pieces)
    a = probe_side.select(
        F.col(id_col).alias("id_a"),
        *[F.col(h).alias(f"_sa{k}") for k, h in enumerate(hash_cols)],
        "c",
        "v",
    )
    b = index_side.select(
        F.col(id_col).alias("id_b"),
        *[F.col(h).alias(f"_sb{k}") for k, h in enumerate(hash_cols)],
        "c",
        "v",
    )
    ham = " + ".join(f"bit_count(_sa{k} ^ _sb{k})" for k in range(n_words))
    return (
        a.join(b, ["c", "v"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.expr(ham).alias("hamming"),
        )
        # exact-distance filter BEFORE distinct: bit_count is codegen
        # over the joined candidate stream, distinct is a shuffle —
        # filtered first it exchanges only true pairs × their chunk
        # multiplicity instead of the full ~n·probes·bucket volume.
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


# --- n-gram Jaccard (inverted index) ---------------------------------------


def _word_ngrams_frame(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(id, gram) per-doc-DISTINCT word-n-grams, shared by the Jaccard
    and containment inverted indexes.  The token array is MATERIALIZED
    into a projection first: ``slice(split(lower(text)), i, n)`` inside
    the transform lambda re-evaluates the whole split per position —
    the O(len²)-per-document interpreted-HOF pattern found in
    pmi_collocations (r08) — while slicing a bound column is O(n) per
    gram."""
    tt = df.select(
        F.col(id_col), F.split(F.lower(F.col(text_col)), r"\s+").alias("_t")
    )
    return tt.select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"array_distinct(transform(sequence(1, greatest(size(_t) - {n - 1}, 1)),"
                f" i -> array_join(slice(_t, i, {n}), ' ')))"
            )
        ).alias("gram"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_postings: int = 500,
) -> DataFrame:
    """Word-n-gram Jaccard via an inverted index: explode distinct
    n-grams, self-join postings lists, count shared grams per pair, then
    Jaccard from per-doc gram counts.

    The df-cut makes this an APPROXIMATION, not exact Jaccard:
    ``max_postings`` drops stop-grams whose postings would explode
    quadratically (standard IR practice), and singleton grams (df=1)
    can never produce a match — so intersections count only grams with
    df in [2, max_postings] while the union denominator counts all
    grams.  Scores are therefore systematically ≤ true Jaccard, and a
    pair sharing ONLY ultra-common grams is not emitted at all.  The
    SQL oracle mirrors the identical cut; for exact scores on known
    pairs use ``jaccard_verify``."""
    df = _widen(df)
    grams = _word_ngrams_frame(df, text_col, id_col, n)
    sizes = grams.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_grams"))
    hot = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("_df")).where(
        F.col("_df").between(2, max_postings)
    ).select("gram")
    g = grams.join(hot, "gram")
    a = g.select(F.col("gram"), F.col(id_col).alias("id_a"))
    b = g.select(F.col("gram"), F.col(id_col).alias("id_b"))
    inter = (
        a.join(b, "gram")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_grams").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_grams").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double")
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 4,
    threshold: float = 0.5,
    max_postings: int = 500,
) -> DataFrame:
    """DIRECTED n-gram containment C(a→b) = |S(a)∩S(b)| / |S(a)| ≥ τ —
    the sub-document-duplication detector Jaccard structurally misses:
    a short doc fully embedded in a much longer one has tiny Jaccard
    (union is dominated by the long doc) but containment ≈ 1.  This is
    the Broder (1997) containment coefficient, the standard quote/
    boilerplate/excerpt screen in web-corpus curation.

    Same inverted-index shape and df-cut approximation as
    :func:`ngram_jaccard_pairs` (postings with df in [2, max_postings];
    singleton grams can't match, stop-grams are dropped — scores are ≤
    true containment, mirrored exactly in the oracle).  Directional:
    both (a,b) and (b,a) are evaluated; only directions clearing τ are
    emitted.  The postings self-join is linear in (capped) postings
    mass, the same 100 TB posture as the Jaccard path."""
    df = _widen(df)
    grams = _word_ngrams_frame(df, text_col, id_col, n)
    sizes = grams.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_grams"))
    hot = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("_df")).where(
        F.col("_df").between(2, max_postings)
    ).select("gram")
    g = grams.join(hot, "gram")
    a = g.select(F.col("gram"), F.col(id_col).alias("id_a"))
    b = g.select(F.col("gram"), F.col(id_col).alias("id_b"))
    inter = (
        a.join(b, "gram")
        .where(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_grams").alias("n_a"))
    return (
        inter.join(sa, "id_a")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter").cast("double") / F.col("n_a").cast("double")
            ).alias("containment"),
        )
        .where(F.col("containment") >= threshold)
    )


def decontaminate_pairs(
    train: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 4,
    threshold: float = 0.5,
    max_postings: int = 500,
) -> DataFrame:
    """Train-vs-eval CONTAMINATION sweep — the audit every pretraining
    pipeline runs before training (e.g. GPT-3 appendix C / PaLM §7:
    n-gram overlap between the training corpus and held-out benchmark
    suites): for each benchmark doc, which train docs contain a
    ≥ ``threshold`` fraction of its word-``n``-grams, and how much.

    Directed containment C(bench→train) = |S(b)∩S(t)| / |S(b)| — the
    right direction for contamination (a benchmark item pasted into a
    much larger train doc scores ≈ 1 even though Jaccard is tiny).

    Scale shape is the same ASYMMETRIC inverted-index cut as
    :func:`minhash_near_dup_incremental`: only bench×train posting
    pairs are generated (never train×train — the quadratic term of the
    full corpus), so work is O(bench-postings × per-gram train df),
    bounded by the ``max_postings`` df-cut on the TRAIN side
    (stop-grams dropped; scores are ≤ true containment, mirrored
    exactly in the oracle).  The benchmark side is eval-suite-sized —
    thousands of docs against billions of train docs — so at 100 TB
    the bench postings broadcast and the train corpus streams through
    one gram-explode + hash-join pass with no self-shuffle."""
    b_grams = _word_ngrams_frame(benchmark, text_col, id_col, n).select(
        F.col(id_col).alias("bench_id"), "gram"
    )
    t_grams = _word_ngrams_frame(_widen(train), text_col, id_col, n).select(
        F.col(id_col).alias("train_id"), "gram"
    )
    # df-cut computed over TRAIN postings only: the bench side is tiny
    # and capping it would let one hot stop-gram in a benchmark doc
    # silently erase real contamination
    keep = (
        t_grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") <= max_postings)
        .select("gram")
    )
    sizes = b_grams.groupBy("bench_id").agg(F.count(F.lit(1)).alias("n_b"))
    inter = (
        b_grams.join(keep, "gram")
        .join(t_grams, "gram")
        .groupBy("bench_id", "train_id")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes, "bench_id")
        .select(
            "bench_id",
            "train_id",
            (F.col("n_inter").cast("double") / F.col("n_b").cast("double")).alias(
                "overlap"
            ),
        )
        .where(F.col("overlap") >= threshold)
    )


# --- embedding cosine near-dup ---------------------------------------------


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.45,
    n_blocks: int = 8,
) -> DataFrame:
    """Pairs of vectors with cosine ≥ threshold — distributed block gemm.

    Exact all-pairs is inherently O(n²) work; the plan makes it
    *distributed* O(n²): rows are hashed into ``n_blocks`` blocks, every
    unordered block pair (bi ≤ bj) becomes one cogroup task, and each
    task scores its two blocks with a single BLAS matmul.  Nothing is
    collected to the driver and no full matrix is broadcast — peak
    memory per task is two blocks, O(2·n·d/B) plus the (n/B)² score
    tile, and shuffle volume is O(n·d·B) (each row joins B pair-tasks).
    At 100 TB pick B ≈ n·d·8bytes / executor-mem so a block pair fits;
    the cheaper sub-quadratic alternative stays the LSH-bucketed path
    (operators.similarity.lsh_topk's banding).

    FP note: gemm accumulation order differs from a sequential fold by
    ~1e-15 relative, while the threshold margin on real corpora is
    orders larger (measured here: min |cos − τ| ≈ 1e-4), so the decision
    set is stable vs the SQL oracle."""
    import numpy as np
    import pandas as pd

    src = embeddings.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.pmod(F.col(id_col), F.lit(n_blocks)).cast("int").alias("_blk"),
    )
    left = src.select(
        "_id", "_v", F.col("_blk").alias("_bi"),
        F.explode(F.sequence(F.col("_blk"), F.lit(n_blocks - 1))).alias("_bj"),
    )
    right = src.select(
        "_id", "_v", F.col("_blk").alias("_bj"),
        F.explode(F.sequence(F.lit(0), F.col("_blk"))).alias("_bi"),
    )

    def score(key, l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        if not len(l) or not len(r):
            return pd.DataFrame({"id_a": pd.Series(dtype="int64"), "id_b": pd.Series(dtype="int64")})
        ids_l = l["_id"].to_numpy(dtype=np.int64)
        ids_r = r["_id"].to_numpy(dtype=np.int64)
        ml = np.stack(l["_v"].to_numpy()).astype(np.float64)
        mr = np.stack(r["_v"].to_numpy()).astype(np.float64)
        ml = ml / np.linalg.norm(ml, axis=1, keepdims=True)
        mr = mr / np.linalg.norm(mr, axis=1, keepdims=True)
        keep = (ml @ mr.T) >= threshold
        if key[0] == key[1]:
            # same block on both sides: order the pair once
            keep &= ids_r[None, :] > ids_l[:, None]
            ai, bj = np.nonzero(keep)
            return pd.DataFrame({"id_a": ids_l[ai], "id_b": ids_r[bj]})
        # cross-block: each unordered pair appears in exactly one task,
        # in one orientation — normalize (min, max) instead of filtering
        ai, bj = np.nonzero(keep)
        a, b = ids_l[ai], ids_r[bj]
        return pd.DataFrame({"id_a": np.minimum(a, b), "id_b": np.maximum(a, b)})

    return (
        left.groupBy("_bi", "_bj")
        .cogroup(right.groupBy("_bi", "_bj"))
        .applyInPandas(score, "id_a bigint, id_b bigint")
    )


def semantic_dedup_pairs(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.45,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    target_cluster_rows: int | None = None,
    max_cluster: int | None = 20_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster the embedding space with
    spherical k-means, then find cosine-≥ τ near-duplicate pairs ONLY
    within each cluster — the semantic-dedup recipe LLM curation
    pipelines run where exact all-pairs would be O(n²): k-means is
    linear per iteration, and the quadratic pair scan is confined to
    cluster-sized blocks (expected n²/k pair work for balanced
    clusters, vs n² for the exact path).  The trade is recall at
    cluster boundaries — a near-dup pair split across clusters is
    missed by design; raise ``k`` for cheaper clusters, lower it for
    higher recall (``embedding_near_dup_pairs`` is the exact-audit
    fallback).

    Emits (id_a, id_b, cluster) with id_a < id_b.

    **k must scale with the corpus** (production SemDeDup runs k in the
    tens of thousands): at fixed k the per-cluster pair work is still
    Θ(n²/k).  Pass ``target_cluster_rows`` to raise k automatically to
    ceil(n / target) — the ``embedding_near_dup_lsh``
    ``target_bucket_rows`` precedent — so expected cluster occupancy
    (and with it total pair work ≈ n·target) stays flat as n grows.

    **Task memory is bounded by ``max_cluster``, not the cluster**: a
    hot cluster (k-means on real corpora skews) is split into
    hash-salted sub-blocks and scored as sub-block TILE pairs — each
    unordered in-cluster pair lands in exactly one tile, so the split
    is RESULT-PRESERVING; only task granularity changes (the same
    decomposition as ``embedding_near_dup_lsh``'s oversized buckets).
    Per-tile gemm work within a degenerate cluster remains Θ(cluster²)
    — that is what scaling k addresses.

    FP note: ids-only output, so cross-engine FP enters solely via the
    threshold comparison (gemm vs fold accumulation ~1e-15 relative;
    measured corpus margin ≈1e-4 — the dedup_embedding argument) and
    via the k-means assignment (own margin argument in the kmeans
    oracle: top-2 cell gaps O(1e-2))."""
    import math

    import numpy as np
    import pandas as pd

    from .clustering import spherical_kmeans

    if target_cluster_rows is not None:
        n = embeddings.count()
        k = min(
            65_536,
            max(k, math.ceil(max(n, 1) / max(target_cluster_rows, 1))),
        )
    assign = spherical_kmeans(
        embeddings, k=k, iters=iters, vec_col=vec_col, id_col=id_col
    )
    src = embeddings.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    ).join(
        assign.select(F.col(id_col).alias("_id"), "cluster"), "_id"
    )

    def _empty() -> pd.DataFrame:
        return pd.DataFrame(
            {
                "id_a": pd.Series(dtype="int64"),
                "id_b": pd.Series(dtype="int64"),
                "cluster": pd.Series(dtype="int32"),
            }
        )

    def _norm(rows: pd.Series) -> "np.ndarray":
        m = np.stack(rows.to_numpy()).astype(np.float64)
        nrm = np.linalg.norm(m, axis=1, keepdims=True)
        nrm[nrm == 0.0] = 1.0
        return m / nrm

    def _self_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return _empty()
        ids = pdf["_id"].to_numpy(dtype=np.int64)
        m = _norm(pdf["_v"])
        keep = (m @ m.T >= threshold) & (ids[None, :] > ids[:, None])
        ai, bj = np.nonzero(keep)
        if not len(ai):
            return _empty()
        return pd.DataFrame(
            {
                "id_a": ids[ai],
                "id_b": ids[bj],
                "cluster": np.full(len(ai), pdf["cluster"].iloc[0], dtype="int32"),
            }
        )

    if max_cluster is None:
        return src.groupBy("cluster").applyInPandas(
            _self_pairs, "id_a bigint, id_b bigint, cluster int"
        )

    # Memory-capped path (identical tiling to embedding_near_dup_lsh's
    # oversized buckets): clusters above max_cluster split into nsub
    # hash-salted sub-blocks; a row of sub-block s is the LEFT side of
    # tiles (s, j) for j >= s and the RIGHT side of tiles (i, s) for
    # i < s, so every unordered in-cluster pair appears in exactly one
    # tile.  A small cluster has nsub=1 → one diagonal tile == the
    # uncapped behavior.  The size lookup is one row per cluster —
    # broadcast.
    sizes = src.groupBy("cluster").agg(F.count(F.lit(1)).alias("_n"))
    salted = (
        src.join(F.broadcast(sizes), "cluster")
        .withColumn("_nsub", F.ceil(F.col("_n") / F.lit(max_cluster)).cast("int"))
        .withColumn("_sub", F.pmod(F.xxhash64("_id"), F.col("_nsub")).cast("int"))
    )
    as_left = salted.select(
        "cluster", "_id", "_v",
        F.col("_sub").alias("_i"),
        F.explode(F.sequence(F.col("_sub"), F.col("_nsub") - 1)).alias("_j"),
        F.lit(0).alias("_r"),
    )
    as_right = salted.where(F.col("_sub") > 0).select(
        "cluster", "_id", "_v",
        F.explode(F.sequence(F.lit(0), F.col("_sub") - 1)).alias("_i"),
        F.col("_sub").alias("_j"),
        F.lit(1).alias("_r"),
    )

    def _tile_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        a = pdf[pdf["_r"] == 0]
        b = pdf[pdf["_r"] == 1]
        # Decide diagonal from the grouping KEY, not side emptiness: an
        # off-diagonal tile (i < j) whose right sub-block j happens to be
        # unoccupied (no id hashed to residue j) must yield nothing — the
        # (i, i) diagonal tile already owns block i's self-pairs.
        if pdf["_i"].iloc[0] == pdf["_j"].iloc[0]:
            return _self_pairs(a)
        if len(b) == 0 or len(a) == 0:
            return _empty()
        ids_a = a["_id"].to_numpy(dtype=np.int64)
        ids_b = b["_id"].to_numpy(dtype=np.int64)
        ai, bj = np.nonzero((_norm(a["_v"]) @ _norm(b["_v"]).T) >= threshold)
        if not len(ai):
            return _empty()
        x, y = ids_a[ai], ids_b[bj]
        # sub-blocks are disjoint id sets: normalize order, no self-pairs
        return pd.DataFrame(
            {
                "id_a": np.minimum(x, y),
                "id_b": np.maximum(x, y),
                "cluster": np.full(len(ai), pdf["cluster"].iloc[0], dtype="int32"),
            }
        )

    return (
        as_left.unionByName(as_right)
        .groupBy("cluster", "_i", "_j")
        .applyInPandas(_tile_pairs, "id_a bigint, id_b bigint, cluster int")
    )


def embedding_near_dup_lsh(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.45,
    dim: int = 64,
    num_tables: int = 8,
    planes_per_table: int = 4,
    seed: int = 42,
    target_bucket_rows: int | None = None,
    max_bucket: int | None = 20_000,
) -> DataFrame:
    """The bucketed path :func:`embedding_near_dup_pairs` points at,
    wired as a first-class operator: random-hyperplane LSH buckets both
    sides, so candidate pairs come from same-bucket gemm tiles —
    expected work Θ(L · Σ bucket²) ≈ L·n²/2^p for balanced buckets —
    then each candidate is scored with the vectorized cosine and cut at
    the threshold.

    **p (= planes_per_table) is THE work knob, and it must scale with
    the corpus**: at fixed p the expected work is still Θ(n²) (with a
    1/2^p constant), so sub-quadratic behavior requires growing p with
    n.  Pass ``target_bucket_rows`` to do that automatically: p is
    raised to ceil(log2(n / target)) so expected bucket occupancy stays
    ~``target`` and work stays ~L·n·target.  Raising p lowers per-table
    collision probability (1-θ/π)^p; compensate with more tables
    (recall = 1-(1-(1-θ/π)^p)^L) or accept the documented recall.

    Same deterministic plane family as ``similarity.lsh_topk``
    (``make_planes``, pseudo-Gaussian literals), so the full pipeline —
    signatures, bucket join, scoring, threshold — mirrors into the
    DuckDB oracle verbatim.  The default (p=4, L=8) gives ~0.8
    collision probability at cos=0.45 (and -> 1 fast above it);
    measured on the sf0.001 corpus: 5/7 exact pairs recovered at the
    hardest-case threshold boundary (tests/test_analytics_linkage.py).

    Shuffle discipline: each vector rides the (table, bucket) exchange
    once per table; scoring happens INSIDE the bucket as one BLAS gemm
    per group (``applyInPandas``), so candidate pairs are never
    materialized as join rows — only the surviving above-threshold
    (id_a, id_b) scalars leave the task, and the cross-table pair dedup
    shuffles those scalars alone.  (A pair-row self-join + per-row
    scorer computes the same thing ~6× slower: measured 4.7 s -> 0.8 s
    at sf0.1 — join-row materialization and per-row UDF dispatch
    dominate, not flops.)

    Skew / degenerate buckets: hyperplane buckets are balanced for
    centered data, but real embedding corpora cluster.  ``max_bucket``
    caps PER-TASK MEMORY by splitting any bucket larger than the cap
    into hash-salted sub-blocks and scoring every sub-block tile pair —
    each unordered pair still lands in exactly one tile, so the split
    is RESULT-PRESERVING (unlike the MinHash path's drop-cap, which
    trades recall; here only task granularity changes).  Work within a
    degenerate bucket remains Θ(bucket²) — that is what scaling p (or
    the exact block-gemm audit path) addresses.
    """
    import math

    import numpy as np
    import pandas as pd

    from .similarity import _signature_udf, make_planes

    if target_bucket_rows is not None:
        n = embeddings.count()
        planes_per_table = min(
            30,
            max(
                planes_per_table,
                math.ceil(math.log2(max(n, 2) / max(target_bucket_rows, 1))),
            ),
        )
    tables = [
        make_planes(dim, planes_per_table, seed + 1000 * t) for t in range(num_tables)
    ]
    sig = _signature_udf(tables)
    s = (
        embeddings.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .select("_id", "_v", F.posexplode(sig(F.col("_v"))).alias("_t", "_b"))
    )

    def _empty() -> pd.DataFrame:
        return pd.DataFrame(
            {"id_a": pd.Series(dtype="int64"), "id_b": pd.Series(dtype="int64")}
        )

    def _self_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["_id"].to_numpy(dtype=np.int64)
        if len(ids) < 2:
            return _empty()
        m = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
        m = m / np.linalg.norm(m, axis=1, keepdims=True)
        keep = (m @ m.T) >= threshold
        # upper triangle only, ordered by id (ids within a bucket are
        # arbitrary-ordered rows: compare ids, not row positions)
        ai, bj = np.nonzero(keep & (ids[None, :] > ids[:, None]))
        return pd.DataFrame({"id_a": ids[ai], "id_b": ids[bj]})

    if max_bucket is None:
        return (
            s.groupBy("_t", "_b")
            .applyInPandas(_self_pairs, "id_a bigint, id_b bigint")
            .dropDuplicates()
        )

    # Memory-capped path: buckets above max_bucket split into nsub
    # hash-salted sub-blocks; a row of sub-block k is the LEFT side of
    # tiles (k, j) for j >= k and the RIGHT side of tiles (i, k) for
    # i < k, so every unordered in-bucket pair appears in exactly one
    # tile.  The size lookup is one row per (table, bucket) — broadcast.
    sizes = s.groupBy("_t", "_b").agg(F.count(F.lit(1)).alias("_n"))
    salted = (
        s.join(F.broadcast(sizes), ["_t", "_b"])
        .withColumn(
            "_nsub", F.ceil(F.col("_n") / F.lit(max_bucket)).cast("int")
        )
        .withColumn("_sub", F.pmod(F.xxhash64("_id"), F.col("_nsub")).cast("int"))
    )
    as_left = salted.select(
        "_t", "_b", "_id", "_v",
        F.col("_sub").alias("_i"),
        F.explode(F.sequence(F.col("_sub"), F.col("_nsub") - 1)).alias("_j"),
        F.lit(0).alias("_r"),
    )
    as_right = salted.where(F.col("_sub") > 0).select(
        "_t", "_b", "_id", "_v",
        F.explode(F.sequence(F.lit(0), F.col("_sub") - 1)).alias("_i"),
        F.col("_sub").alias("_j"),
        F.lit(1).alias("_r"),
    )

    def _tile_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        a = pdf[pdf["_r"] == 0]
        b = pdf[pdf["_r"] == 1]
        # Key-based diagonal check — see semantic_dedup_pairs._tile_pairs:
        # an off-diagonal tile with an empty right sub-block yields nothing.
        if pdf["_i"].iloc[0] == pdf["_j"].iloc[0]:
            return _self_pairs(a)
        if len(b) == 0 or len(a) == 0:
            return _empty()
        ids_a = a["_id"].to_numpy(dtype=np.int64)
        ids_b = b["_id"].to_numpy(dtype=np.int64)
        ma = np.stack(a["_v"].to_numpy()).astype(np.float64)
        mb = np.stack(b["_v"].to_numpy()).astype(np.float64)
        ma = ma / np.linalg.norm(ma, axis=1, keepdims=True)
        mb = mb / np.linalg.norm(mb, axis=1, keepdims=True)
        ai, bj = np.nonzero((ma @ mb.T) >= threshold)
        x, y = ids_a[ai], ids_b[bj]
        # sub-blocks are disjoint id sets: normalize order, no self-pairs
        return pd.DataFrame(
            {"id_a": np.minimum(x, y), "id_b": np.maximum(x, y)}
        )

    return (
        as_left.unionByName(as_right)
        .groupBy("_t", "_b", "_i", "_j")
        .applyInPandas(_tile_pairs, "id_a bigint, id_b bigint")
        .dropDuplicates()
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    algorithm): per document, hash every k-gram with the portable
    polynomial rolling hash, then keep the MINIMUM hash of each sliding
    window of ``window`` consecutive k-gram hashes.  The winnowed set is
    a ~2/(w+1)-density local fingerprint: two documents sharing ANY
    sufficiently long substring (>= k + w - 1 chars) are GUARANTEED to
    share a fingerprint — the partial-overlap detector whole-document
    MinHash cannot be (MinHash needs global set similarity; winnowing
    catches one copied paragraph inside an otherwise-unrelated doc).

    Hashing is an Arrow-vectorized numpy kernel for the same reason the
    MinHash signature is (``minhash_signature_udf``): the expression
    form — a nested aggregate over substrings per position — is
    interpreted at ~40 µs per k-gram (measured: 6 s for 150k k-grams at
    sf0.001); the numpy sliding-window dot product is ~1000× cheaper.
    Integer-identical to the SQL oracle's closed-form polynomial:
    codepoints via ord() (not UTF-8 bytes — matches ascii()), powers
    reduced mod 2^31-1 so products never overflow int64, and
    (sum of c·(131^e mod m)) mod m == the stepwise-mod fold's residue.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    m = 2147483647
    pows = np.array(
        [pow(131, k - 1 - d, m) for d in range(k)], dtype=np.int64
    )

    def _winnow(texts):
        out = []
        swv = np.lib.stride_tricks.sliding_window_view
        for t in texts:
            if t is None or len(t) < k + window - 1:
                out.append(np.empty(0, dtype=np.int64))
                continue
            t = t.lower()
            codes = np.array([ord(c) for c in t], dtype=np.int64)
            kg = swv(codes, k)                      # (n-k+1, k) view
            h = (kg * pows[None, :] % m).sum(axis=1) % m
            mins = swv(h, window).min(axis=1)
            out.append(np.unique(mins))
        return pd.Series(out)

    _winnow.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    fp = pandas_udf("array<bigint>")(_winnow)
    return (
        df.where(F.length(F.col(text_col)) >= k + window - 1)
        .select(F.col(id_col), fp(F.col(text_col)).alias("fingerprints"))
    )


def repeated_substring_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 64,
    stride: int = 16,
    max_postings: int = 200,
) -> DataFrame:
    """Cross-document repeated k-char substring SPANS with positions —
    the ExactSubstr screen (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better") at sampled-fingerprint
    granularity: winnowing pairs tell you WHICH documents overlap;
    this reports WHERE, so a cleaning pass can surgically cut the
    repeated span instead of dropping the document.

    Every ``stride``-th k-char window of the lowered text is
    fingerprinted with the portable 60-bit md5-prefix hash (the
    ``simhash_portable`` doctrine — reproducible bit-for-bit in
    DuckDB); fingerprints occurring in ≥2 DISTINCT documents come back
    with every (doc, position) occurrence and the document count.
    ``stride`` trades edge recall for cost exactly like suffix-array
    sampling: a true repeated run shorter than ``k + stride`` can slip
    between sampled windows (stride=1 is exhaustive); any run ≥
    ``k + stride − 1`` chars is guaranteed to align on ≥1 sampled
    window in both copies ONLY when the copies start on the same
    stride residue, so production sweeps pick stride ≪ k (here 16 ≪
    64) to keep the miss window small.

    Scale shape: (len/stride) scalar rows per document — only
    (fp, doc, pos) integers shuffle, never text; the ``max_postings``
    occurrence cut drops boilerplate fingerprints before the join
    fan-out exactly like the winnowing / n-gram-Jaccard paths.  The
    window text is sliced from a MATERIALIZED lowered column (the
    O(len²) interpreted-HOF rule)."""
    lc = _widen(
        df.select(F.col(id_col), F.lower(F.col(text_col)).alias("_lc"))
    )
    fps = (
        lc.where(F.length("_lc") >= k)
        .select(
            F.col(id_col),
            F.explode(
                F.expr(
                    f"transform(sequence(1, length(_lc) - {k - 1}, {stride}),"
                    f" i -> struct(cast(i as bigint) AS pos,"
                    f" cast(conv(substr(md5(substring(_lc, i, {k})), 1, 15), 16, 10) as bigint) AS fp))"
                )
            ).alias("w"),
        )
        .select(id_col, F.col("w.pos").alias("pos"), F.col("w.fp").alias("fp"))
    )
    hot = (
        fps.groupBy("fp")
        .agg(
            F.count_distinct(F.col(id_col)).alias("n_docs"),
            F.count(F.lit(1)).alias("_occ"),
        )
        .where((F.col("n_docs") >= 2) & (F.col("_occ") <= max_postings))
        .select("fp", "n_docs")
    )
    return fps.join(hot, "fp").select(id_col, "pos", "fp", "n_docs")


def winnowing_overlap_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
    min_shared: int = 5,
    max_postings: int = 200,
) -> DataFrame:
    """Document pairs sharing ≥ ``min_shared`` winnowed fingerprints —
    partial-overlap candidates (copied passages, boilerplate blocks).

    Inverted-index equi-join on the fingerprint with a df-cut at
    ``max_postings`` (the ``ngram_jaccard_pairs`` discipline): ubiquitous
    fingerprints — the quadratic boilerplate hazard — are dropped before
    the join, so candidates stay linear; only (id, hash) scalars
    shuffle, never text.
    """
    fps = cut(
        _widen(winnow_fingerprints(df, text_col, id_col, k, window)).select(
            F.col(id_col), F.explode("fingerprints").alias("fp")
        )
    )
    hot = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df").between(2, max_postings))
        .select("fp")
    )
    g = fps.join(hot, "fp")
    a = g.select(F.col("fp"), F.col(id_col).alias("id_a"))
    b = g.select(F.col("fp"), F.col(id_col).alias("id_b"))
    return (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def minhash_near_dup_incremental(
    new_batch: DataFrame,
    history: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    num_hashes: int = 63,
    bands: int = 21,
    shingle_k: int = 9,
    max_bucket: int = 200,
    history_table: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs for a RECURRING ingest: verified pairs
    (new × history) ∪ (new × new), never (history × history) — the
    incremental sibling of :func:`minhash_near_dup_pairs`, and the
    near-dup completion of :func:`incremental_dedup`'s exact story.

    ``history_table``: the stored fused (id, hs, sig, buckets) table
    for the UNFILTERED history corpus (``shingle_minhash_table_fast``
    with identical parameters, already checkpointed) — exactly what a
    production deployment persists between batches (see below); when
    provided the history is never re-signed here, only anti-joined
    against re-ingested ids.

    The history side enters as raw documents here, but everything the
    pipeline derives from it — the fused (id, hs, sig) table — is
    exactly what a production deployment PERSISTS between batches
    (sources/sinks.py parquet store): re-deriving signatures for an
    unchanged corpus every batch would repeat the one corpus-sized pass
    this pipeline is designed to avoid.  With the stored table, per-
    batch work is |batch|-sized signature computation plus bucket joins
    whose history side is pre-bucketed.

    Candidate generation reuses the banding tail with one extra
    predicate: a bucket's pair explosion skips pairs whose BOTH ids are
    historical (flagged before the groupBy, filtered in the pair
    transform), so a boilerplate-heavy history bucket costs
    |new|·|bucket| pairs, not |bucket|².  Exact-Jaccard verification is
    unchanged.  Output: (id_a, id_b, jaccard) with the NEW doc always
    present in each pair.

    Id overlap between batch and history (a re-ingested doc) is resolved
    NEW-VERSION-WINS: history rows whose id appears in the batch are
    anti-joined away before signature work, so an overlapping id can't
    produce duplicate signature rows or degenerate self-pairs; the pair
    transform additionally refuses a == b as defense in depth."""
    history = history.join(
        new_batch.select(id_col), id_col, "left_anti"
    )
    # Both sign tables feed two consumers each whose stages race in
    # the final job (banding shuffle + verify-hash exchanges): EAGER
    # checkpoints materialize them first so neither Arrow pass runs
    # twice (see minhash_near_dup_pairs — lazy pins measurably regress).
    nb = cut(
        shingle_minhash_table_fast(
            new_batch, text_col, id_col, shingle_k, num_hashes, bands=bands
        )
    ).withColumn("_new", F.lit(True))
    if history_table is not None:
        hist_tbl = history_table.join(
            new_batch.select(id_col), id_col, "left_anti"
        )
    else:
        hist_tbl = cut(
            shingle_minhash_table_fast(
                history, text_col, id_col, shingle_k, num_hashes, bands=bands
            )
        )
    hs = hist_tbl.withColumn("_new", F.lit(False))
    both = nb.unionByName(hs)
    banded = both.select(
        F.col(id_col).alias("_id"),
        "_new",
        F.explode("buckets").alias("bucket"),
    )
    buckets = (
        banded.groupBy("bucket")
        .agg(
            F.collect_list(F.struct("_id", "_new")).alias("ids"),
            F.count(F.when(F.col("_new"), 1)).alias("_n_new"),
        )
        .where((F.size("ids").between(2, max_bucket)) & (F.col("_n_new") >= 1))
    )
    pairs = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (x, i) -> "
                "  filter(transform(slice(ids, i + 2, size(ids)),"
                "           y -> struct(least(x._id, y._id) AS a,"
                "                       greatest(x._id, y._id) AS b,"
                "                       x._new OR y._new AS keep)),"
                "         p -> p.keep AND p.a != p.b)))"
            )
        ).alias("p")
    ).select(F.col("p.a").alias("id_a"), F.col("p.b").alias("id_b")).distinct()
    universe = new_batch.select(id_col, text_col).unionByName(
        history.select(id_col, text_col)
    )
    hashes = nb.unionByName(hs).select(id_col, "hs")
    return jaccard_verify(
        universe, pairs, text_col, id_col, shingle_k, threshold,
        hashes=hashes,
    )
