"""Text-analysis operators for training-data pipelines (north-star scope):
language ID, quality scoring, token counting, fingerprinting.

Everything is built-in ``pyspark.sql.functions`` — regexes and string
ops run inside whole-stage codegen; there is no Python in these paths.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import cut

#: stopword probes per language for the n-gram/stopword Language-ID
#: heuristic.  Word-boundary regexes keep this SQL-expressible (the
#: DuckDB oracle uses the same RE2-compatible patterns).
LANG_PROBES: dict[str, str] = {
    "en": r"\b(the|and|of|to|is)\b",
    "es": r"\b(el|la|los|de|que|es)\b",
    "de": r"\b(der|die|das|und|ist)\b",
    "fr": r"\b(le|les|des|et|est)\b",
}


def lang_scores(text_col: str = "text") -> list[Column]:
    return [
        F.regexp_count(F.lower(F.col(text_col)), F.lit(pat)).alias(f"score_{lang}")
        for lang, pat in LANG_PROBES.items()
    ]


def predicted_lang() -> Column:
    """Argmax over probe scores with a fixed priority tie-break (en, es,
    de, fr; 'und' when all probes score 0) — deterministic."""
    langs = list(LANG_PROBES)
    best = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    expr = F.lit("und")
    for lang in reversed(langs):
        expr = F.when((F.col(f"score_{lang}") == best) & (best > 0), lang).otherwise(expr)
    return expr


WORD_RE = r"[A-Za-z]+"
#: BPE-ish pre-tokenizer: letter runs, digit runs, or single non-space symbols
BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def text_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Quality-scoring feature battery: lengths, token counts, ratios.
    Ratios are integer/integer divisions — deterministic doubles — via
    ``try_divide``: a zero denominator (empty doc, no words) yields
    NULL instead of aborting the job under ANSI mode (the oracle
    mirrors with ``nullif``).

    Cost note: the five counters are independent single-pass codegen'd
    regex scans over the same string — no shuffle, no Python, fully
    parallel (measured 0.6 s warm at sf0.1; the 9.9 s in BENCH_r01 was
    cold-plan JIT + host contention, not steady-state).  They are kept
    as separate scans deliberately: each pattern is a different char
    class, and merging them into one pass would change the (oracle-
    mirrored) token semantics for no shuffle savings."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_tokens = F.regexp_count(t, F.lit(r"\S+"))
    n_words = F.regexp_count(t, F.lit(WORD_RE))
    n_bpe = F.regexp_count(t, F.lit(BPE_RE))
    n_punct = F.regexp_count(t, F.lit(r"[^\w\s]"))
    n_stop = F.regexp_count(F.lower(t), F.lit(r"\b(the|a|an|and|or|of|to|in|is|it)\b"))
    return df.select(
        F.col(id_col),
        *keep,
        n_chars.cast("bigint").alias("n_chars"),
        n_tokens.cast("bigint").alias("n_tokens"),
        n_bpe.cast("bigint").alias("n_bpe_tokens"),
        F.try_divide(n_chars.cast("double"), n_tokens.cast("double")).alias("avg_token_len"),
        F.try_divide(n_punct.cast("double"), n_chars.cast("double")).alias("punct_ratio"),
        F.try_divide(n_stop.cast("double"), n_words.cast("double")).alias("stopword_ratio"),
    )


def quality_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Composite heuristic quality gate (Gopher-rules flavored): flags
    docs by length bounds, stopword floor and punctuation ceiling.

    ``keep`` passes extra input columns through unchanged, so a caller
    that needs text + flag in ONE frame (the end-to-end funnel, which
    materializes that frame exactly once) doesn't have to join the
    stats back onto the text."""
    s = text_stats(df, text_col, id_col, keep=keep)
    return s.select(
        id_col,
        *keep,
        "n_tokens",
        "stopword_ratio",
        "punct_ratio",
        (
            (F.col("n_tokens") >= 10)
            & (F.col("n_tokens") <= 100000)
            & (F.col("stopword_ratio") >= 0.01)
            & (F.col("punct_ratio") <= 0.2)
        ).alias("passes_quality"),
    )


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stable document fingerprints: md5 of whitespace-normalized
    lowercase text (exact-dup key), xxhash64 (cheap 64-bit join key),
    and a Rabin-style polynomial rolling hash (base 131 mod 2³¹−1 folded
    left-to-right — the streaming-update form used by winnowing)."""
    # collapse THEN trim: F.trim strips only ASCII spaces, so a leading
    # tab/newline would otherwise survive as a leading space and split
    # the exact-dup key for texts identical modulo edge whitespace
    df = df.select(
        F.col(id_col),
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")).alias("_norm"),
    )
    roll = F.expr(
        "aggregate(transform(sequence(1, length(_norm)),"
        " i -> cast(ascii(substring(_norm, i, 1)) as bigint)),"
        " cast(0 as bigint), (acc, c) -> (acc * 131 + c) % 2147483647)"
    )
    return df.select(
        F.col(id_col),
        F.md5("_norm").alias("fp_md5"),
        F.xxhash64("_norm").alias("fp_xxh64"),
        roll.alias("fp_rolling"),
    )


def _word_tokens_sql(text_col: str) -> str:
    """Lowercase whitespace tokens WITHOUT empty strings: ``split`` on
    \\s+ keeps empty edge tokens for leading/trailing whitespace (limit
    -1), silently inflating n-gram counts and desyncing gram strings
    between docs that differ only in edge whitespace — extraction, not
    splitting, is the correct tokenizer.  The single definition both
    n-gram operators share (and the oracles mirror verbatim)."""
    return f"regexp_extract_all(lower({text_col}), '\\\\S+', 0)"


def _word_grams_sql(toks_col: str, n: int) -> str:
    """n-gram array from a token-array column.  ``toks_col`` must be a
    MATERIALIZED column, not a tokenize expression: a tokenizer inlined
    into the transform lambda re-runs per gram position (the
    O(len²)-per-document interpreted-HOF pattern, r08)."""
    return (
        f"transform(sequence(1, greatest(size({toks_col}) - {n - 1}, 1)),"
        f" i -> array_join(slice({toks_col}, i, {n}), ' '))"
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Within-document repetition signal (Gopher-style quality rule):
    the fraction of word-n-gram OCCURRENCES that are repeats of an
    earlier n-gram in the same document (``1 - distinct/total``).
    Boilerplate, looped generations, and template spam score high.

    Pure per-row expression work — no shuffle, no UDF: one tokenization
    (materialized, so the gram lambda never re-tokenizes) feeding total
    and distinct n-gram counts."""
    tt = df.select(
        F.col(id_col), F.expr(_word_tokens_sql(text_col)).alias("_t")
    )
    grams = F.expr(_word_grams_sql("_t", n))
    total = F.greatest(F.size(F.col("_t")) - F.lit(n - 1), F.lit(1))
    distinct = F.size(F.array_distinct(grams))
    return tt.select(
        F.col(id_col),
        total.cast("bigint").alias("n_grams"),
        distinct.cast("bigint").alias("n_distinct"),
        (
            F.lit(1.0) - distinct.cast("double") / total.cast("double")
        ).alias("repetition_ratio"),
    )


def contamination_overlap(
    corpus: DataFrame,
    evalset: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing at least one
    word-n-gram with any eval-set document, with the shared-gram count —
    the standard pre-training hygiene pass (n-gram collision flagging).

    Inverted-index equi-join on the gram (never all-pairs text compare):
    corpus explodes to per-doc-distinct (gram, doc) postings and the
    EVAL side — tiny by definition — is broadcast, so the corpus never
    shuffles raw text; the follow-up count is combiner-reduced on
    doc_id.  Long n-grams are naturally rare, which bounds join fan-out;
    against adversarial boilerplate add a corpus-df cut on the gram
    (cf. ngram_jaccard_pairs' max_postings) before the join."""
    def grams_of(d: DataFrame, out_id: str) -> DataFrame:
        tt = d.select(
            F.col(id_col).alias(out_id),
            F.expr(_word_tokens_sql(text_col)).alias("_t"),
        )
        return tt.select(
            out_id,
            F.explode(
                F.array_distinct(F.expr(_word_grams_sql("_t", n)))
            ).alias("gram"),
        )

    eval_grams = grams_of(evalset, "eval_id").select("gram").distinct()
    hits = grams_of(corpus, "doc_id").join(F.broadcast(eval_grams), "gram")
    # every group the inner join produces has count >= 1 by construction
    return hits.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shared_grams"))


def language_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    return df.select(F.col(id_col), *lang_scores(text_col)).select(
        id_col,
        *[F.col(f"score_{lang}").cast("bigint").alias(f"score_{lang}") for lang in LANG_PROBES],
        predicted_lang().alias("predicted_lang"),
    )


#: GPT-2-style pre-tokenizer alternation, restricted to the syntax
#: Java's regex (Spark) and RE2 (DuckDB) implement IDENTICALLY: both are
#: leftmost-first on alternations, and the original's `\s+(?!\S)`
#: lookahead (RE2 has none) is dropped — trailing-space merge only
#: shifts token boundaries, not counts, for the space-joined corpus.
BPE_ISH_RE = r"'(s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def gram_concentration(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Top-gram CONCENTRATION signals — the other half of the Gopher
    repetition rule family (``repetition_stats`` measures how many
    gram occurrences are repeats; this measures how much of the doc
    the WORST offenders cover — a doc can be 20% one spammed bigram
    yet have plenty of distinct grams elsewhere):

    ``max_word_frac``     count of the most frequent token / n_tokens
    ``top_bigram_frac``   tokens covered by the single most frequent
                          word-2-gram (2 x its count, overlap-counted)
                          / n_tokens
    ``dup_trigram_frac``  trigram positions whose trigram occurs >= 2x
                          / total trigram positions (NULL when the doc
                          has < 3 tokens)
    ``flagged``           Gopher-inspired cut (token- not char-based):
                          top_bigram_frac > 0.18 OR dup_trigram_frac
                          > 0.30 OR max_word_frac > 0.20

    Only MAX counts feed the fractions, so no tie-break is needed
    anywhere (ties share the max).  Plan: three combiner-reduced
    (doc, gram) count aggregates joined on the doc id — linear,
    shuffle keyed by (id, gram), no text after tokenize, no windows.
    Fractions are single IEEE divisions of exact integers —
    hash-exact cross-engine."""
    tt = df.select(
        F.col(id_col), F.expr(_word_tokens_sql(text_col)).alias("_t")
    ).where(F.size("_t") > 0)

    def top_counts(n: int, out: str) -> DataFrame:
        src = tt.where(F.size("_t") >= n)
        grams = (
            src.select(F.col(id_col), F.explode("_t").alias("g"))
            if n == 1
            else src.select(
                F.col(id_col),
                F.explode(F.expr(_word_grams_sql("_t", n))).alias("g"),
            )
        )
        counts = grams.groupBy(id_col, "g").agg(F.count(F.lit(1)).alias("c"))
        aggs = [F.max("c").alias(f"max_{out}"), F.sum("c").alias(f"n_{out}")]
        if n == 3:
            aggs.append(
                F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(0)).alias(
                    f"dup_{out}"
                )
            )
        return counts.groupBy(id_col).agg(*aggs)

    w = top_counts(1, "w")
    b = top_counts(2, "b")
    t3 = top_counts(3, "t")
    mwf = F.col("max_w") / F.col("n_w")
    tbf = F.lit(2) * F.col("max_b") / F.col("n_w")
    dtf = F.col("dup_t") / F.col("n_t")
    return (
        w.join(b, id_col, "left")
        .join(t3, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_w").alias("n_tokens"),
            mwf.alias("max_word_frac"),
            tbf.alias("top_bigram_frac"),
            dtf.alias("dup_trigram_frac"),
            (
                (tbf > F.lit(0.18)) | (dtf > F.lit(0.30)) | (mwf > F.lit(0.20))
            ).alias("flagged"),
        )
    )


def token_counts(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document token counts under two tokenizers: whitespace words
    and the BPE-ish pre-tokenizer regex above — the budget/packing
    currencies of a training pipeline (fast proxy vs model-shaped).

    Both are pure codegen'd row expressions over the scan (no UDF, no
    shuffle); a real BPE merge table lives in the model stack, but the
    PRE-tokenization — which determines token-count scaling — is
    regex-faithful here.
    """
    ws = F.size(F.expr(_word_tokens_sql(text_col)))
    bpe = F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_RE), F.lit(0)))
    return df.select(
        F.col(id_col),
        ws.cast("long").alias("n_ws_tokens"),
        bpe.cast("long").alias("n_bpe_tokens"),
    )


def char_entropy(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Shannon character entropy (bits) per document — the classic
    cheap gibberish / binary-junk / mojibake signal: natural language
    sits ~3.5-4.5 bits, base64 blobs and repeated-char spam far outside.

    Plan: explode to (doc, char) rows, combiner-reduced counts, join the
    doc length back, then sum ``-p·log2(p)`` per doc.  The per-term
    double→DECIMAL cast makes the entropy sum ORDER-FREE (FP addition
    isn't associative and the char-group order differs between engines);
    the oracle mirrors every step, so entropies hash-match at 9 dp.
    Empty documents get entropy 0 via the left join, not dropped.
    """
    # length > 0 guard: Spark's sequence(1, 0) yields a DESCENDING
    # [1, 0] (not empty like DuckDB's range), which would fabricate
    # phantom chars for empty docs — and its position-0 substring.
    # Column-based transform/substring (not an interpolated F.expr
    # string): caller-supplied column names must never be spliced into
    # SQL text — the funnel_counts rule.
    text = F.col(text_col)
    chars = df.where(F.length(text) > 0).select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length(text)),
                lambda i: F.substring(text, i, F.lit(1)),
            )
        ).alias("_ch"),
    )
    counts = chars.groupBy(id_col, "_ch").agg(F.count(F.lit(1)).alias("_cnt"))
    lens = df.select(F.col(id_col), F.length(text_col).cast("bigint").alias("_n"))
    p = F.col("_cnt") / F.col("_n")
    term = (-(p) * F.log2(p)).cast("decimal(38,18)")
    ent = (
        counts.join(lens, id_col)
        .groupBy(id_col)
        .agg(F.sum(term).cast("double").alias("_e"))
    )
    return lens.join(ent, id_col, "left").select(
        id_col,
        F.round(F.coalesce("_e", F.lit(0.0)), 9).alias("entropy_bits"),
        F.col("_n").alias("n_chars_exact"),
    )


#: portable regex subset (identical semantics in Java regex and RE2 —
#: the curation_redact_pii doctrine): explicit classes, no \s (Java's
#: \s includes \x0B, RE2's does not).
CONTROL_CHARS_RE = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"
WS_RUN_RE = r"[ \t\n\r]+"


def normalize_text(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Canonical text normalization — the cleanup pass that runs before
    fingerprinting/dedup/tokenization in a training-data pipeline, so
    cosmetic variants (stray control bytes, ragged whitespace, case)
    collapse onto one canonical form and downstream exact/MinHash dedup
    actually fires on them.

    Steps (each a codegen'd row expression — no UDF, no shuffle; the
    whole operator pipelines into the scan):

    1. control characters → space (NUL..US minus TAB/LF/CR, plus DEL),
    2. whitespace runs (space/TAB/LF/CR) → one space,
    3. trim edge spaces,
    4. lowercase.

    Unicode NFC/NFKC normalization is deliberately OUT of scope: Spark
    SQL has no built-in normalizer, and a Python UDF here would put an
    Arrow hop in front of every scan — at 100 TB, run ICU normalization
    once at INGEST (where the bytes are already being rewritten), not
    per query.  NULL text stays NULL (mirrored by the oracle).
    """
    t = F.col(text_col)
    norm = F.lower(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(t, CONTROL_CHARS_RE, " "), WS_RUN_RE, " "
            )
        )
    )
    return df.select(
        F.col(id_col),
        norm.alias("text_norm"),
        F.length(t).cast("bigint").alias("n_chars_raw"),
        F.length(norm).cast("bigint").alias("n_chars_norm"),
    )


def char_entropy_fast(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Single-pass Arrow kernel computing the SAME output as
    :func:`char_entropy` — the 100 TB fast path.

    The explode formulation exists because it mirrors term-for-term
    into the DuckDB oracle; its price is materializing one row per
    CHARACTER before the combiner (in-task explosion, then an
    O(docs×alphabet) shuffle).  Here each Arrow batch is reduced
    in-place — ``np.unique`` over the doc's codepoints, one
    ``-p·log2 p`` fold — so the plan is a single ``mapInPandas`` over
    the scan: no explode, no shuffle, no join.  Output is
    BIT-IDENTICAL to the slow path (tests/test_llm_ops.py): terms use
    ``log(p)/log(2)`` (the JVM's ``log2`` lowering), each term is
    quantized to decimal(38,18) exactly like Spark's double→decimal
    cast (shortest-repr string, HALF_UP — the ``functions.numeric``
    contract), summed exactly, and rounded 9 dp HALF_UP like
    ``F.round``.  Codepoint counting matches ``substring``/``length``
    semantics (UTF8String counts code points, as does Python).
    """
    import numpy as np
    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()
    q18 = __import__("decimal").Decimal("1e-18")
    q9 = __import__("decimal").Decimal("1e-9")
    Decimal = __import__("decimal").Decimal
    ROUND_HALF_UP = __import__("decimal").ROUND_HALF_UP
    ln2 = float(np.log(2.0))

    def gen(batches):
        for pdf in batches:
            ids, ents, lens = [], [], []
            for doc_id, t in zip(pdf[id_col], pdf[text_col]):
                ids.append(doc_id)
                if t is None:
                    ents.append(0.0)
                    lens.append(None)
                    continue
                n = len(t)
                lens.append(n)
                if n == 0:
                    ents.append(0.0)
                    continue
                codes = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32)
                cnts = np.unique(codes, return_counts=True)[1]
                p = cnts / np.float64(n)
                terms = -(p) * (np.log(p) / ln2)
                total = sum(
                    Decimal(repr(v)).quantize(q18, ROUND_HALF_UP)
                    for v in terms.tolist()
                )
                ents.append(
                    float(
                        Decimal(repr(float(total))).quantize(q9, ROUND_HALF_UP)
                    )
                )
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids),
                    "entropy_bits": pd.Series(ents, dtype="float64"),
                    "n_chars_exact": pd.Series(lens, dtype="Int64"),
                }
            )

    return df.select(id_col, text_col).mapInPandas(
        gen, f"{id_col} {id_type}, entropy_bits double, n_chars_exact bigint"
    )


def lm_bigram_score(
    corpus: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Character-bigram language-model quality score — the CCNet-style
    statistical filter: score each document by the average add-one-
    smoothed log-probability of its bigrams under a reference corpus.
    Natural text scores near the reference's entropy; gibberish, wrong
    scripts, and template spam fall far below.

    Plan: the reference's bigram table is vocabulary-sized (alphabet²)
    → counts broadcast onto the corpus's exploded bigram stream, one
    combiner aggregate per doc.  Determinism: log-probs derive from
    INTEGER counts through identical IEEE ops in both engines, and the
    per-doc sum goes through a per-term DECIMAL cast (order-free, the
    ``char_entropy`` discipline), so scores mirror exactly at 9 dp.
    Docs with <2 chars score NULL (no bigrams), kept via left join.
    """

    def bigrams(df: DataFrame, *extra):
        # column-based, never name-spliced SQL (the funnel_counts rule)
        text = F.col(text_col)
        return df.where(F.length(text) >= 2).select(
            *extra,
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length(text) - F.lit(1)),
                    lambda i: F.substring(text, i, F.lit(2)),
                )
            ).alias("_bg"),
        )

    ref_counts = bigrams(reference).groupBy("_bg").agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    totals = ref_counts.agg(
        F.sum("_cnt").alias("_total"), F.count(F.lit(1)).alias("_v")
    )
    # add-one smoothing: p(bg) = (cnt+1)/(total+V); unseen bigrams get
    # 1/(total+V) via the left join's NULL -> coalesce(cnt, 0)
    doc_bg = bigrams(corpus, F.col(id_col))
    scored = (
        doc_bg.join(F.broadcast(ref_counts), "_bg", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            id_col,
            F.log(
                (F.coalesce(F.col("_cnt"), F.lit(0)) + F.lit(1)).cast("double")
                / (F.col("_total") + F.col("_v")).cast("double")
            ).cast("decimal(38,18)").alias("_lp"),
        )
    )
    agg = scored.groupBy(id_col).agg(
        (F.sum("_lp").cast("double") / F.count(F.lit(1))).alias("_s")
    )
    return corpus.select(id_col).join(agg, id_col, "left").select(
        id_col, F.round("_s", 9).alias("lm_score")
    )


def lm_bigram_score_fast(
    corpus: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Single-pass Arrow kernel computing the SAME output as
    :func:`lm_bigram_score` — the 100 TB fast path (the
    ``char_entropy_fast`` pattern applied to the LM scorer).

    Phase 1 is unchanged: the reference's bigram counts are a
    combiner-reduced aggregate whose result is alphabet²-sized — that
    small table is COLLECTED and broadcast (same driver footprint as
    the slow path's ``F.broadcast``).  Phase 2 replaces the per-doc
    explode → broadcast-join → combiner-agg chain with one
    ``mapInPandas`` over the corpus scan: bigrams become int keys via
    shifted codepoints, ``np.unique`` counts them, and each DISTINCT
    bigram's add-one-smoothed log-prob — quantized to decimal(38,18)
    exactly like the JVM's double→decimal cast — is multiplied by its
    occurrence count (a decimal sum of identical values is exactly the
    integer multiple, so per-distinct × count == the slow path's
    per-occurrence sum, bit for bit).  No shuffle, no join, no explode;
    bit-identity is pytest-pinned (tests/test_llm_ops.py).
    """
    import math

    import numpy as np
    import pandas as pd

    decimal = __import__("decimal")
    Decimal, ROUND_HALF_UP = decimal.Decimal, decimal.ROUND_HALF_UP
    q18, q9 = Decimal("1e-18"), Decimal("1e-9")

    text = F.col(text_col)
    ref_counts = (
        reference.where(F.length(text) >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length(text) - F.lit(1)),
                    lambda i: F.substring(text, i, F.lit(2)),
                )
            ).alias("_bg")
        )
        .groupBy("_bg")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .collect()  # alphabet²-sized by construction — driver-small
    )
    counts = {
        (ord(r["_bg"][0]) << 21) | ord(r["_bg"][1]): r["_cnt"] for r in ref_counts
    }
    total = sum(counts.values())
    v = len(counts)
    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast((counts, total, v))
    id_type = corpus.schema[id_col].dataType.simpleString()

    def gen(batches):
        cnts, tot, vv = bc.value
        den = float(tot + vv)
        # per-worker term table: one quantized decimal per DISTINCT
        # reference bigram + the unseen term (add-one smoothing)
        terms = {
            k: Decimal(repr(math.log((c + 1) / den))).quantize(q18, ROUND_HALF_UP)
            for k, c in cnts.items()
        }
        unseen = Decimal(repr(math.log(1.0 / den))).quantize(q18, ROUND_HALF_UP)
        for pdf in batches:
            ids, scores = [], []
            for doc_id, t in zip(pdf[id_col], pdf[text_col]):
                ids.append(doc_id)
                if t is None or len(t) < 2:
                    scores.append(None)
                    continue
                codes = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32).astype(
                    np.int64
                )
                keys = (codes[:-1] << 21) | codes[1:]
                uk, uc = np.unique(keys, return_counts=True)
                acc = Decimal(0)
                for k, c in zip(uk.tolist(), uc.tolist()):
                    acc += terms.get(k, unseen) * c
                s = float(acc) / (len(t) - 1)
                scores.append(
                    float(Decimal(repr(s)).quantize(q9, ROUND_HALF_UP))
                )
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids),
                    "lm_score": pd.Series(scores, dtype="float64"),
                }
            )

    return corpus.select(id_col, text_col).mapInPandas(
        gen, f"{id_col} {id_type}, lm_score double"
    )


def learn_bpe_merges(
    df: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Learn byte-pair-encoding merges from the corpus, distributed —
    the tokenizer-training step of an LLM data pipeline (Sennrich et
    al. 2016).  Returns (rank, pair, freq): the i-th merge and the
    weighted adjacent-pair frequency that won it.

    Execution shape (the k-means/pagerank iterative pattern): the
    corpus collapses ONCE to a (word, freq) vocabulary — sublinear in
    corpus size; this is the only pass over the data, everything after
    is vocab-sized.  Each merge round is (a) one explode+combiner-agg
    over adjacent symbol pairs weighted by word freq, (b) a 1-row
    driver collect of the argmax pair (cnt DESC, pair ASC — total
    order, engine-independent), (c) one codegen'd ``replace`` applying
    the merge to every word's symbol string, checkpointed so plans stay
    O(1).  Nothing else touches the driver.

    The per-round EAGER ``session.cut`` is kept DELIBERATELY (r14
    A/B, interleaved on a quiet host): replacing it with a lazy
    ``persist`` materialized by the argmax collect — one scheduled job
    per round instead of two — measured ~40% SLOWER end-to-end (2.50 s
    vs 3.50 s min at sf0.1): for this small vocab-sized frame the
    InMemoryRelation columnar encode/decode per round costs more than
    the RDD-checkpoint job it saves.  Do not re-try without re-measuring.

    MERGE SEMANTICS — "replace-BPE": symbols live in a space-joined
    string with sentinel boundary spaces, and a merge is string
    ``replace(' a b ' → ' ab ')``, i.e. left-to-right NON-OVERLAPPING
    with the consumed separator blocking an immediately-adjacent
    second match ('a a a' merges to [aa, a], and 'a b a b' to
    [ab, a, b] — the second pair's leading space was consumed).
    Classic BPE re-scans after every merge instead.  The variant is
    deterministic, single-pass per round, IDENTICAL in both engines
    (Spark and DuckDB replace share the scan rule), and an unrolled
    CTE chain can mirror it exactly — which is what makes the learned
    merges hash-checkable rather than rows-only.  The trade is a
    slightly smaller per-round merge count on runs of repeated
    symbols; ranking quality is indistinguishable for tokenizer use.
    """
    words = (
        df.select(F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        # ' a b c ' — separator-joined symbols with boundary sentinels
        .select(
            F.concat(
                F.lit(" "),
                F.trim(F.regexp_replace(F.col("w"), "(.)", "$1 ")),
                F.lit(" "),
            ).alias("sym"),
            "freq",
        )
    )
    words = cut(words)
    spark = df.sparkSession
    merges = []
    for rank in range(1, n_merges + 1):
        # symbol array materialized into a projection; adjacent pairs
        # via zip_with over two slices — element_at(toks, i) inside an
        # interpreted transform lambda re-evaluates the split per
        # element (the O(len²) pattern found in pmi_collocations)
        syms = words.select(
            F.split(F.trim(F.col("sym")), " ").alias("_t"), "freq"
        )
        k = F.size(F.col("_t")) - F.lit(1)
        pairs = F.when(
            k >= 1,
            F.zip_with(
                F.slice(F.col("_t"), 1, k),
                F.slice(F.col("_t"), 2, k),
                lambda x, y: F.concat(x, F.lit(" "), y),
            ),
        ).otherwise(F.array().cast("array<string>"))
        best = (
            syms.select(F.explode(pairs).alias("pair"), "freq")
            .groupBy("pair")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        pair, cnt = best[0]["pair"], best[0]["cnt"]
        merges.append((rank, pair, int(cnt)))
        a, b = pair.split(" ")
        words = cut(
            words.select(
                F.replace(
                    F.col("sym"), F.lit(f" {a} {b} "), F.lit(f" {a}{b} ")
                ).alias("sym"),
                "freq",
            )
        )
    return spark.createDataFrame(
        merges, "rank bigint, pair string, freq bigint"
    )


def bpe_encode(
    df: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply learned BPE merges to the corpus — the tokenizer
    APPLICATION step that pairs with :func:`learn_bpe_merges` (train
    once, encode everything; the per-document token count is what
    sequence packing and context-length budgeting consume downstream).
    Returns (id, n_words, n_tokens) per document; docs with no words
    zero-fill.

    Execution shape — encode the VOCABULARY, not the corpus: the
    merge table collapses to a driver-side list (tokenizer-sized, ≤ a
    few 10k rows even for production BPE — a broadcast-scale object by
    construction), each DISTINCT word is spelled into the sentinel
    symbol string and pushed through the merges as one chained
    codegen'd ``replace`` expression, and the corpus then just joins
    word → token-count.  Per-word string work is O(vocab · merges),
    sublinear in corpus size; the corpus-sized side only tokenizes on
    whitespace and aggregates.  At 100 TB the vocab side stays
    broadcastable (distinct words grow ~Heaps-law, not linearly).

    Merge semantics match :func:`learn_bpe_merges` exactly (replace-
    BPE: left-to-right non-overlapping ``replace`` of the space-joined
    pair, applied cumulatively in rank order), so encoding a corpus
    with merges learned from it is self-consistent and the whole
    learn→encode pipeline stays engine-mirrorable: token counts are
    pure integers, hash-exact against an unrolled-CTE oracle."""
    pairs = [
        r["pair"]
        for r in merges.orderBy("rank").select("rank", "pair").collect()
    ]
    words = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("w"),
    ).where(F.col("w") != "")
    sym = F.concat(
        F.lit(" "),
        F.trim(F.regexp_replace(F.col("w"), "(.)", "$1 ")),
        F.lit(" "),
    )
    for pair in pairs:
        a, b = pair.split(" ")
        sym = F.replace(sym, F.lit(f" {a} {b} "), F.lit(f" {a}{b} "))
    vocab = (
        words.select("w")
        .distinct()
        .select("w", F.size(F.split(F.trim(sym), " ")).alias("nt"))
    )
    per_doc = (
        words.join(F.broadcast(vocab), "w")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_words"),
            F.sum("nt").alias("n_tokens"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_words", F.lit(0)).alias("n_words"),
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        )
    )


def pmi_collocations(
    df: DataFrame,
    k: int = 20,
    min_count: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` word-bigram collocations by pointwise mutual
    information — the phrase-mining step of vocabulary construction
    (Church & Hanks 1990; word2vec's phrase pass uses the same score):

        pmi(a,b) = ln( p(ab) / (p(a)·p(b)) )
                 = ln( c_ab·N_uni² / (N_big·c_a·c_b) )

    with a ``min_count`` support floor (rare co-occurrences have
    unboundedly inflated PMI — the standard cut).

    Plan: bigram and unigram tables are combiner aggregates over one
    tokenize pass; corpus totals are a broadcast 1-row scalar; the
    unigram side joins in twice (left word, right word — broadcast:
    vocabulary-sized); ranking is a global top-k
    (``TakeOrderedAndProject``).  Nothing is corpus-sized after the
    first aggregation, so the shape is the same as word-count — the
    cheapest possible distributed pattern.

    The token array is MATERIALIZED into a projection first and
    bigrams come from ``zip_with`` over two slices: building them with
    ``transform(sequence(...), i -> element_at(toks, i))`` directly on
    the tokenize expression re-evaluated the whole
    filter(split(lower(text))) chain per element inside the
    interpreted lambda — O(len²) per document, and the measured 6.4 s
    hot stage of this query at sf0.1 (now ~0.4 s; the r06 shuffle fix
    had left wall time unchanged because THIS was the real cost).

    Determinism: counts are exact integers; the PMI double is the
    IDENTICAL expression tree in both engines (left-associative
    products, one ln), ranked at 9 dp with a bigram tie-break, emitted
    at 6 dp."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), " "), lambda x: x != ""
    )
    tt = df.select(toks.alias("_t"))
    n = F.size(F.col("_t"))
    pairs = F.when(
        n >= 2,
        F.zip_with(
            F.slice(F.col("_t"), 1, n - 1),
            F.slice(F.col("_t"), 2, n - 1),
            lambda x, y: F.concat(x, F.lit(" "), y),
        ),
    ).otherwise(F.array().cast("array<string>"))
    uni = (
        tt.select(F.explode("_t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    big = (
        tt.select(F.explode(pairs).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= min_count)
    )
    # n_big = total bigram occurrences = Σ_doc max(n_words-1, 0): computed
    # from token COUNTS per doc (no second explode pass — the r06 plan
    # re-exploded `pairs` corpus-wide just to count rows).  Same integer.
    totals = uni.agg(F.sum("c").alias("n_uni")).crossJoin(
        tt.select(
            F.greatest(n - 1, F.lit(0)).alias("_np")
        ).agg(F.sum("_np").alias("n_big"))
    )
    ua = uni.select(F.col("w").alias("_wa"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("w").alias("_wb"), F.col("c").alias("c_b"))
    scored = (
        big.withColumn("_wa", F.split(F.col("bigram"), " ")[0])
        .withColumn("_wb", F.split(F.col("bigram"), " ")[1])
        .join(F.broadcast(ua), "_wa")
        .join(F.broadcast(ub), "_wb")
        .crossJoin(F.broadcast(totals))
        .select(
            "bigram",
            "n_ab",
            F.log(
                (
                    F.col("n_ab").cast("double")
                    * F.col("n_uni").cast("double")
                    * F.col("n_uni").cast("double")
                )
                / (
                    F.col("n_big").cast("double")
                    * F.col("c_a").cast("double")
                    * F.col("c_b").cast("double")
                )
            ).alias("_pmi"),
        )
    )
    return (
        scored.select(
            "bigram",
            "n_ab",
            F.round("_pmi", 9).alias("_p9"),
        )
        .orderBy(F.desc("_p9"), "bigram")
        .limit(k)
        .select("bigram", "n_ab", F.round(F.col("_p9"), 6).alias("pmi"))
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 ranked retrieval: top-``k`` documents for a bag-of-terms
    query — the lexical scoring half of every retrieval/RAG stack
    (Robertson-Sparck Jones idf, Okapi tf saturation and length
    normalization):

        score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·|d|/avg|d|))
        idf(t)   = ln((N − df + 0.5)/(df + 0.5) + 1)

    Plan: doc lengths are one combiner aggregate; corpus stats (N,
    avg length — decimal-exact mean) are a broadcast 1-row scalar; the
    tf table is ONLY over query terms (the isin filter prunes before
    the groupBy, so per-query work is |matching postings|, not corpus-
    wide); ranking is a global top-k (``TakeOrderedAndProject``).  At
    100 TB the standing asset is the (doc, term, tf) posting table a
    deployment precomputes — this operator then skips straight to the
    score join.

    Determinism: scores sum ≤|query| per-term doubles (identical IEEE
    expressions both engines) and are RANKED at 9 dp with an id
    tie-break, emitted at 6 dp."""
    # Normalize query terms to the corpus casing (tokens are lowercased
    # below) — a mixed-case query term must match, not silently score 0.
    terms = sorted({t.lower() for t in query_terms})
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("w"),
    ).where(F.col("w") != "")
    dl = toks.groupBy(id_col).agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (
            F.sum(F.col("dl").cast("decimal(38,6)")).cast("double")
            / F.count("*")
        ).alias("avgdl"),
    )
    tf = (
        toks.where(F.col("w").isin(terms))
        .groupBy(id_col, "w")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("w").agg(F.count("*").alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "w")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .select(
            F.col(id_col),
            (
                F.log(
                    (F.col("n_docs") - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                    + F.lit(1.0)
                )
                * (F.col("tf") * F.lit(k1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (
                        F.lit(1.0 - b)
                        + F.lit(b) * F.col("dl") / F.col("avgdl")
                    )
                )
            ).alias("_term_score"),
        )
        .groupBy(id_col)
        .agg(F.round(F.sum("_term_score"), 9).alias("_s9"))
    )
    return (
        scored.orderBy(F.desc("_s9"), F.asc(id_col))
        .limit(k)
        .select(
            id_col,
            F.round("_s9", 6).alias("score"),
        )
    )


def feature_hash_vectors(
    df: DataFrame,
    dims: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Feature-hashing (hashing-trick) document vectorization
    (Weinberger et al. 2009; scikit-learn's HashingVectorizer): each
    token hashes to one of ``dims`` buckets with a ±1 sign drawn from a
    second hash bit, giving a fixed-width sparse vector with NO
    vocabulary state — the model-free embedding that makes similarity /
    clustering / linear classifiers possible on a corpus too large to
    fit a vocabulary, and the standard baseline before a learned
    embedder.

    Output: (id, dim, weight) rows — signed INTEGER token-count sums
    (exact, engine-portable via the md5-prefix hash; normalization is
    the caller's one extra map).  Plan: wordcount shape — one tokenize
    explode, one (id, dim) combiner aggregate; nothing corpus-sized
    after it.  Zero-weight dims are absent (sparse contract)."""
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.filter(F.split(F.lower(F.col(text_col)), " "), lambda x: x != "")
        ).alias("w"),
    )
    h = F.conv(F.substring(F.md5(F.col("w")), 1, 8), 16, 10).cast("bigint")
    dim = F.pmod(h, F.lit(dims))
    # sign bit from a DIFFERENT hash region, so sign and bucket are
    # independent (the hashing-trick unbiasedness argument)
    sign = F.when(
        F.conv(F.substring(F.md5(F.col("w")), 9, 1), 16, 10).cast("bigint") % 2 == 0,
        F.lit(1),
    ).otherwise(F.lit(-1))
    return (
        toks.select(F.col(id_col), dim.alias("dim"), sign.alias("_s"))
        .groupBy(id_col, "dim")
        .agg(F.sum("_s").alias("weight"))
        .where(F.col("weight") != 0)
    )


#: frozen "trained" weights for the logistic quality model — literals by
#: design (a deployed quality classifier ships as constants; training it
#: is offline).  Feature order: [bias, ln(1+n_tokens), stopword_ratio,
#: punct_ratio, avg_token_len].
QUALITY_LR_WEIGHTS = (-2.0, 0.55, 6.0, -9.0, -0.08)


def logistic_quality_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Model-based quality scoring: a frozen logistic regression over
    the ``text_stats`` feature battery — the shape of every deployed
    fastText/LR quality filter (CCNet, Gopher reproductions): engineered
    features → fixed dot product → sigmoid, scored corpus-wide as pure
    codegen'd row expressions (broadcast-free: the "model" is five
    literals in the plan).

    score = σ(w₀ + w₁·ln(1+n_tokens) + w₂·stop_ratio + w₃·punct_ratio
             + w₄·avg_token_len)

    NULL features (empty docs) score NULL — the caller's gate decides
    their fate explicitly rather than a silent 0.  Emitted at 6 dp
    (ln/exp are libm-rounded; 6 dp absorbs the ulp differences between
    engines — the ``dsir_weights`` precedent)."""
    w0, w1, w2, w3, w4 = QUALITY_LR_WEIGHTS
    s = text_stats(df, text_col, id_col)
    z = (
        F.lit(w0)
        + F.lit(w1) * F.log(F.lit(1.0) + F.col("n_tokens").cast("double"))
        + F.lit(w2) * F.col("stopword_ratio")
        + F.lit(w3) * F.col("punct_ratio")
        + F.lit(w4) * F.col("avg_token_len")
    )
    return s.select(
        F.col(id_col),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6).alias("quality_score"),
    )


def heavy_hitters_exact(
    df: DataFrame,
    text_col: str = "text",
    num: int = 2,
    den: int = 100,
    k: int = 64,
) -> DataFrame:
    """PROVABLY-EXACT distributed heavy hitters (frequent vocabulary
    items with frequency ≥ num/den of all tokens) in two corpus passes —
    the Misra-Gries candidate + exact-verify recipe that replaces the
    unscalable "GROUP BY every token, sort by count" at 100 TB:

    Pass 1 (map-only, no shuffle): each partition streams its tokens
    through a k-counter Misra-Gries summary [Misra & Gries 1982] and
    emits only its ≤ k surviving tokens plus one token-count sentinel
    row.  Pigeonhole guarantee: any token with GLOBAL frequency
    > N/(k+1) exceeds the local N_p/(k+1) in at least one partition, and
    MG never evicts such an item — so the union of per-partition
    summaries is a SUPERSET of every true heavy hitter whenever
    k·num ≥ den (asserted).  The shuffle carries ≤ k·P candidate tokens,
    independent of corpus size.

    Pass 2: exact counts of ONLY the candidates (broadcast semi join
    prunes the stream before the combiner-reduced groupBy) filtered by
    the integer threshold freq·den ≥ N·num — no float ratio, so the
    boundary token is decided identically on any engine.  The output is
    therefore EXACTLY the true heavy-hitter set with exact counts: the
    sketch bounds candidate count, never the answer (which is what makes
    this hash-checkable while the classic ε-approximate form is not).

    Tokenization: the registry-wide ``[a-z]+`` over lowered text."""
    import re

    import pandas as pd

    assert k * num >= den, "need k >= den/num for the superset guarantee"
    pat = re.compile(r"[a-z]+")

    def mg(batches):
        counters: dict[str, int] = {}
        n_tokens = 0
        for b in batches:
            for txt in b[text_col]:
                if txt is None:
                    continue
                for tok in pat.findall(txt.lower()):
                    n_tokens += 1
                    if tok in counters:
                        counters[tok] += 1
                    elif len(counters) < k:
                        counters[tok] = 1
                    else:
                        # decrement-all: one "charge" against every
                        # counter and the incoming token together
                        dead = []
                        for t in counters:
                            counters[t] -= 1
                            if counters[t] == 0:
                                dead.append(t)
                        for t in dead:
                            del counters[t]
        yield pd.DataFrame(
            {
                "token": list(counters) + [None],
                "cnt": [0] * len(counters) + [n_tokens],
            }
        )

    summary = (
        df.select(F.col(text_col).alias(text_col))
        .mapInPandas(mg, "token string, cnt bigint")
    )
    candidates = summary.where(F.col("token").isNotNull()).select("token").distinct()
    total = summary.where(F.col("token").isNull()).agg(
        F.sum("cnt").alias("_n")
    )
    toks = df.select(
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z]+"), F.lit(0))
        ).alias("token")
    )
    counts = (
        toks.join(F.broadcast(candidates), "token", "semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .where(F.col("freq") * F.lit(den) >= F.col("_n") * F.lit(num))
        .select("token", "freq")
        .orderBy(F.desc("freq"), "token")
    )


# --- frozen n-gram language/domain identification ---------------------------

#: Frozen seed corpora for the char-trigram classifier — one phrase per
#: class, drawn from the synthetic corpus vocabulary so class profiles
#: genuinely discriminate.  The MODEL (integer weights below) derives
#: from these once at import; the seeds never touch the data path.
LANGID_SEEDS: dict[str, str] = {
    "analytics": (
        "group agg hash merge sort order window filter scan query "
        "table column row key value group agg window sort"
    ),
    "pipeline": (
        "stream batch spark data big small fast slow part line "
        "vector batch stream spark data part line batch"
    ),
    "retail": (
        "customer order line part value small big customer order "
        "the a customer part line order value the"
    ),
}

#: log-prob scale: weights are round(1e6 * ln p) — integer scores keep
#: the cross-engine argmax BIT-exact (an FP log-prob sum would make
#: near-ties ulp-fragile between Spark and the oracle).
LANGID_SCALE = 1_000_000


def langid_model() -> tuple[dict[str, tuple[int, ...]], tuple[int, ...], tuple[str, ...]]:
    """The frozen classifier: per-class add-one-smoothed char-trigram
    log-probabilities, scaled to integers.

    Returns ``(weights, unseen, classes)`` where ``classes`` is the
    sorted class tuple, ``weights[gram][c]`` is
    ``round(SCALE · ln((cnt_c(gram)+1) / (total_c + V)))`` and
    ``unseen[c]`` the matching out-of-vocabulary term
    ``round(SCALE · ln(1 / (total_c + V)))`` — the lm_bigram_score
    smoothing discipline, frozen to literals.  Both the Spark plan and
    the DuckDB oracle consume THIS dict (the QUALITY_LR_WEIGHTS
    shared-literal pattern), so the model is part of the query spec and
    libm rounding at generation time cannot split the engines."""
    import math

    classes = tuple(sorted(LANGID_SEEDS))
    counts: dict[str, dict[str, int]] = {}
    for c in classes:
        s = LANGID_SEEDS[c].lower()
        cc: dict[str, int] = {}
        for i in range(max(len(s) - 2, 1)):
            g = s[i : i + 3]
            cc[g] = cc.get(g, 0) + 1
        counts[c] = cc
    vocab = sorted({g for cc in counts.values() for g in cc})
    v = len(vocab)
    totals = {c: sum(counts[c].values()) for c in classes}
    weights = {
        g: tuple(
            round(
                LANGID_SCALE
                * math.log((counts[c].get(g, 0) + 1) / (totals[c] + v))
            )
            for c in classes
        )
        for g in vocab
    }
    unseen = tuple(
        round(LANGID_SCALE * math.log(1.0 / (totals[c] + v))) for c in classes
    )
    return weights, unseen, classes


def langid_trigram(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Classify each doc with the frozen trigram model: explode char
    trigrams (lowered, per-OCCURRENCE — frequency matters), broadcast-
    join the literal weight table, integer-sum one score column per
    class, argmax with alphabetical tie-break.  One corpus pass, one
    doc-keyed shuffle for the per-doc sum; the model table is
    vocabulary-sized and broadcast — the plan a 100 TB scan wants.

    Output: (doc_id, lang_pred, lang_score) — docs with NULL text get
    NULL pred/score (no trigrams, nothing to argmax)."""
    spark = df.sparkSession
    weights, unseen, classes = langid_model()
    wrows = [(g, *w) for g, w in sorted(weights.items())]
    wdf = spark.createDataFrame(
        wrows, ["gram", *[f"_w_{c}" for c in classes]]
    )
    text = F.lower(F.col(text_col))
    tg = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(1), F.greatest(F.length(text) - F.lit(2), F.lit(1))
                ),
                lambda i: F.substring(text, i, F.lit(3)),
            )
        ).alias("gram"),
    )
    sc = (
        tg.join(F.broadcast(wdf), "gram", "left")
        .groupBy(id_col)
        .agg(
            *[
                F.sum(F.coalesce(F.col(f"_w_{c}"), F.lit(unseen[i]))).alias(
                    f"_s_{c}"
                )
                for i, c in enumerate(classes)
            ]
        )
    )
    best = F.greatest(*[F.col(f"_s_{c}") for c in classes])
    pred = F.lit(None).cast("string")
    for c in reversed(classes):  # build when-chain in ALPHABETICAL order
        pred = F.when(F.col(f"_s_{c}") == best, F.lit(c)).otherwise(pred)
    scored = sc.select(
        F.col(id_col),
        pred.alias("lang_pred"),
        best.alias("lang_score"),
    )
    return df.select(id_col).join(scored, id_col, "left")


def langid_trigram_fast(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Single-pass Arrow kernel computing the SAME output as
    :func:`langid_trigram` — the char_entropy_fast pattern: no explode,
    no join, no shuffle; each batch counts its docs' trigrams in numpy
    and dot-products against the broadcast integer weight table.  Pure
    int64 arithmetic, so bit-identity with the slow path is exact by
    construction (pinned in tests/test_llm_ops.py)."""
    import numpy as np
    import pandas as pd

    weights, unseen, classes = langid_model()
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast((weights, unseen, classes))

    def gen(batches):
        w, u, cls = bc.value
        # int trigram keys (3 shifted codepoints — the lm_score_fast
        # encoding widened to trigrams) so per-doc counting is one
        # np.unique instead of a per-occurrence Python dict loop; the
        # weight lookup then runs once per DISTINCT doc trigram.  Every
        # vocab gram is exactly 3 chars, so degenerate (<3 char) grams
        # can never collide into the table — they fall to the unseen
        # term, same as the slow path's failed join.
        int_w = {
            (ord(g[0]) << 42) | (ord(g[1]) << 21) | ord(g[2]): wv
            for g, wv in w.items()
        }
        uarr = np.array(u, dtype=np.int64)
        for pdf in batches:
            ids, preds, scores = [], [], []
            for doc_id, t in zip(pdf["doc_id"], pdf[text_col]):
                ids.append(doc_id)
                if t is None:
                    preds.append(None)
                    scores.append(None)
                    continue
                s = t.lower()
                if len(s) < 3:
                    totals = uarr.copy()  # one degenerate gram, unseen
                else:
                    codes = np.frombuffer(
                        s.encode("utf-32-le"), dtype=np.uint32
                    ).astype(np.int64)
                    keys = (codes[:-2] << 42) | (codes[1:-1] << 21) | codes[2:]
                    uk, cnt = np.unique(keys, return_counts=True)
                    totals = np.zeros(len(cls), dtype=np.int64)
                    seen = 0
                    for k, c in zip(uk.tolist(), cnt.tolist()):
                        wv = int_w.get(k)
                        if wv is not None:
                            seen += c
                            for j, wj in enumerate(wv):
                                totals[j] += wj * c
                    totals += uarr * (len(keys) - seen)
                best = int(totals.max())
                preds.append(cls[int(totals.argmax())])  # first == alpha min
                scores.append(best)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "lang_pred": pd.Series(preds, dtype="object"),
                    "lang_score": pd.array(scores, dtype="Int64"),
                }
            )

    out = df.select(F.col(id_col).alias("doc_id"), F.col(text_col)).mapInPandas(
        gen, "doc_id bigint, lang_pred string, lang_score bigint"
    )
    return out.withColumnRenamed("doc_id", id_col)
