"""Hand-computed and property tests for the round-4 operators:
interval concurrency, funnel, retention, fuzzy blocked join, forward
as-of join, fixed-width histogram, token counts, LSH embedding dedup.
(The DuckDB oracle mirror in test_oracle_parity.py covers end-to-end
parity; these lock the semantic edge cases directly.)
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from durablefunctions_mapreduce_dotnet_spark.operators.analytics import (
    funnel_counts,
    interval_concurrency,
)
from durablefunctions_mapreduce_dotnet_spark.operators.joins import (
    asof_join_backward,
    asof_join_forward,
)
from durablefunctions_mapreduce_dotnet_spark.operators.linkage import blocked_fuzzy_join


def test_concurrency_half_open_boundary(spark):
    # [0,10) [10,20): back-to-back never overlap; [5,15) overlaps both
    df = spark.createDataFrame(
        [("k", 0, 10), ("k", 10, 20), ("k", 5, 15)], "part string, s long, e long"
    )
    out = interval_concurrency(df, "part", F.col("s"), F.col("e")).collect()
    assert len(out) == 1
    # peak = 2 (at t=5 and again at t=10: -1+1+0 keeps 2); earliest peak t=5
    assert out[0].peak_concurrency == 2 and out[0].peak_at_us == 5


def test_concurrency_ties_net_to_zero(spark):
    # 3 intervals all ending exactly where 3 others start: peak stays 3
    rows = [("k", i * 10, i * 10 + 10) for i in range(6)]
    rows += [("k", 0, 60)] * 2
    df = spark.createDataFrame(rows, "part string, s long, e long")
    out = interval_concurrency(df, "part", F.col("s"), F.col("e")).collect()[0]
    assert out.peak_concurrency == 3 and out.peak_at_us == 0


def _ts(m):
    return dt.datetime(2024, 1, 1, 0, m)


def test_funnel_order_matters(spark):
    rows = [
        # u1 completes in order
        (1, "view", _ts(0)), (1, "click", _ts(5)), (1, "purchase", _ts(9)),
        # u2 clicked BEFORE first view: click doesn't count, purchase unreachable
        (2, "click", _ts(0)), (2, "view", _ts(5)), (2, "purchase", _ts(9)),
        # u3 same-instant click counts (>= semantics)
        (3, "view", _ts(1)), (3, "click", _ts(1)),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    out = {r.step_name: r.n_users for r in funnel_counts(
        df, "user_id", "event_type", "ts", ["view", "click", "purchase"]
    ).collect()}
    assert out == {"view": 3, "click": 2, "purchase": 1}


def test_asof_forward_matches_pandas_merge_asof(spark):
    import pandas as pd

    left = pd.DataFrame(
        {"id": range(40), "k": [i % 3 for i in range(40)], "lts": [float(i * 7 % 50) for i in range(40)]}
    )
    right = pd.DataFrame(
        {"k": [i % 3 for i in range(30)], "rts": [float(i * 11 % 60) for i in range(30)], "pay": [float(i) for i in range(30)]}
    )
    # pandas: sort both sides, forward direction, by-key
    exp = pd.merge_asof(
        left.sort_values("lts", kind="stable"),
        right.sort_values("rts", kind="stable").rename(columns={"rts": "matched"}),
        left_on="lts", right_on="matched", by="k", direction="forward",
    ).dropna(subset=["matched"])
    l = spark.createDataFrame(left).select("id", "k", F.col("lts").cast("timestamp").alias("ts"))
    r = spark.createDataFrame(right).select("k", F.col("rts").cast("timestamp").alias("ts"), "pay")
    got = asof_join_forward(l, r, key="k", payload={"pay": "pay"}, inner=True).select(
        "id", F.unix_timestamp("matched_ts").cast("double").alias("matched")
    ).toPandas().sort_values("id")
    exp2 = exp[["id", "matched"]].sort_values("id")
    # duplicate rts per key: merge_asof picks the last dup's payload; we
    # compare matched timestamps only (payload tie-break is our own
    # deterministic max-struct contract, asserted in the backward tests)
    assert got["id"].tolist() == exp2["id"].tolist()
    assert got["matched"].tolist() == pytest.approx(exp2["matched"].tolist())


def test_asof_forward_equal_ts_matches_and_backward_agrees(spark):
    l = spark.createDataFrame([(1, 1, 100)], "id long, k long, t long").select(
        "id", "k", F.timestamp_seconds("t").alias("ts")
    )
    r = spark.createDataFrame([(1, 100, 7.0), (1, 200, 9.0)], "k long, t long, v double").select(
        "k", F.timestamp_seconds("t").alias("ts"), "v"
    )
    fwd = asof_join_forward(l, r, key="k", payload={"v": "v"}).collect()[0]
    back = asof_join_backward(l, r, key="k", payload={"v": "v"}).collect()[0]
    # equal timestamp matches in BOTH directions (>= / <= semantics)
    assert fwd.v == 7.0 and back.v == 7.0


def test_fuzzy_join_blocks_bound_candidates(spark):
    left = spark.createDataFrame(
        [(1, "b1", "kitten"), (2, "b2", "sitting")], "lid long, blk string, lname string"
    )
    right = spark.createDataFrame(
        [(10, "b1", "kitten"), (11, "b1", "kittens"), (12, "b2", "kitten")],
        "rid long, blk string, rname string",
    )
    out = blocked_fuzzy_join(left, right, ["blk"], "lname", "rname", max_edit=1)
    got = {(r.lid, r.rid, r.edit_dist) for r in out.collect()}
    # kitten->kitten d=0, kitten->kittens d=1; cross-block kitten (b2) is
    # NEVER a candidate — blocking recall loss is the documented contract;
    # sitting vs kitten d=3 > 1 rejected
    assert got == {(1, 10, 0), (1, 11, 1)}


def test_fuzzy_join_distance_is_exact(spark):
    left = spark.createDataFrame([(1, "b", "abcdef")], "lid long, blk string, lname string")
    right = spark.createDataFrame([(2, "b", "abXdYf")], "rid long, blk string, rname string")
    assert blocked_fuzzy_join(
        left, right, ["blk"], "lname", "rname", max_edit=2
    ).collect()[0].edit_dist == 2


def test_histogram_negative_values_floor(spark):
    from durablefunctions_mapreduce_dotnet_spark.operators.curation import (
        fixed_width_histogram,
    )

    df = spark.createDataFrame([(-0.5,), (-10.0,), (0.5,), (9.9,), (10.0,)], "v double")
    rows = {r.bucket: r for r in fixed_width_histogram(df, "v", 10.0).collect()}
    # floor semantics: -0.5 and -10.0 both land in bucket -1; 10.0 in bucket 1
    assert rows[-1].n_rows == 2 and rows[0].n_rows == 2 and rows[1].n_rows == 1
    assert rows[-1].bucket_lo == -10.0


def test_token_counts_known_sentence(spark):
    from durablefunctions_mapreduce_dotnet_spark.operators.textops import token_counts

    df = spark.createDataFrame([(1, "Hello world, it's 42 tokens!")], "doc_id long, text string")
    r = token_counts(df).collect()[0]
    # ws: Hello|world,|it's|42|tokens! ; bpe: Hello| world|,| it|'s| 42| tokens|!
    assert r.n_ws_tokens == 5 and r.n_bpe_tokens == 8


def test_embedding_lsh_pairs_subset_of_exact(spark):
    from durablefunctions_mapreduce_dotnet_spark.operators.dedup import (
        embedding_near_dup_lsh,
        embedding_near_dup_pairs,
    )
    from .conftest import SF_DIR
    from durablefunctions_mapreduce_dotnet_spark.sources.readers import read_table

    e = read_table(spark, SF_DIR, "embeddings")
    exact = {(r.id_a, r.id_b) for r in embedding_near_dup_pairs(e, threshold=0.45).collect()}
    lsh = {(r.id_a, r.id_b) for r in embedding_near_dup_lsh(e, threshold=0.45).collect()}
    # banding can only LOSE pairs, never invent them (every candidate is
    # exactly scored); and it should find something on this corpus
    assert lsh <= exact
    if exact:
        assert len(lsh) / len(exact) >= 0.5


def test_global_concurrency_matches_single_window(spark):
    """Two-pass bucketed running sum == the naive single-window answer
    on a timeline that spans multiple quantile buckets."""
    rows = [(i * 3, i * 3 + 17) for i in range(500)]
    df = spark.createDataFrame(rows, "s long, e long")
    from durablefunctions_mapreduce_dotnet_spark.operators.analytics import (
        global_interval_concurrency,
    )

    got = {
        r.t_us: r.concurrency
        for r in global_interval_concurrency(df, F.col("s"), F.col("e")).collect()
    }
    # independent reference: plain python sweep
    from collections import Counter

    net = Counter()
    for s, e in rows:
        net[s] += 1
        net[e] -= 1
    acc, exp = 0, {}
    for t in sorted(net):
        acc += net[t]
        exp[t] = acc
    assert got == exp


def test_scd2_collapses_repeats_and_handles_nulls(spark):
    from durablefunctions_mapreduce_dotnet_spark.operators.analytics import scd2_intervals

    rows = [
        (1, 10, 100, "a"),
        (1, 20, 101, "a"),   # repeat -> collapsed
        (1, 30, 102, "b"),   # change
        (1, 40, 103, None),  # change to NULL state
        (1, 50, 104, None),  # repeated NULL -> collapsed
        (1, 60, 105, "b"),   # change back
        (2, 10, 200, "x"),   # second key independent
    ]
    df = spark.createDataFrame(rows, "k long, t long, id long, v string").select(
        "k", F.timestamp_seconds("t").alias("ts"), "id", "v"
    )
    out = scd2_intervals(df, "k", "ts", "v", "id").select(
        "k", "v", F.unix_timestamp("valid_from").alias("f"),
        F.unix_timestamp("valid_to").alias("to"),
    ).collect()
    got = sorted([(r.k, r.v, r.f, r.to) for r in out], key=lambda x: (x[0], x[2]))
    assert got == [
        (1, "a", 10, 30),
        (1, "b", 30, 40),
        (1, None, 40, 60),
        (1, "b", 60, None),
        (2, "x", 10, None),
    ]


def test_detect_gaps_hand_case(spark):
    from durablefunctions_mapreduce_dotnet_spark.operators.timeseries import detect_gaps

    # series s: points at 0, 100, 5000, 5100 seconds -> one gap 100->5000
    rows = [("s", 0, 1), ("s", 100, 2), ("s", 5000, 3), ("s", 5100, 4),
            ("u", 0, 5), ("u", 10000, 6)]
    df = spark.createDataFrame(rows, "series string, t long, event_id long").select(
        "series", F.timestamp_seconds("t").alias("ts"), "event_id"
    )
    out = [(r.series, r.gap_start_us, r.gap_end_us, r.gap_seconds)
           for r in detect_gaps(df, "series", "ts", threshold_seconds=3600).collect()]
    assert out == [
        ("s", 100_000_000, 5_000_000_000, 4900),
        ("u", 0, 10_000_000_000, 10000),
    ]


def test_asof_forward_skew_path_identical(spark):
    """Hot-key bucketed forward as-of == plain forward as-of, including
    carry-over matches whose right row lives in a LATER time bucket."""
    import itertools

    # key 7 is hot with a sparse right side so many left rows must reach
    # into later buckets for their match
    left_rows = [(i, 7 if i % 4 else 2, i * 137 % 100_000) for i in range(300)]
    right_rows = [(7, t * 9973 % 100_000, float(t)) for t in range(40)]
    right_rows += [(2, t * 31 % 100_000, float(t + 1000)) for t in range(50)]
    l = spark.createDataFrame(left_rows, "id long, k long, t long").select(
        "id", "k", F.timestamp_seconds("t").alias("ts")
    )
    r = spark.createDataFrame(right_rows, "k long, t long, v double").select(
        "k", F.timestamp_seconds("t").alias("ts"), "v"
    )
    plain = asof_join_forward(l, r, key="k", payload={"v": "v"}, inner=False)
    skew = asof_join_forward(
        l, r, key="k", payload={"v": "v"}, inner=False,
        skew_keys=[7], skew_bucket_seconds=600.0,
    )
    key = lambda rows: sorted(
        (x.id, x.k, x.matched_ts, x.v) for x in rows
    )
    assert key(plain.collect()) == key(skew.collect())


def test_quality_audit_counts_violations(spark):
    from durablefunctions_mapreduce_dotnet_spark.operators.curation import quality_audit

    rows = [
        (1, 10, 5.0), (1, 11, 7.0),        # dup key
        (2, None, 50.0),                   # null fk
        (3, 12, -1.0), (4, 13, 1000.0),    # one below, one above bounds
    ]
    df = spark.createDataFrame(rows, "k long, fk long, v double")
    ref = spark.createDataFrame([(10,), (11,), (12,)], "pk long")
    out = {r.check: (r.metric, r.passed) for r in quality_audit(
        df, ["k"], not_null=["fk"], bounds={"v": (0.0, 100.0)},
        reference=(ref, "fk", "pk"),
    ).collect()}
    assert out["key_unique:k"] == (1, False)
    assert out["not_null:fk"] == (1, False)
    assert out["bounds:v"] == (2, False)
    # orphans: fk=13 missing from ref; NULL fk is also unmatched by the
    # anti join (NULL never equals) -> 2
    assert out["fk_exists:fk"] == (2, False)


def test_fuzzy_join_multipass_blocking_recovers_cross_block_match(spark):
    """Two blocking passes with independent keys, unioned — the
    documented recipe for recall beyond one pass.  The (b-mismatched)
    pair is invisible to pass 1 but caught by pass 2's key."""
    left = spark.createDataFrame(
        [(1, "b1", "Z9", "kitten")], "lid long, blk1 string, blk2 string, lname string"
    )
    right = spark.createDataFrame(
        [(10, "b2", "Z9", "kittens")], "rid long, blk1 string, blk2 string, rname string"
    )
    p1 = blocked_fuzzy_join(
        left.drop("blk2"), right.drop("blk2"), ["blk1"], "lname", "rname", 1
    )
    p2 = blocked_fuzzy_join(
        left.drop("blk1"), right.drop("blk1"), ["blk2"], "lname", "rname", 1
    )
    assert p1.count() == 0
    cols = ["lid", "rid", "edit_dist"]
    both = p1.select(cols).unionByName(p2.select(cols)).dropDuplicates(["lid", "rid"])
    assert [(r.lid, r.rid, r.edit_dist) for r in both.collect()] == [(1, 10, 1)]


def test_pagerank_mass_conservation_and_hand_graph(spark):
    """Total rank mass stays 1 every iteration (dangling redistribution
    included), and a 3-node hand graph gets the analytically-known
    ordering: a node fed by everything outranks its feeders.  Deep
    iteration counts REQUIRE the every-6th-round lineage cut — each
    un-cut round doubles the self-referencing plan (the operator
    docstring's contract), so this also exercises the cut path."""
    from durablefunctions_mapreduce_dotnet_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 3), (2, 3), (3, 1)], "src long, dst long"
    )
    # 30 iterations: the 1<->3 cycle oscillates with period 2 at decay
    # 0.85/step, so the parity-dependent wobble (~0.4 * 0.85^30 ~ 3e-3)
    # must fall below the stationary r3-r1 gap (~0.023) before the
    # ordering assertion is meaningful
    out = {
        r.node: r.rank
        for r in pagerank(edges, iters=30).collect()
    }
    assert abs(sum(out.values()) - 1.0) < 1e-6
    # node 2 has no in-links: rank is exactly the teleport term
    assert abs(out[2] - 0.15 / 3) < 1e-9
    assert out[3] > out[1] > out[2]

    # bipartite sinks (10, 11) are dangling: mass still sums to 1
    bip = spark.createDataFrame([(1, 10), (2, 10), (2, 11)], "src long, dst long")
    out2 = {
        r.node: r.rank
        for r in pagerank(bip, iters=4).collect()
    }
    assert abs(sum(out2.values()) - 1.0) < 1e-6
    assert out2[10] > out2[11]


def test_asof_nearest_matches_pandas(spark):
    import pandas as pd
    from durablefunctions_mapreduce_dotnet_spark.operators.joins import asof_join_nearest

    left = pd.DataFrame(
        {"id": range(40), "k": [i % 3 for i in range(40)],
         "lts": [float(i * 13 % 60) for i in range(40)]}
    )
    right = pd.DataFrame(
        {"k": [i % 3 for i in range(25)], "rts": [float(i * 17 % 55) for i in range(25)],
         "pay": [float(i) for i in range(25)]}
    )
    exp = pd.merge_asof(
        left.sort_values("lts", kind="stable"),
        right.sort_values("rts", kind="stable").rename(columns={"rts": "matched"}),
        left_on="lts", right_on="matched", by="k", direction="nearest",
    ).dropna(subset=["matched"]).sort_values("id")
    l = spark.createDataFrame(left).select("id", "k", F.col("lts").cast("timestamp").alias("ts"))
    r = spark.createDataFrame(right).select("k", F.col("rts").cast("timestamp").alias("ts"), "pay")
    got = asof_join_nearest(l, r, key="k", payload={"pay": "pay"}, inner=True).select(
        "id", F.unix_timestamp("matched_ts").cast("double").alias("matched")
    ).toPandas().sort_values("id")
    assert got["id"].tolist() == exp["id"].tolist()
    assert got["matched"].tolist() == pytest.approx(exp["matched"].tolist())


def test_cdc_apply_last_writer_wins_and_deletes(spark):
    from durablefunctions_mapreduce_dotnet_spark.operators.analytics import cdc_apply

    rows = [
        (1, 10, 100, "I", 1.0),
        (1, 20, 101, "U", 2.0),   # last for key 1 -> value 2.0
        (2, 10, 200, "I", 5.0),
        (2, 30, 201, "D", 0.0),   # deleted -> absent
        (3, 10, 300, "I", 7.0),
        (3, 10, 301, "U", 8.0),   # same ts: higher id wins
    ]
    df = spark.createDataFrame(rows, "k long, t long, id long, op string, v double").select(
        "k", F.timestamp_seconds("t").alias("ts"), "id", "op", "v"
    )
    out = {r.k: (r.v, r.last_ts) for r in cdc_apply(
        df, "k", "ts", "id", payload_cols=["v"]
    ).collect()}
    assert set(out) == {1, 3}
    assert out[1][0] == 2.0 and out[3][0] == 8.0


def test_char_entropy_known_values(spark):
    import math
    from durablefunctions_mapreduce_dotnet_spark.operators.textops import char_entropy

    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "abab"), (3, "abcd"), (4, "")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.entropy_bits for r in char_entropy(df).collect()}
    assert out[1] == 0.0                       # single symbol
    assert out[2] == pytest.approx(1.0)        # two equiprobable symbols
    assert out[3] == pytest.approx(2.0)        # four equiprobable symbols
    assert out[4] == 0.0                       # empty doc present, not dropped
    assert math.isfinite(out[3])


def test_lm_score_ranks_natural_above_gibberish(spark):
    from durablefunctions_mapreduce_dotnet_spark.operators.textops import lm_bigram_score

    ref_rows = [(100 + i, "the quick brown fox jumps over the lazy dog " * 3)
                for i in range(5)]
    docs = ref_rows + [
        (1, "the quick brown fox jumps high"),   # in-distribution
        (2, "zxqj vvkw qqzx jjjj wwww zzzz"),    # gibberish bigrams
        (3, "a"),                                 # too short: NULL
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    ref = d.where(F.col("doc_id") >= 100)
    out = {r.doc_id: r.lm_score for r in lm_bigram_score(d, ref).collect()}
    assert out[1] > out[2]          # natural text scores higher
    assert out[3] is None           # no bigrams -> NULL, doc kept
    assert out[100] > out[2]


def test_temperature_mix_flattens_shares(spark):
    from durablefunctions_mapreduce_dotnet_spark.operators.curation import temperature_mix

    rows = [(i, "big") for i in range(3000)] + [(10_000 + i, "small") for i in range(120)]
    d = spark.createDataFrame(rows, "doc_id long, source string")
    out = {r.source: (r.n_docs, r.n_kept) for r in temperature_mix(
        d, "doc_id", "source", target_fraction=0.5
    ).collect()}
    big_rate = out["big"][1] / out["big"][0]
    small_rate = out["small"][1] / out["small"][0]
    # temperature sampling keeps a HIGHER fraction of the small source
    assert small_rate > big_rate
    total_kept = out["big"][1] + out["small"][1]
    # total draw lands near the 50% target (hash is uniform)
    assert 0.40 < total_kept / 3120 < 0.60


def test_winnowing_guarantees_shared_fingerprint_for_long_overlap(spark):
    """The winnowing theorem: any shared substring of length >= k+w-1
    yields at least one shared fingerprint — even when the documents are
    otherwise COMPLETELY different (the case whole-doc MinHash misses)."""
    from durablefunctions_mapreduce_dotnet_spark.operators.dedup import (
        winnow_fingerprints,
        winnowing_overlap_pairs,
    )

    passage = "the stolen paragraph that appears verbatim in both docs"
    a = "completely unrelated preamble zzz " + passage + " and an unrelated tail qqq"
    b = "different opening entirely 12345 " + passage + " closing words here instead"
    c = "no shared content with anybody at all just its own words forever"
    df = spark.createDataFrame([(1, a), (2, b), (3, c)], "doc_id long, text string")
    fps = {r.doc_id: set(r.fingerprints) for r in winnow_fingerprints(df, k=8, window=4).collect()}
    assert fps[1] & fps[2]                # guaranteed shared fingerprint
    pairs = winnowing_overlap_pairs(df, k=8, window=4, min_shared=3).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]


def test_embedding_lsh_bucket_cap_split_is_result_preserving(spark):
    """max_bucket splits oversized buckets into gemm tiles; every
    unordered pair lands in exactly one tile, so even an absurdly small
    cap must return the EXACT same pair set (unlike the MinHash
    drop-cap, this path trades task granularity, not recall)."""
    from durablefunctions_mapreduce_dotnet_spark.operators.dedup import (
        embedding_near_dup_lsh,
    )
    from durablefunctions_mapreduce_dotnet_spark.sources.readers import read_table

    from .conftest import SF_DIR

    e = read_table(spark, SF_DIR, "embeddings")
    uncapped = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_lsh(e, threshold=0.45, max_bucket=None).collect()
    }
    tiny_cap = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_lsh(e, threshold=0.45, max_bucket=5).collect()
    }
    assert tiny_cap == uncapped and uncapped


def test_embedding_lsh_target_bucket_scales_planes(spark):
    """target_bucket_rows raises planes_per_table with corpus size (the
    actual sub-quadratic knob).  More planes can only LOSE collisions,
    never invent pairs — and every surviving pair is exactly scored."""
    from durablefunctions_mapreduce_dotnet_spark.operators.dedup import (
        embedding_near_dup_lsh,
    )
    from durablefunctions_mapreduce_dotnet_spark.sources.readers import read_table

    from .conftest import SF_DIR

    e = read_table(spark, SF_DIR, "embeddings")
    base = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_lsh(e, threshold=0.45).collect()
    }
    scaled = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_lsh(
            e, threshold=0.45, target_bucket_rows=8
        ).collect()
    }
    assert scaled <= base


def test_asof_forward_skew_width_matches_ts_units(spark, monkeypatch):
    """The seconds->micros bucket-width scaling applies ONLY when the
    timestamp column is a real timestamp; integer ts columns keep their
    own units (otherwise buckets come out 1e6x too wide and the hot key
    silently serializes into one bucket)."""
    from durablefunctions_mapreduce_dotnet_spark.operators import joins as J

    captured = {}
    orig = J._asof_bucketed

    def spy(l, r, cols, payload, width):
        captured["w"] = width
        return orig(l, r, cols, payload, width)

    monkeypatch.setattr(J, "_asof_bucketed", spy)
    l = spark.createDataFrame(
        [(i, 7, i * 10) for i in range(20)], "id long, k long, ts long"
    )
    r = spark.createDataFrame(
        [(7, t * 25, float(t)) for t in range(8)], "k long, ts long, v double"
    )
    J.asof_join_forward(
        l, r, key="k", payload={"v": "v"}, skew_keys=[7], skew_bucket_seconds=50.0
    ).collect()
    assert captured["w"] == 50.0

    lt = l.select("id", "k", F.timestamp_seconds("ts").alias("ts"))
    rt = r.select("k", F.timestamp_seconds("ts").alias("ts"), "v")
    J.asof_join_forward(
        lt, rt, key="k", payload={"v": "v"}, skew_keys=[7], skew_bucket_seconds=50.0
    ).collect()
    assert captured["w"] == 50.0 * 1_000_000.0


def test_asof_tolerance_matches_pandas(spark):
    """tolerance= must reproduce pandas merge_asof(tolerance=...):
    stale matches die, boundary-equal distance survives, forward
    direction scales the bound through the negated-micros trick."""
    import pandas as pd

    left = pd.DataFrame(
        {"id": range(30), "k": [i % 3 for i in range(30)],
         "lts": [float((i * 13) % 97) for i in range(30)]}
    )
    right = pd.DataFrame(
        {"k": [i % 3 for i in range(20)], "rts": [float((i * 7) % 60) for i in range(20)],
         "pay": [float(i) for i in range(20)]}
    )
    for direction, fn in (("backward", asof_join_backward), ("forward", asof_join_forward)):
        exp = pd.merge_asof(
            left.sort_values("lts", kind="stable"),
            right.sort_values("rts", kind="stable").rename(columns={"rts": "matched"}),
            left_on="lts", right_on="matched", by="k",
            direction=direction, tolerance=9.0,
        ).dropna(subset=["matched"])
        l = spark.createDataFrame(left).select(
            "id", "k", F.col("lts").cast("timestamp").alias("ts")
        )
        r = spark.createDataFrame(right).select(
            "k", F.col("rts").cast("timestamp").alias("ts"), "pay"
        )
        got = (
            fn(l, r, key="k", payload={"pay": "pay"}, inner=True, tolerance=9.0)
            .select("id", F.unix_timestamp("matched_ts").cast("double").alias("matched"))
            .toPandas()
            .sort_values("id")
        )
        exp2 = exp[["id", "matched"]].sort_values("id")
        assert got["id"].tolist() == exp2["id"].tolist(), direction
        assert got["matched"].tolist() == pytest.approx(exp2["matched"].tolist()), direction


def test_sequence_pattern_strict_contiguity(spark):
    """Strict contiguity is on the FILTERED stream: events of
    non-pattern types between steps don't break a match, but an
    out-of-order pattern-type event does; the span cutoff excludes
    slow sequences; overlapping occurrences each emit."""
    import datetime

    from durablefunctions_mapreduce_dotnet_spark.operators.analytics import (
        sequence_pattern_matches,
    )

    def t(m):
        return datetime.datetime(2024, 1, 1, 0, m, 0)

    rows = [
        # user 1: view -> (error ignored) -> click -> purchase : match
        (1, "view", t(0), 1),
        (1, "error", t(1), 2),
        (1, "click", t(2), 3),
        (1, "purchase", t(3), 4),
        # user 2: view -> click -> CLICK -> purchase : view's next-next
        # is click, not purchase -> no match at view; no other match
        (2, "view", t(0), 5),
        (2, "click", t(1), 6),
        (2, "click", t(2), 7),
        (2, "purchase", t(3), 8),
        # user 3: pattern present but too slow (span 10s)
        (3, "view", t(0), 9),
        (3, "click", t(1), 10),
        (3, "purchase", t(30), 11),
    ]
    df = spark.createDataFrame(
        rows, "user_id bigint, event_type string, ts timestamp, event_id bigint"
    )
    got = sequence_pattern_matches(
        df, "user_id", "event_type", "ts", ["view", "click", "purchase"], 600
    ).collect()
    assert [(r["user_id"],) for r in got] == [(1,)]
    r = got[0]
    assert r["t_2"] - r["t_1"] == 120_000_000
    assert r["t_3"] - r["t_1"] == 180_000_000

    # span large enough: user 3 matches too
    wide = sequence_pattern_matches(
        df, "user_id", "event_type", "ts", ["view", "click", "purchase"], 3600
    ).collect()
    assert sorted(r["user_id"] for r in wide) == [1, 3]
