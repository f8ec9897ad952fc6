"""Unit/property tests for the curation + graph operators (round 2)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from durablefunctions_mapreduce_dotnet_spark.operators.curation import (
    hash_bucket,
    pack_documents,
    train_val_test_split,
)
from durablefunctions_mapreduce_dotnet_spark.operators.graph import (
    canonicalize_clusters,
    connected_components,
)
from durablefunctions_mapreduce_dotnet_spark.sources.readers import read_table

from .conftest import SF_DIR


def test_connected_components_chain_star_and_islands(spark):
    # chain 1-2-3-4 (diameter > 1 forces >1 propagation round),
    # star 10-{11,12,13}, singleton edge 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (10, 13), (20, 21)],
        "id_a bigint, id_b bigint",
    )
    got = {r["n"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 13: 10, 20: 20, 21: 20}


def test_connected_components_small_path_matches_distributed(spark):
    """The size-gated driver union-find must be bit-equal to the
    propagation loop (both compute (node, min reachable id)) — on the
    real sf corpus's minhash pair graph, on string ids, and exactly AT
    the threshold boundary."""
    from durablefunctions_mapreduce_dotnet_spark.operators.dedup import (
        minhash_near_dup_pairs,
    )

    d = read_table(spark, SF_DIR, "documents")
    pairs = minhash_near_dup_pairs(d, threshold=0.6).select("id_a", "id_b")
    small = {
        (r["n"], r["component"])
        for r in connected_components(pairs, pairs_distinct_ordered=True).collect()
    }
    dist = {
        (r["n"], r["component"])
        for r in connected_components(
            pairs, pairs_distinct_ordered=True, small_graph_threshold=0
        ).collect()
    }
    assert small == dist and small

    sp = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "id_a string, id_b string"
    )
    got = {r["n"]: r["component"] for r in connected_components(sp).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}

    # threshold exactly equal to the edge count still takes the small
    # path; one below forces distributed — outputs identical
    three = spark.createDataFrame(
        [(1, 2), (3, 4), (4, 5)], "id_a bigint, id_b bigint"
    )
    at = {(r["n"], r["component"]) for r in
          connected_components(three, small_graph_threshold=3).collect()}
    below = {(r["n"], r["component"]) for r in
             connected_components(three, small_graph_threshold=2).collect()}
    assert at == below == {(1, 1), (2, 1), (3, 3), (4, 3), (5, 3)}


def test_canonicalize_marks_min_id_keep(spark):
    universe = spark.range(0, 8).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame([(1, 5), (5, 7)], "id_a bigint, id_b bigint")
    rows = {r["doc_id"]: (r["cluster_id"], r["keep"]) for r in canonicalize_clusters(universe, pairs).collect()}
    assert rows[1] == (1, True) and rows[5] == (1, False) and rows[7] == (1, False)
    # untouched docs are their own kept cluster
    assert rows[0] == (0, True) and rows[6] == (6, True)


def test_split_is_deterministic_partition_invariant(spark):
    d = read_table(spark, SF_DIR, "documents").select("doc_id")
    a = train_val_test_split(d, "doc_id").collect()
    b = train_val_test_split(d.repartition(13), "doc_id").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    frac = {s: n for s, n in ((r[0], r[1]) for r in
            train_val_test_split(d, "doc_id").groupBy("split").count().collect())}
    total = sum(frac.values())
    assert 0.85 < frac["train"] / total < 0.95  # ~90% with hash noise


def test_hash_bucket_range(spark):
    d = spark.range(0, 1000).select(hash_bucket(F.col("id"), 100).alias("b"))
    lo, hi = d.agg(F.min("b"), F.max("b")).first()
    assert 0 <= lo and hi <= 99


def test_packing_respects_budget_boundaries(spark):
    d = read_table(spark, SF_DIR, "documents")
    packed = pack_documents(d, budget_tokens=2048)
    # exclusive prefix sum within (source, pack) must start below budget:
    # pack_id == floor(pre/2048) implies pre in [pack*2048, (pack+1)*2048)
    w_ok = packed.withColumn(
        "pre",
        F.coalesce(
            F.sum("n_tokens").over(
                Window.partitionBy("source")
                .orderBy("doc_id")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    bad = w_ok.where(
        (F.col("pre") < F.col("pack_id") * 2048)
        | (F.col("pre") >= (F.col("pack_id") + 1) * 2048)
    ).count()
    assert bad == 0


def test_simhash_negative_signature_chunks_still_bucket(spark):
    """Regression for the signed-chunk bug (ADVICE r1): two identical
    texts whose simhash is NEGATIVE must still meet in a chunk bucket
    and appear as a hamming-0 candidate pair."""
    from durablefunctions_mapreduce_dotnet_spark.operators.dedup import (
        simhash_candidates,
        simhash_from_hashes_udf,
        token_hashes_expr,
    )

    base = "zq xv qk jj wy zz pq vx kq jx"  # arbitrary; we scan for a negative-sig text
    cands = None
    for salt in range(40):
        text = f"{base} s{salt}"
        df = spark.createDataFrame([(1, text), (2, text)], "doc_id bigint, text string")
        sig = (
            df.select(token_hashes_expr("text").alias("hs"))
            .select(simhash_from_hashes_udf()(F.col("hs")).alias("sh"))
            .first()["sh"]
        )
        if sig < 0:
            cands = simhash_candidates(df, max_hamming=0).collect()
            break
    assert cands is not None, "no negative simhash found in probe space"
    assert [(r["id_a"], r["id_b"], r["hamming"]) for r in cands] == [(1, 2, 0)]


def test_connected_components_reliable_checkpoint_path(reliable_cuts):
    """The cluster-grade cut (fault-tolerant ``df.checkpoint``, taken by
    ``session.cut`` when the context has a checkpoint dir) must produce
    the same fixpoint as ``localCheckpoint``, and write its rounds to
    that dir."""
    want = [[1, 1], [2, 1], [3, 1], [4, 1], [10, 10], [11, 10]]
    assert reliable_cuts["local"]["cc"] == want
    assert reliable_cuts["reliable"]["cc"] == want
    assert reliable_cuts["files"]["cc"] > 0


def test_connected_components_raises_when_unconverged(spark):
    import pytest

    # a 6-chain needs ~3 min-label rounds; max_iter=1 cannot converge
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)], "id_a bigint, id_b bigint"
    )
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(pairs, max_iter=1, small_graph_threshold=0)


def test_pointer_jumping_collapses_long_chain(spark):
    """A 48-node path has diameter 47: plain min-label propagation needs
    ~47 rounds (more than max_iter=8 -> must raise), while pointer
    jumping chases label-of-label each round and lands the fixpoint
    within O(log n) rounds — same labels, exponentially fewer shuffles
    on adversarial chain graphs."""
    import pytest

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(47)], "id_a bigint, id_b bigint"
    )
    got = {
        r["n"]: r["component"]
        for r in connected_components(
            chain, max_iter=8, pointer_jumping=True, small_graph_threshold=0
        ).collect()
    }
    assert got == {i: 0 for i in range(48)}
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(chain, max_iter=8, small_graph_threshold=0)


def test_connected_components_converges_on_exact_budget_boundary(spark):
    """Diameter exactly max_iter must converge even when probe batching
    means the LAST in-budget probe is the first to see the fixpoint sum:
    the final detection-only step may not be charged against the
    propagation budget.  A 6-chain needs 5 min-label steps; with
    steps_per_probe=2 the probes land at steps 2/4/5, every sum still
    changing — only the extra post-budget probe can certify the
    fixpoint."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)], "id_a bigint, id_b bigint"
    )
    got = {
        r["n"]: r["component"]
        for r in connected_components(
            pairs, max_iter=5, steps_per_probe=2, small_graph_threshold=0
        ).collect()
    }
    assert got == {i: 1 for i in range(1, 7)}


def test_triangle_counts_hand_graph(spark):
    """K4 (every node in 3 triangles), one pendant edge (no triangles),
    an isolated edge, plus duplicate/reverse/self-loop noise that must
    canonicalize away."""
    from durablefunctions_mapreduce_dotnet_spark.operators.graph import (
        triangle_counts,
    )

    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    noise = [(2, 1), (3, 3), (1, 2)]  # reverse dup, self-loop, exact dup
    edges = k4 + [(4, 5), (8, 9)] + noise
    got = {
        r["n"]: r["n_triangles"]
        for r in triangle_counts(
            spark.createDataFrame(edges, "id_a bigint, id_b bigint")
        ).collect()
    }
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_label_propagation_matches_python_reference(spark):
    """Synchronous LPA with smallest-label tie-break vs an independent
    pure-Python simulation on a two-clique + bridge graph, including
    reverse/self-loop noise that must canonicalize away."""
    import random

    from durablefunctions_mapreduce_dotnet_spark.operators.graph import (
        label_propagation,
    )

    c1 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    c2 = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    edges = c1 + c2 + [(4, 10), (7, 7), (2, 1)]

    def ref_lpa(es, iters):
        adj = {}
        for a, b in es:
            if a == b:
                continue
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        lab = {n: n for n in adj}
        for _ in range(iters):
            nxt = {}
            for n, nbrs in adj.items():
                votes = {}
                for m in nbrs:
                    votes[lab[m]] = votes.get(lab[m], 0) + 1
                nxt[n] = min(votes, key=lambda L: (-votes[L], L))
            lab = nxt
        return lab

    rng = random.Random(7)
    for iters in (1, 2, 4):
        got = {
            r["node"]: r["label"]
            for r in label_propagation(
                spark.createDataFrame(edges, "id_a bigint, id_b bigint"),
                iters=iters,
            ).collect()
        }
        assert got == ref_lpa(edges, iters), f"iters={iters}"

    # and on a random graph: 30 nodes, 60 random edges
    redges = [
        (rng.randrange(30), rng.randrange(30)) for _ in range(60)
    ]
    redges = [e for e in redges if e[0] != e[1]]
    got = {
        r["node"]: r["label"]
        for r in label_propagation(
            spark.createDataFrame(redges, "id_a bigint, id_b bigint"),
            iters=3,
        ).collect()
    }
    assert got == ref_lpa(redges, 3)


def test_kcore_hand_graph(spark):
    """K4 with a pendant chain: 3-core = exactly the K4 (the chain peels
    in cascading rounds — node 5 falls, then 6 loses its last support),
    and within-core degrees are reported.  2-core of a pure cycle is the
    whole cycle."""
    from durablefunctions_mapreduce_dotnet_spark.operators.graph import kcore

    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    chain = [(4, 5), (5, 6)]
    got = {
        r["node"]: r["degree"]
        for r in kcore(
            spark.createDataFrame(k4 + chain, "id_a bigint, id_b bigint"), k=3
        ).collect()
    }
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}

    cycle = [(1, 2), (2, 3), (3, 4), (4, 1)]
    got2 = {
        r["node"]: r["degree"]
        for r in kcore(
            spark.createDataFrame(cycle, "id_a bigint, id_b bigint"), k=2
        ).collect()
    }
    assert got2 == {1: 2, 2: 2, 3: 2, 4: 2}

    # k above the max degree: empty core, with the empty-result schema
    assert (
        kcore(
            spark.createDataFrame(cycle, "id_a bigint, id_b bigint"), k=5
        ).count()
        == 0
    )


def test_common_neighbor_jaccard_hand_graph(spark):
    """Star + triangle: leaves of a star share the hub (1 common
    neighbor, degree 1 each -> J = 1/(1+1-1) = 1.0); triangle nodes
    share exactly one neighbor with J = 1/3."""
    from durablefunctions_mapreduce_dotnet_spark.operators.graph import (
        common_neighbor_jaccard,
    )

    star = [(10, 1), (10, 2)]
    tri = [(20, 21), (21, 22), (20, 22)]
    got = {
        (r["node_a"], r["node_b"]): (r["n_common"], r["jaccard"])
        for r in common_neighbor_jaccard(
            spark.createDataFrame(star + tri, "id_a bigint, id_b bigint")
        ).collect()
    }
    assert got[(1, 2)] == (1, 1.0)
    assert got[(20, 21)] == (1, 1 / 3)
    assert got[(20, 22)] == (1, 1 / 3)
    assert got[(21, 22)] == (1, 1 / 3)
    # hub pairs with nobody (leaves have no second neighbor)
    assert not any(10 in p for p in got)


def test_kcore_and_jaccard_ignore_self_loops(spark):
    """A self-loop must not hold its node in the core (it would grant
    +2 un-peelable degree) nor let a node act as its own common
    neighbor."""
    from durablefunctions_mapreduce_dotnet_spark.operators.graph import (
        common_neighbor_jaccard,
        kcore,
    )

    cycle = [(1, 2), (2, 3), (3, 1), (4, 4), (4, 1)]
    core = {
        r["node"]: r["degree"]
        for r in kcore(
            spark.createDataFrame(cycle, "id_a bigint, id_b bigint"), k=2
        ).collect()
    }
    # node 4's loop is dropped; its single real edge peels it away
    assert core == {1: 2, 2: 2, 3: 2}

    sim = common_neighbor_jaccard(
        spark.createDataFrame([(5, 5), (5, 6), (5, 7)], "id_a bigint, id_b bigint")
    ).collect()
    got = {(r["node_a"], r["node_b"]): r["n_common"] for r in sim}
    assert got == {(6, 7): 1}  # via center 5 only; the loop adds nothing


def test_landmark_bfs_known_distances(spark):
    """Path graph 1-2-3-4-5 plus isolated edge 8-9: exact hop counts,
    depth cutoff honored, unreachable nodes absent, isolated-landmark
    component separate, and undirected symmetrization applied (edges
    given in one direction only)."""
    from durablefunctions_mapreduce_dotnet_spark.operators.graph import landmark_bfs

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (8, 9)], "src bigint, dst bigint"
    )
    lms = spark.createDataFrame([(1,), (9,)], "lm bigint")
    got = {
        (r.lm, r.node): r.dist
        for r in landmark_bfs(edges, lms, max_depth=3).collect()
    }
    assert got == {
        (1, 1): 0, (1, 2): 1, (1, 3): 2, (1, 4): 3,   # 5 is beyond depth 3
        (9, 9): 0, (9, 8): 1,                          # reverse direction works
    }


def test_sssp_keeps_longer_hop_cheaper_path(spark):
    """Triangle with an expensive direct edge: 1-2 costs 10, but
    1-3-2 costs 2.  First-visit BFS pruning would lock node 2 at 10;
    Bellman-Ford relaxation must settle at 2 (and at rounds=1, where
    only the direct edge is reachable, it must report 10)."""
    from durablefunctions_mapreduce_dotnet_spark.operators.graph import sssp_bounded

    edges = spark.createDataFrame(
        [(1, 2, 10), (1, 3, 1), (3, 2, 1)], "src bigint, dst bigint, w bigint"
    )
    two = {r.node: r.cost for r in sssp_bounded(edges, 1, rounds=2).collect()}
    assert two == {1: 0, 2: 2, 3: 1}
    one = {r.node: r.cost for r in sssp_bounded(edges, 1, rounds=1).collect()}
    assert one == {1: 0, 2: 10, 3: 1}


def test_mix_schedule_stride_bound(spark):
    """The stride guarantee the mix-schedule query sells: after ANY
    prefix of n steps, every source's emission count stays within 1 of
    n*share — no burst, no starvation.  Also: per-source k must count
    0,1,2,... in order (a source's own examples are never reordered)."""
    import importlib

    entry = importlib.import_module("__spark_entry__")
    pdf = (
        entry.queries()["curation_mix_schedule"](spark, SF_DIR)
        .toPandas()
        .sort_values("step")
        .reset_index(drop=True)
    )
    assert len(pdf) == 500
    from durablefunctions_mapreduce_dotnet_spark.sources.readers import read_table

    cnt = {
        r.lang: r["count"]
        for r in read_table(spark, SF_DIR, "documents")
        .groupBy("lang")
        .count()
        .collect()
    }
    total = sum(cnt.values())
    cum = {s: 0 for s in cnt}
    seen_k = {s: [] for s in cnt}
    for row in pdf.itertuples():
        cum[row.lang] += 1
        seen_k[row.lang].append(row.k)
        n = row.step
        for s in cnt:
            share = cnt[s] / total
            assert abs(cum[s] - n * share) <= 1.0 + 1e-9, (s, n, cum[s], n * share)
    for s, ks in seen_k.items():
        assert ks == list(range(len(ks))), s
