"""Iterative graph operators: connected components for dedup clustering.

The near-dup operators (operators.dedup) emit PAIRS; a real curation
pipeline needs per-document CLUSTER assignment (transitive closure of
the pair relation) plus a canonical-representative choice.  Absent from
the reference (its one query has no graph shape at all); built here as
an iterative DataFrame algorithm — genuinely non-SQL-single-query, the
classic case SURVEY.md §2.2 reserves for loops over DataFrames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import cut


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 30,
    pointer_jumping: bool = False,
    steps_per_probe: int = 2,
    pairs_distinct_ordered: bool = False,
    small_graph_threshold: int = 65_536,
) -> DataFrame:
    """(node, component) where component = MIN node id reachable via the
    undirected pair relation — min-label propagation to fixpoint.

    Per iteration: one equi-join (neighbor labels) + one min-groupBy —
    two shuffles keyed on node id, both combiner-reduced; lineage is cut
    per round with ``session.cut`` so plans stay O(1) instead of growing
    (local cuts by default; reliable ones once the context has a
    checkpoint dir).
    Converges in O(component diameter) rounds: near-dup clusters are
    clique-ish (verified pairs), so diameter stays small (2-4) no matter
    the corpus size — at 1000-executor scale iteration count is
    corpus-independent; per-round cost is the two shuffles.

    ``pointer_jumping=True`` adds one label-chasing join per round
    (``component <- label(component)``, valid because labels are node
    ids and monotonically non-increasing), collapsing convergence to
    O(log diameter) — the path-compression move of large-star/small-star
    contraction.  Turn it on for adversarial long-chain graphs (e.g.
    sessions linked by shared IPs); for clique-ish dedup graphs the
    extra shuffle per round costs more than it saves.

    ``steps_per_probe`` batches that many propagation steps between
    convergence probes (default 2).  Total steps to the fixpoint are
    unchanged — the probe only DETECTS it — so batching trades at most
    ``steps_per_probe - 1`` redundant post-fixpoint steps for
    proportionally fewer full-frame probe aggregations and lineage
    cuts; the sum comparison across a batch is still exact (labels are
    monotone per node, so the total strictly decreases iff ANY of the
    batched steps changed a label).

    ``pairs_distinct_ordered=True`` declares the input pairs DISTINCT
    with ``src < dst`` on every row (true of any verified-pair table
    whose candidates were deduped — the MinHash pipelines): the
    symmetrized edge set is then union-disjoint by construction, so the
    edge build swaps ``distinct()`` for a plain ``repartition`` — same
    single exchange, no hash-dedup state.  The exchange itself is
    load-bearing either way and is NEVER skipped: the symmetrizing
    union doubles the upstream partition count, and every propagation
    round would re-pay that task overhead — one normalization shuffle
    amortizes it (measured: skipping it entirely was ~20% SLOWER
    end-to-end at sf0.1).  Correctness does not depend on the claim
    (duplicate edges only repeat min-label work), but a false claim
    wastes the dedup saving, so only callers that KNOW the shape
    should set it.

    ``small_graph_threshold`` is the adaptive small-input cutover (the
    same size-gated plan choice as a broadcast join): when the
    checkpointed pair list holds at most that many edges — ~a few MB,
    the broadcast class, NEVER corpus-sized — the components are solved
    with an exact driver-side union-find instead of the propagation
    loop.  Min-label propagation and min-representative union-find
    compute the identical (node, min reachable id) fixpoint, so the
    output is bit-equal; what changes is the cost model: each
    propagation round is 2 shuffles + a probe job, and on a 256-edge
    verified-pair graph that fixed job overhead (~1.2 s at sf0.1
    local[32]) dwarfs the actual work.  Pass 0 to always run
    distributed.  At 100 TB the verified-pair table exceeds any sane
    threshold and the distributed loop runs — the size check is one
    ``limit(t+1).toPandas()`` job that stops after t+1 rows and doubles
    as the edge collect when small, so the small path costs a single
    bounded job and no lineage-cut compile.

    Raises ``RuntimeError`` if ``max_iter`` propagation steps pass
    without reaching the fixpoint — unconverged labels are
    silently-wrong clusters, never returned.
    """
    # Every cut is lazy: lineage is cut but materialization rides the
    # NEXT job — here always the convergence probe, so each round costs
    # one pass over labels, not two.
    proj = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    if small_graph_threshold:
        # ONE bounded job answers BOTH "is it small?" and "give me the
        # edges": limit(t+1).toPandas() collects at most t+1 rows (the
        # same bound the old count probe had), so a huge pair table
        # stops after t+1 rows, while a small one arrives ready for the
        # union-find with no second scan.  No lineage cut runs on this
        # path — the projection is consumed exactly once, and skipping
        # the cut also skips its driver-side Catalyst compile (r14:
        # probe count + separate toPandas + toRdd compile were three
        # driver waits per CC call; this is one).
        pdf = proj.limit(small_graph_threshold + 1).toPandas()
        if len(pdf) <= small_graph_threshold:
            import pandas as pd

            parent: dict = {}

            def find(x):
                r = x
                while parent[r] != r:
                    r = parent[r]
                while parent[x] != r:  # path compression
                    parent[x], x = r, parent[x]
                return r

            for u, v in zip(pdf["u"], pdf["v"]):
                parent.setdefault(u, u)
                parent.setdefault(v, v)
                ru, rv = find(u), find(v)
                if ru != rv:
                    parent[ru] = rv
            comp_min: dict = {}
            for node in parent:
                r = find(node)
                comp_min[r] = min(comp_min.get(r, node), node)
            out = pd.DataFrame(
                {
                    "n": list(parent),
                    "component": [comp_min[find(x)] for x in parent],
                }
            )
            # dtypes ride the pandas round-trip, so ids keep their
            # source type (bigint / string) exactly like the
            # distributed output's
            if len(out):
                out = out.astype({"n": pdf["u"].dtype, "component": pdf["u"].dtype})
                return pairs.sparkSession.createDataFrame(out)
            return proj.select(
                F.col("u").alias("n"), F.col("u").alias("component")
            )
    # Distributed path: NOW cut the incoming pair pipeline — the
    # symmetrizing union consumes it twice, and without this cut an
    # expensive upstream (e.g. the MinHash verify join) would be
    # computed once per branch in the materialization job.
    one = cut(proj, eager=False)
    sym = one.union(one.select(F.col("v").alias("u"), F.col("u").alias("v")))
    edges = cut(
        sym.repartition("u") if pairs_distinct_ordered else sym.distinct(),
        eager=False,
    )
    labels = cut(
        edges.select(F.col("u").alias("n")).distinct().withColumn(
            "component", F.col("n")
        ),
        eager=False,
    )
    # Convergence probe: labels are per-node MONOTONICALLY non-increasing,
    # so the total sum strictly decreases iff any label changed across the
    # batched steps — a single cheap aggregation on the checkpointed frame
    # replaces a join-based diff.  Summed in decimal(38,0): a bigint sum
    # could overflow on huge id spaces and alias "changed" to "equal".
    # No probe runs on the INITIAL labels: when edges exist, step 1 always
    # lowers some label (every edge links distinct ids), so the first
    # comparable pair of sums is (round 1, round 2) — one fewer job, and
    # round 1's probe is what materializes the edges + labels checkpoints.
    probe = F.sum(F.col("component").cast("decimal(38,0)"))
    checksum: object = None

    def step(lbl: DataFrame) -> DataFrame:
        neighbor = (
            edges.join(
                lbl.select(F.col("n").alias("v"), F.col("component")), "v"
            ).select(F.col("u").alias("n"), "component")
        )
        lbl = lbl.union(neighbor).groupBy("n").agg(
            F.min("component").alias("component")
        )
        if pointer_jumping:
            chase = lbl.select(
                F.col("n").alias("component"), F.col("component").alias("_c2")
            )
            lbl = lbl.join(chase, "component", "left").select(
                "n", F.coalesce("_c2", "component").alias("component")
            )
        return lbl

    steps = 0
    while steps < max_iter:
        for _ in range(min(max(steps_per_probe, 1), max_iter - steps)):
            labels = step(labels)
            steps += 1
        labels = cut(labels, eager=False)
        new_sum = labels.agg(probe).first()[0]
        # None = empty label set (no pairs at all): trivially converged
        if new_sum is None or (checksum is not None and new_sum == checksum):
            return labels
        checksum = new_sum
    # Budget spent with the last probe still changing.  The fixpoint may
    # have landed exactly on the final in-budget step — the probe only
    # SEES a fixpoint one comparison later — so batching must not turn
    # "converged at step max_iter" into an error.  One detection-only
    # extra step settles it: labels are monotone, so a post-fixpoint
    # step leaves the checksum equal (return the converged labels),
    # while a changed checksum proves the diameter truly exceeds
    # max_iter (raise).
    if checksum is not None:
        if cut(step(labels), eager=False).agg(probe).first()[0] == checksum:
            return labels
    raise RuntimeError(
        f"connected_components: no fixpoint after max_iter={max_iter} "
        "propagation steps — labels would be unconverged; raise max_iter "
        "(diameter of the pair graph exceeds it)"
    )


def canonicalize_clusters(
    universe: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
    pairs_distinct_ordered: bool = False,
    small_graph_threshold: int = 65_536,
    pointer_jumping: bool = False,
) -> DataFrame:
    """Full dedup keep-list: every row of ``universe`` labeled with its
    near-dup cluster id (its own id when it has no duplicate) and a
    ``keep`` flag for the canonical (minimum-id) representative —
    the operator a training-data pipeline actually applies after pair
    generation.  ``pairs_distinct_ordered``, ``small_graph_threshold``
    and ``pointer_jumping`` forward to :func:`connected_components`
    (skip the edge-distinct shuffle when the pair table is already
    distinct with src < dst; solve tiny pair graphs driver-side; add
    the label-chasing join for chain graphs)."""
    comp = connected_components(
        pairs, src, dst,
        pairs_distinct_ordered=pairs_distinct_ordered,
        small_graph_threshold=small_graph_threshold,
        pointer_jumping=pointer_jumping,
    )
    return (
        universe.select(id_col)
        .join(comp.withColumnRenamed("n", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("component", F.col(id_col)).alias("cluster_id"),
        )
        .withColumn("keep", F.col(id_col) == F.col("cluster_id"))
    )


def incremental_components(
    prior: DataFrame,
    new_pairs: DataFrame,
    node: str = "node",
    comp: str = "component",
    src: str = "id_a",
    dst: str = "id_b",
    broadcast_delta: bool = True,
) -> DataFrame:
    """Incrementally maintain min-label connected components when a NEW
    batch of pairs arrives (the recurring-crawl sibling of
    :func:`connected_components`, completing the incremental story
    begun by ``incremental_dedup`` / ``minhash_near_dup_incremental``):
    given the PRIOR labeling ``(node, component)`` — component = min
    member id, the invariant :func:`connected_components` guarantees —
    and pairs touching the new batch, produce the labeling a full
    recompute over (all prior pairs ∪ new pairs) would produce, WITHOUT
    ever reading the prior pair set.

    The trick is graph CONTRACTION: prior components are already
    transitively closed, so each acts as a super-node represented by
    its label.  Map every new pair endpoint to its representative
    (prior component if known, the node itself if new — one lookup
    join per side), drop self-loops, and run CC over that contracted
    edge set, which is bounded by the NEW batch size, not the corpus.
    Because prior labels are min member ids and new nodes are their own
    ids, min-label CC over representatives yields exactly the global
    min member id of each merged component — the same invariant,
    restored.  Finally the delta labeling joins back onto the prior
    table (label' = delta(component) where present) and onto the new
    nodes (label' = delta(node)).

    Scale shape: O(|new pairs|) CC work + one hash join per side of the
    new pairs + ONE join over the prior labeling — with
    ``broadcast_delta`` (default; the delta is batch-sized by
    construction) that join is a broadcast, so the petabyte-scale prior
    labeling is never shuffled at all.  Equality with the full
    recompute is the driver-checked contract
    (``dedup_clusters_incremental`` shares the full-closure oracle —
    the agg_incremental_maintenance IVM pattern applied to graphs)."""
    from pyspark.storagelevel import StorageLevel

    # The pair table feeds THREE consumers (both contraction join sides
    # via `contracted`, plus the new-node endpoint scan) — and it is
    # typically the tail of a full verify pipeline.  Pin it once so the
    # caller's action doesn't re-run that pipeline per consumer branch
    # (r14: the un-pinned new_nodes branch alone re-executed the MinHash
    # verify join at action time, ~1.5 s of dedup_clusters_incremental).
    new_pairs = new_pairs.select(src, dst).persist(StorageLevel.MEMORY_AND_DISK)
    rep_a = prior.select(
        F.col(node).alias(src), F.col(comp).alias("_ca")
    )
    rep_b = prior.select(
        F.col(node).alias(dst), F.col(comp).alias("_cb")
    )
    contracted = (
        new_pairs
        .join(rep_a, src, "left")
        .join(rep_b, dst, "left")
        .select(
            F.coalesce("_ca", F.col(src)).alias("u"),
            F.coalesce("_cb", F.col(dst)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
    )
    delta = connected_components(contracted, "u", "v")
    dl = delta.select(
        F.col("n").alias("_rep"), F.col("component").alias("_new")
    )
    dlb = F.broadcast(dl) if broadcast_delta else dl
    # prior rows: relabel components merged by the delta, keep the rest
    upd_prior = (
        prior.join(dlb, prior[comp] == dlb["_rep"], "left")
        .select(
            F.col(node),
            F.coalesce("_new", F.col(comp)).alias(comp),
        )
    )
    # genuinely new nodes: endpoints of new pairs absent from prior
    new_nodes = (
        new_pairs.select(F.col(src).alias(node))
        .union(new_pairs.select(F.col(dst).alias(node)))
        .distinct()
        .join(prior.select(node), node, "anti")
    )
    upd_new = (
        new_nodes.join(dlb, new_nodes[node] == dlb["_rep"], "left")
        .select(
            F.col(node),
            F.coalesce("_new", F.col(node)).alias(comp),
        )
    )
    return upd_prior.unionByName(upd_new)


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Edge-multiplicity-weighted PageRank with dangling-mass
    redistribution, fixed ``iters`` power iterations — the crawl/domain
    ranking primitive of a web-scale curation pipeline.

    Per iteration (the standard shuffle shape — rank table joins edges
    on src, contributions combiner-sum on dst):

        contrib(dst) = Σ_{(src,dst) ∈ E} rank(src) / outdeg(src)
        rank'(v)     = (1-d)/N + d · (contrib(v) + dangling_mass / N)

    Determinism: contributions and the dangling mass are DECIMAL sums
    (order-free), and every scalar step — the per-row rank/deg divide,
    the (1-d)/N teleport, the d·(...) damping — is a single IEEE double
    op mirrored operation-for-operation in the SQL oracle, so ranks
    round-trip exactly at 9 dp.  The dangling total rides a broadcast
    1-row cross join (the scalar-subquery shape, BNLJ-allowlisted).

    ``iters`` is deliberately small; each round's ranks is PERSISTED
    (it feeds three consumers — see the loop comment) and lineage is
    cut lazily every 6th round, bounding logical-plan growth
    (~2^rounds between cuts, the landmark_bfs discipline) for
    convergence-scale iteration counts
    (same contract as :func:`connected_components`).  N (node count)
    is a driver scalar by design — the one collect is one long.

    The edge/node/degree frames AND each round's ranks are persisted
    evictable (MEMORY_AND_DISK); long-lived sessions free them with
    ``session.release_pins`` once the result is consumed.
    """
    from pyspark.storagelevel import StorageLevel

    # Loop-invariant structure is computed ONCE and pinned evictable:
    # the edge list pre-joined with out-degrees (so each iteration does
    # a single join with the rank table, not two), the node universe
    # (N-count + per-iteration densify), and the static dangling-node
    # set (out-degree-less nodes — per iteration only their CURRENT
    # ranks are summed, via a semi join instead of a rebuilt anti join).
    # Arithmetic is untouched (same rank/deg division, same decimal
    # sums), so ranks stay bit-identical to the unrolled SQL oracle.
    #
    # Node universe FIRST (straight from edges — identical to deriving
    # it from ew, since the degree join preserves every edge), so the
    # already-needed N doubles as the broadcast gate for the degree
    # join: when the node set fits an executor (n ≤ 2M ⇒ degree table
    # ≤ n rows ≈ tens of MB), the out-degree side broadcasts and the
    # edge table never shuffles for the ew build — one fewer full-edge
    # exchange at cluster scale.  Local measurement (sf0.1,
    # interleaved 4 rounds): 3.69 s vs 3.91 s best — noise-band
    # neutral, taken for the cluster-scale shuffle count.  r10 stretch
    # note: the remaining local-mode cost is setup (ew persist ~2.1 s
    # of the ~5.9 s cold bench run); broadcasting the RANK side each
    # iteration was also tried and measured SLOWER locally (4.44 vs
    # 3.71 s) because each broadcast adds a driver collect job per
    # iteration — the pinned-frame design stands.
    nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n = nodes.count()
    deg = edges.groupBy(F.col(src).alias("_s")).agg(
        F.count(F.lit(1)).alias("_deg")
    )
    ew = (
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .join(F.broadcast(deg) if n <= 2_000_000 else deg, "_s")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dang_nodes = nodes.join(
        ew.select("_s").distinct(), nodes.node == F.col("_s"), "left_anti"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    teleport = (1.0 - damping) / n
    for i in range(iters):
        contribs = (
            ew.join(ranks.select(F.col("node").alias("_s"), "rank"), "_s")
            .select("_d", (F.col("rank") / F.col("_deg")).alias("_c"))
        )
        summed = contribs.groupBy("_d").agg(
            F.sum(F.col("_c").cast("decimal(38,18)")).cast("double").alias("_sum")
        )
        dangling = (
            ranks.join(dang_nodes, "node", "semi")
            .agg(
                F.coalesce(
                    F.sum(F.col("rank").cast("decimal(38,18)")).cast("double"),
                    F.lit(0.0),
                ).alias("_dm")
            )
        )
        ranks = (
            nodes.join(summed, nodes.node == summed._d, "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit(teleport)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("_sum"), F.lit(0.0))
                        + F.col("_dm") / F.lit(float(n))
                    )
                ).alias("rank"),
            )
        )
        # the final iteration's lineage is depth-1 off the last round —
        # let the consumer's job compute it instead of spending a
        # materialization job on it
        if i < iters - 1:
            # Round discipline (r15, supersedes the r10 lazy-cut-only
            # tuning): each round's ranks feeds THREE consumers (the
            # contribution join, the dangling semi-agg, the densify
            # join), so PERSIST it — the pin shares one computation
            # across the branches and rides the caller's single action,
            # exactly the landmark_bfs/sssp_bounded r14 pattern.  The
            # lazy lineage cut is kept only every 6th round to bound
            # logical-plan growth (~2^rounds between cuts) for
            # convergence-scale iteration counts without paying a
            # Catalyst toRdd conversion per round.  Quiet interleaved
            # A/B at sf0.1 (r15, 4 reps, outputs asserted identical,
            # `git show de8968f:plans/r15/ab_pagerank_rounds.py`):
            # shipped lazy-cut-per-round 3.39 s min /
            # persist-per-round-no-cut 2.28 s /
            # persist+cut-per-round 3.66 s — persist wins every rep;
            # the per-round cut was the cost, not the fix.  Values are
            # bit-identical (cuts/pins change execution, not math).
            ranks = ranks.persist(StorageLevel.MEMORY_AND_DISK)
            if (i + 1) % 6 == 0:
                ranks = cut(ranks, eager=False)
    return ranks.select("node", F.round("rank", 9).alias("rank")).orderBy("node")


def triangle_counts(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """(node, n_triangles) — how many triangles each node closes in the
    undirected graph of ``edges`` (self-loops and duplicate/reverse
    edges tolerated; they are canonicalized away).

    The scale move is DEGREE ORDERING (the standard distributed
    triangle algorithm): orient every edge from its lower-(degree, id)
    endpoint to the higher one, then count wedges u→v, u→w (v < w in
    the same order) and close them against the oriented edge v→w.
    Out-degree under this orientation is bounded by O(√m) for ANY
    degree distribution, so the wedge join is O(m^1.5) worst-case
    instead of Σdeg² — a power-law hub with degree 10⁶ contributes
    nothing quadratic because all its edges point INTO it.  Three
    shuffles total (degrees, wedge join, closing join), all
    equi-joins; no driver state.

    The canonical edge list is persisted evictable; long-lived sessions
    free it with ``session.release_pins`` once the result is consumed.
    """
    # canonical edges feed THREE consumers (degrees + both sides of the
    # orientation join) and `oriented` feeds three more (e1, e2, the
    # closing probe) — pin both or the upstream edge derivation (often a
    # self-join) re-executes per branch.
    #
    # r15: `und` is PERSISTED, not eager-cut — `oriented`'s eager cut
    # below is und's FIRST consumer, so that one job materializes the
    # cache as a side effect and the separate und-materialization job
    # disappears (two serialized eager jobs become one); the wedge
    # stages then read the cut `oriented` and never touch und again, so
    # no racing stage can duplicate the distinct.  Quiet interleaved
    # A/B at sf0.1 (`git show de8968f:plans/r15/ab_graph_cuts.py`,
    # outputs asserted identical): eager+eager 1.15 s min /
    # persist+persist 1.05 / persist+eager 0.69 — every rep.  `oriented`
    # KEEPS the eager cut: its three wedge-join legs race within one
    # stage group, the MinHash-sign-table finding.
    from pyspark.storagelevel import StorageLevel

    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    deg = (
        und.select(F.col("u").alias("n"))
        .union(und.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("deg"))
    )
    # orient by (deg, id): lower endpoint keeps the out-edge
    w = (
        und.join(deg.select(F.col("n").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("n").alias("v"), F.col("deg").alias("dv")), "v")
    )
    uk = F.struct(F.col("du").alias("d"), F.col("u").alias("i"))
    vk = F.struct(F.col("dv").alias("d"), F.col("v").alias("i"))
    fwd = uk < vk
    oriented = cut(
        w.select(
            F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("t"),
            F.when(fwd, vk).otherwise(uk).alias("tk"),
        )
    )
    # wedges: two out-edges of s, ordered by the (deg, id) key so each
    # unordered pair appears once with a deterministic closing edge
    e1 = oriented.select(F.col("s"), F.col("t").alias("t1"), F.col("tk").alias("k1"))
    e2 = oriented.select(F.col("s"), F.col("t").alias("t2"), F.col("tk").alias("k2"))
    wedges = e1.join(e2, "s").where(F.col("k1") < F.col("k2")).select(
        "s", "t1", "t2"
    )
    tri = wedges.join(
        oriented.select(F.col("s").alias("t1"), F.col("t").alias("t2")),
        ["t1", "t2"],
        "semi",
    ).select("s", "t1", "t2")
    per_node = (
        tri.select(F.col("s").alias("n"))
        .union(tri.select(F.col("t1").alias("n")))
        .union(tri.select(F.col("t2").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("n_triangles"))
    )
    return per_node


def label_propagation(
    edges: DataFrame,
    iters: int = 4,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation (Raghavan et
    al. 2007, the GraphFrames/Pregel formulation): every node starts as
    its own label; each round every node adopts the most frequent label
    among its neighbors, ties broken toward the SMALLEST label.  Fixed
    ``iters`` rounds of the synchronous schedule + total-order tie-break
    make the result fully deterministic and engine-mirrorable
    (asynchronous LPA — the usual convergence accelerant — is schedule-
    dependent and would be neither).

    Returns (node, label): nodes sharing a label after the final round
    are one community.  Contrast with :func:`connected_components`:
    CC merges anything touching, LPA splits a connected graph into
    densely-linked regions — the community structure a curation
    pipeline uses for topic-aware sampling where CC's transitive
    closure would collapse everything reachable.

    Scale shape: one labels frame (node-sized), per round one
    edge-labels equi-join + one (node, label) combiner count + one
    argmax aggregate — the same per-iteration cost as a PageRank step,
    all shuffle-partitioned on node id.  The vote argmax is a single
    ``max(struct(cnt, -label))`` aggregate, not a window, so no
    per-node sort materializes.

    Lineage discipline (r14): the round chain is SINGLE-CONSUMER
    (labels_i feeds only round i+1's join), so the logical plan grows
    LINEARLY and no per-round pin or cut is needed at all — the fixed
    ``iters`` rounds compile once and ride the caller's single action;
    a lazy ``session.cut`` every 6th round keeps long runs bounded
    (each per-round eager cut used to cost a scheduled driver job — 5
    jobs before the action ran).

    r15: the symmetrized edge list's EAGER cut became a PERSIST — the
    whole query now compiles once and rides ONE action, removing the
    last scheduled pre-action driver job.  The trade accepted with
    eyes open: the two union legs of ``both`` race within the first
    stage group and may duplicate the cached distinct's compute
    per-partition, where the eager cut serialized it; quiet
    interleaved A/B at sf0.1 (``git show
    de8968f:plans/r15/ab_graph_cuts.py``, outputs asserted identical,
    min-of-4): eager 2.07 s / persist 1.94 s,
    persist ≤ eager in EVERY rep — the saved materialization job
    outweighs the race, and on a cluster removing a serialized job
    barrier is the term that grows.  Long-lived sessions release the
    pin with ``session.release_pins``.
    """
    from pyspark.storagelevel import StorageLevel

    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    both = und.select(F.col("u").alias("s"), F.col("v").alias("d")).union(
        und.select(F.col("v").alias("s"), F.col("u").alias("d"))
    )
    labels = both.select(F.col("s").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for i in range(1, iters + 1):
        votes = (
            both.join(labels, both["s"] == labels["node"])
            .select(F.col("d"), F.col("label"))
            .groupBy("d", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = (
            votes.groupBy("d")
            .agg(
                F.max(
                    F.struct(
                        F.col("cnt").alias("c"), (-F.col("label")).alias("nl")
                    )
                ).alias("m")
            )
            .select(F.col("d").alias("node"), (-F.col("m.nl")).alias("label"))
        )
        if i % 6 == 0:
            labels = cut(labels, eager=False)
    return labels


def common_neighbor_jaccard(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    min_common: int = 1,
    max_center_degree: int | None = None,
) -> DataFrame:
    """Node-pair structural similarity: for every pair (x, y) sharing at
    least ``min_common`` neighbors, Jaccard over neighbor sets
        J(x, y) = |N(x)∩N(y)| / (|N(x)| + |N(y)| − |N(x)∩N(y)|)
    — the classic link-prediction / entity-resolution score (two parts
    bought alongside the same third parts are substitutes even if never
    co-ordered themselves).

    Scale shape: symmetrize once; the wedge pairs (x, y) through each
    CENTER node come from a per-center ``collect_list`` + in-task pair
    transform — the banding-tail pattern, so candidate pairs are never
    join-row materialized and per-task memory is bounded by the center's
    degree.  Wedge work is Θ(Σ deg(c)²): for hub-skewed graphs pass
    ``max_center_degree`` to drop super-hub centers (documented recall
    trade — a hub's common-neighbor evidence is weak anyway, the same
    argument as the MinHash ``max_bucket`` cap); the shipped affinity
    graphs are support-pruned, so the default is exact.

    Output: (node_a, node_b, n_common, jaccard) with node_a < node_b;
    the double is the identical single-division expression both
    engines."""
    # self-loops would let a node serve as its own "common neighbor"
    # (and inflate its degree) — canonicalize them away like
    # triangle_counts does
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).where(
        F.col(src) != F.col(dst)
    )
    bi = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = bi.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    adj = bi.groupBy("u").agg(F.collect_list("v").alias("ns"))
    if max_center_degree is not None:
        adj = adj.where(F.size("ns") <= max_center_degree)
    wedges = adj.select(
        F.explode(
            F.expr(
                "flatten(transform(ns, (x, i) -> transform(slice(ns, i + 2, size(ns)),"
                " y -> struct(least(x, y) AS a, greatest(x, y) AS b))))"
            )
        ).alias("p")
    )
    cn = (
        wedges.groupBy(
            F.col("p.a").alias("node_a"), F.col("p.b").alias("node_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
        .where(F.col("n_common") >= min_common)
    )
    da = deg.select(F.col("u").alias("node_a"), F.col("deg").alias("_da"))
    db = deg.select(F.col("u").alias("node_b"), F.col("deg").alias("_db"))
    return (
        cn.join(da, "node_a")
        .join(db, "node_b")
        .select(
            "node_a",
            "node_b",
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("_da") + F.col("_db") - F.col("n_common")).cast("double")
            ).alias("jaccard"),
        )
    )


def kcore(
    edges: DataFrame,
    k: int = 3,
    src: str = "id_a",
    dst: str = "id_b",
    max_rounds: int = 30,
) -> DataFrame:
    """The k-CORE of the undirected graph: the maximal subgraph in which
    every node has degree ≥ k, found by iterative peeling (remove all
    nodes with degree < k, delete their edges, repeat to fixpoint) — the
    standard dense-region extractor for community mining and spam/bot
    subgraph detection.  The fixpoint is ORDER-INDEPENDENT (the k-core
    is unique), so any peeling schedule — including an unrolled
    fixed-round SQL mirror — lands on the same subgraph.

    Per round: one degree aggregate (combiner-reduced, node-sized) and
    one semi-join of the edge list against surviving nodes on EACH
    endpoint — all equi-shuffles on node id.  Rounds to fixpoint ≤
    graph degeneracy-peel depth, which is small for real (heavy-tailed)
    graphs; the probe is the surviving-edge count (strictly decreasing
    until the fixpoint).

    Lineage discipline (r14, A/B'd and kept AS-IS): unlike the
    fixed-round single-consumer loops (:func:`landmark_bfs`,
    :func:`sssp_bounded`), each peel round consumes ``bi`` THREE times
    (the degree aggregate plus one semi-join per endpoint), so without
    a per-round cut the logical plan grows ~3^rounds — a persist-only
    variant (probe materializes the pin, predecessor unpersisted) OOMed
    the driver at sf0.01, where the peel runs deep, from Catalyst plan
    blow-up alone.  The per-round LAZY cut stays: the unavoidable count
    probe materializes the checkpoint, one pass per round, and the
    plan each round compiles is O(1).

    Second negative pinned (r15, ``git show
    de8968f:plans/r15/ab_kcore_probe.py``): probing
    every 2nd round (counts strictly decrease until fixpoint, so
    equality across a 2-round window still proves the unique core;
    plan growth between probes 3^2, bounded) halves the serialized
    probe jobs but measured a WASH at sf0.1 — 2.29 vs 2.23 s min-of-4
    interleaved, overlapping reps: the peel's own shuffles dominate,
    and the wasted no-op round cancels the saved probes.  Kept as-is.

    Returns (node, degree): nodes of the k-core with their WITHIN-CORE
    degree.  Raises ``RuntimeError`` if ``max_rounds`` passes without a
    fixpoint — a truncated peel is a silently-wrong (too large) core.
    """
    # a self-loop would grant its node +2 un-peelable degree and could
    # hold it in the core forever — canonicalize away; duplicate edges
    # are the CALLER's contract (they count with multiplicity, matching
    # the oracle's plain row semantics)
    one = cut(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).where(
            F.col(src) != F.col(dst)
        ),
        eager=False,
    )
    bi = cut(
        one.union(one.select(F.col("v").alias("u"), F.col("u").alias("v"))),
        eager=False,
    )
    n_edges = bi.count()
    for _ in range(max_rounds):
        if n_edges == 0:
            return bi.select(F.col("u").alias("node")).distinct().withColumn(
                "degree", F.lit(0).cast("bigint")
            ).where(F.lit(False))
        alive = bi.groupBy("u").agg(F.count(F.lit(1)).alias("_deg")).where(
            F.col("_deg") >= k
        ).select("u")
        bi = cut(
            bi.join(alive, "u", "left_semi").join(
                alive.select(F.col("u").alias("v")), "v", "left_semi"
            ),
            eager=False,
        )
        new_edges = bi.count()
        if new_edges == n_edges:
            return (
                bi.groupBy("u")
                .agg(F.count(F.lit(1)).alias("degree"))
                .select(F.col("u").alias("node"), "degree")
            )
        n_edges = new_edges
    raise RuntimeError(
        f"kcore: no fixpoint after max_rounds={max_rounds} peel rounds — "
        "the partial subgraph would overstate the core; raise max_rounds"
    )


def landmark_bfs(
    edges: DataFrame,
    landmarks: DataFrame,
    src: str = "src",
    dst: str = "dst",
    lm_col: str = "lm",
    max_depth: int = 4,
) -> DataFrame:
    """Multi-source BFS: exact hop distance from every landmark to every
    node within ``max_depth`` — the landmark/distance-sketch primitive
    (approximate shortest-path / reachability oracles are built by
    combining per-landmark distances).

    One frontier loop carries ALL landmarks at once as (node, lm) state
    — per round one equi-join (frontier x adjacency) + one distinct +
    one anti-join against the visited set, all shuffles keyed on node
    id, so L landmarks cost one BFS (state is L x frontier, not L
    runs).  First-visit depth IS the minimum (levels expand in order),
    so no min-agg is needed; the anti-join keeps the visited set and
    frontier disjoint, which also bounds state by nodes x landmarks
    regardless of path multiplicity.

    Negative result pinned (r15, ``git show
    de8968f:plans/r15/ab_bfs_rounds.py``): fusing
    the per-round distinct + anti-join into ONE combiner-reduced
    aggregation (expanded ∪ visited → groupBy(node, lm).min(flag),
    keep flag=1 — provably the same frontier) measured a wash at
    sf0.1: shipped 3.46 s min vs fused 3.72 s, overlapping reps
    (quiet interleaved min-of-4, outputs asserted identical).  Same
    verdict as the r14 bitmap variant at L=4.  The distinct+anti shape
    stays — its stages are already all keyed on node id.

    Lineage discipline for a FIXED-depth loop (r14): each round is
    PERSISTED — the frame feeds both the visited union and the next
    frontier, so the pin shares one computation without any per-round
    driver work — and a lazy ``session.cut`` cuts lineage only every
    6th round.  The depth budget is fixed, so unlike
    :func:`connected_components` no convergence probe exists between
    rounds; a per-round cut (eager OR lazy) forces one full Catalyst
    compile per round on the driver (``toRdd``; measured ~0.6 s each
    at sf0.1 — 2.6 s of the query's 5.4 s), while the logical plan
    merely doubles per uncut round, so a periodic cut bounds tree
    growth at 2^6 tiny subtrees and the default depth-4 loop pays
    ZERO mid-loop compiles.  The whole loop rides the caller's single
    action.  The input edge list is treated as UNDIRECTED (symmetrized
    + distinct here), REPARTITIONED ON THE PROBE KEY ``u`` and pinned
    MEMORY_AND_DISK for the loop: the cached plan's hash partitioning
    satisfies every round's join distribution, so the adjacency is
    shuffled once, not once per round; evictable, nothing hard-pinned.

    Pin lifetime: every persisted frame — the adjacency and each uncut
    round — stays pinned until the CALLER's action completes (the
    returned ``visited`` union consumes all of them, so none can be
    released mid-loop without a mid-loop action).  Long-lived sessions
    free them with ``session.release_pins`` once done with the result;
    at 100 TB the executor storage pool must not fill with dead rounds.
    """
    from pyspark.storagelevel import StorageLevel

    und = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .repartition("u")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    visited = landmarks.select(
        F.col(lm_col).alias("node"), F.col(lm_col).alias("lm"), F.lit(0).alias("dist")
    )
    frontier = visited
    for depth in range(1, max_depth + 1):
        nxt = (
            frontier.join(und, frontier.node == und.u)
            .select(F.col("v").alias("node"), "lm")
            .distinct()
            .join(visited.select("node", "lm"), ["node", "lm"], "left_anti")
            .withColumn("dist", F.lit(depth))
        )
        if depth % 6 == 0:
            nxt = cut(nxt, eager=False)
        else:
            nxt = nxt.persist(StorageLevel.MEMORY_AND_DISK)
        visited = visited.unionByName(nxt)
        frontier = nxt
    return visited


def sssp_bounded(
    edges: DataFrame,
    source: int,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
    w: str = "w",
) -> DataFrame:
    """Bounded-round single-source shortest path (Bellman-Ford): the
    exact minimum cost over paths of at most ``rounds`` edges, on the
    UNDIRECTED weighted graph (symmetrized here; parallel edges are
    collapsed to their MIN weight so the relaxation sees a simple
    graph).

    Per round: one equi-join (tentative distances x adjacency) + one
    min-groupBy — two combiner-reduced shuffles on node id.  Lineage
    discipline matches :func:`landmark_bfs` (r14): the round budget is
    FIXED, so no convergence probe exists between rounds — each round
    is PERSISTED (the tentative frame feeds both the union and the
    relaxation join) and a lazy ``session.cut`` cuts lineage only every
    6th round, bounding logical-plan growth without paying
    one Catalyst ``toRdd`` compile per round on the driver; the whole
    relaxation rides the caller's single action.  The adjacency is
    persisted REPARTITIONED ON ``u`` so the cached hash partitioning
    satisfies every round's join without re-shuffling the edge set.
    Unlike :func:`landmark_bfs` the frontier cannot be pruned to
    first-visit (a longer-hop path may be cheaper), so every round
    relaxes the full tentative set — which is why the round count is a
    parameter: bounded-hop distances are the well-defined, oracle-
    checkable unit (full SSSP is this to fixpoint).  Weights and costs
    are integers end-to-end — no FP accumulation anywhere.

    Pin lifetime: as :func:`landmark_bfs` — the adjacency and each
    uncut round stay persisted until ``session.release_pins``."""
    from pyspark.storagelevel import StorageLevel

    und = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"), F.col(w).alias("w"))
        .union(
            edges.select(F.col(dst).alias("u"), F.col(src).alias("v"), F.col(w).alias("w"))
        )
        .groupBy("u", "v")
        .agg(F.min("w").alias("w"))
        .repartition("u")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    spark = edges.sparkSession
    dist = spark.createDataFrame([(source, 0)], "node bigint, cost bigint")
    for rnd in range(1, rounds + 1):
        relaxed = (
            dist.join(und, dist.node == und.u)
            .select(F.col("v").alias("node"), (F.col("cost") + F.col("w")).alias("cost"))
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("cost").alias("cost"))
        )
        if rnd % 6 == 0:
            dist = cut(dist, eager=False)
        else:
            dist = dist.persist(StorageLevel.MEMORY_AND_DISK)
    return dist
