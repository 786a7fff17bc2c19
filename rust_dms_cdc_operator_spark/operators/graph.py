"""Graph operators over undirected pair edges — dedup *group*
assignment and the structure statistics of a near-duplicate graph.

The dedup operators (operators/dedup.py, operators/similarity.py)
emit near-duplicate PAIRS; a training pipeline needs the transitive
closure of those pairs — duplicate GROUPS — so it can keep one
canonical document per group. That closure is connected components.
Triangle census, PageRank, label propagation and k-core peeling
describe the same graph.

Edges: every operator reads an undirected ``(id_a, id_b)`` list in
which an edge may appear in either orientation, or in both. The
operators with an ``assume_distinct`` knob read it through
:func:`_edges`, which orients each edge ``id_a <= id_b`` and
deduplicates; ``assume_distinct=True`` skips that shuffle for sources
that already emit every edge once as ``id_a < id_b`` (as
``dedup.minhash_lsh_pairs`` does). Connected components is
orientation- and duplicate-blind by construction.

Connected components: an edge list of at most ``DRIVER_UF_THRESHOLD``
edges goes to one driver union-find. A larger one is contracted — one
groupBy labels every node with the minimum of itself and its
neighbours, ``JUMP_ROUNDS`` pointer jumps shorten the label chains,
and one join rewrites the graph as edges between labels — and the
contracted graph is resolved recursively. Convergence is never
probed: the recursion resolves whatever label connectivity the jumps
left, so the jumps only shrink the contracted graph. LSH dup graphs
(unions of near-cliques) contract to the driver bound in one level.
A path loses only ~4 edges per level (the jumps resolve pointer depth
4), so a long path reaches the ``max_iter`` guard, and what is left
of it then goes to the driver whatever its size.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rust_dms_cdc_operator_spark.session import local_relation


#: edge lists up to this size are collected into a driver union-find
#: (a few MB); read at call time, so tests can patch it
DRIVER_UF_THRESHOLD = 200_000

#: pointer-jump rounds per contraction level: pointer depth 4 resolved
#: collapses LSH near-clique graphs in one level; each round is one
#: checkpoint job over the label frame
JUMP_ROUNDS = 2

# contraction-side broadcast bound for the (node, comp) label frame:
# 4M rows x 2 longs ~ 64 MB serialized — comfortably under executor
# memory, far over any test corpus. Billions of nodes fall back to
# shuffle joins.
LABEL_BROADCAST_ROWS = 4_000_000


def _edges(edges: DataFrame, assume_distinct: bool) -> DataFrame:
    """The undirected edge list as ``(id_a, id_b)``, one row per edge:
    each edge oriented ``id_a <= id_b``, then deduplicated — or, with
    ``assume_distinct``, the plain projection (the caller guarantees
    every edge appears once, as ``id_a < id_b``). Lazy; the caller
    owns any persist."""
    if assume_distinct:
        return edges.select("id_a", "id_b")
    return edges.select(
        F.least("id_a", "id_b").alias("id_a"),
        F.greatest("id_a", "id_b").alias("id_b"),
    ).distinct()


def _symmetric(e: DataFrame) -> DataFrame:
    """``(src, dst)`` adjacency of an :func:`_edges` list: both
    directions of every edge. Lazy; the caller owns any repartition
    and persist."""
    return e.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(
        e.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )


def _make_ckpt(
    spark: SparkSession, checkpoint_dir: str | None
) -> Callable[[DataFrame], DataFrame]:
    """Per-round lineage cut. Default: ``localCheckpoint`` (fast,
    executor-local — but NON-replicated: losing an executor mid-run
    kills the job). With ``checkpoint_dir``: reliable ``checkpoint()``
    to that path (HDFS/object store on a cluster), so a multi-hour CC
    over billions of edges survives executor loss."""
    if checkpoint_dir:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)
        return lambda df: df.checkpoint(eager=True)
    return lambda df: df.localCheckpoint()


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(node, comp) for every node in ``edges``; ``comp`` is the
    smallest node id in the component (deterministic, engine-portable
    — the DuckDB oracle reproduces it with a recursive closure).

    An edge list of at most ``DRIVER_UF_THRESHOLD`` edges is resolved
    by a driver union-find; a larger one is contracted to edges
    between labels (module docstring) and the contracted graph
    resolved by this function, one level deeper. A level called with
    ``max_iter < 0`` takes the driver path whatever its size, so at
    most ``max_iter + 1`` levels contract. A contracting level costs
    one edge count, ``JUMP_ROUNDS + 2`` checkpoint jobs and one label
    count; the driver path costs the count and one collect.

    The output schema derives from the input edge type on both paths
    (``node`` and ``comp`` take the type of ``src``), so which path
    the count selects is never observable. ``checkpoint_dir`` selects
    reliable checkpoints for the lineage cuts (:func:`_make_ckpt`)."""
    spark = edges.sparkSession
    # persist, NOT localCheckpoint: a LogicalRDD leaf per recursion
    # level compounds Catalyst's stats/constraint rewriting, and on
    # adversarial chains planning time grew exponentially with depth
    # (0.2 s/level → 5 s → stuck at level ~8 on a 40-edge chain).
    # Callers that feed an expensive pair plan cut its lineage once at
    # their own site (session.materialize_leaf).
    e0 = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).persist()
    try:
        # the edge count picks the path and materializes the persist
        # that the contraction reads
        n_edges = e0.count()
        if n_edges <= DRIVER_UF_THRESHOLD or max_iter < 0:
            parent: dict = {}

            def find(x):
                parent.setdefault(x, x)
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for a, b in e0.collect() if n_edges else ():
                ra, rb = find(a), find(b)
                # the larger root points at the smaller, so every root
                # is its component's minimum (Python's min on str is
                # F.least's lexicographic order)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
            node_type = e0.schema["a"].dataType
            schema = T.StructType(
                [  # nullable: what the contracting path's joins infer
                    T.StructField("node", node_type, True),
                    T.StructField("comp", node_type, True),
                ]
            )
            return local_relation(
                spark, [(n, find(n)) for n in parent], schema
            )
        ckpt = _make_ckpt(spark, checkpoint_dir)
        # label = min(self, neighbours): a FOREST whose pointer chains
        # end at local-minimum nodes (comp(r) == r). The symmetric view
        # is two reads of the cached list and one map-combined shuffle.
        sym = e0.union(e0.select(F.col("b").alias("a"), F.col("a").alias("b")))
        labels = ckpt(
            sym.groupBy("a")
            .agg(F.min("b").alias("_mb"))
            .select(
                F.col("a").alias("node"),
                F.least(F.col("a"), F.col("_mb")).alias("comp"),
            )
        )
        for _ in range(JUMP_ROUNDS):  # comp ← comp(comp)
            x, y = labels.alias("x"), labels.alias("y")
            labels = ckpt(
                x.join(y, F.col("x.comp") == F.col("y.node"), "left")
                .select(
                    F.col("x.node").alias("node"),
                    F.coalesce(F.col("y.comp"), F.col("x.comp")).alias("comp"),
                )
            )
        # contract: edges between LABELS, self-loops dropped, one
        # orientation per label edge. The label frame is node-sized,
        # so under the broadcast bound the contraction is one cache
        # scan + two map-side hash joins, and the ca != cb filter drops
        # the intra-cluster majority before the only shuffle (the
        # distinct over the inter-label remainder).
        la = labels.select(F.col("node").alias("a"), F.col("comp").alias("ca"))
        lb = labels.select(F.col("node").alias("b"), F.col("comp").alias("cb"))
        if labels.count() <= LABEL_BROADCAST_ROWS:
            la, lb = F.broadcast(la), F.broadcast(lb)
        # checkpointed: the next level starts from a leaf, instead of
        # nesting this level's whole plan
        contracted = ckpt(
            e0.join(la, "a")
            .join(lb, "b")
            .filter(F.col("ca") != F.col("cb"))
            .select(
                F.least("ca", "cb").alias("ca"),
                F.greatest("ca", "cb").alias("cb"),
            )
            .distinct()
        )
        roots = connected_components(
            contracted, "ca", "cb", max_iter - 1, checkpoint_dir
        ).select(F.col("node").alias("comp"), F.col("comp").alias("_root"))
        return labels.join(roots, "comp", "left").select(
            "node", F.coalesce(F.col("_root"), F.col("comp")).alias("comp")
        )
    finally:
        e0.unpersist()


def dedup_groups(
    pairs: DataFrame,
    id_col: str = "id_a",
    other_col: str = "id_b",
    max_iter: int = 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Near-dup pairs → (doc_id, group_id): transitive duplicate
    groups keyed by their minimum member. Downstream keeps
    ``doc_id == group_id`` rows (the canonical representative) and
    drops the rest. ``checkpoint_dir`` selects reliable checkpoints
    (survives executor loss on long runs)."""
    cc = connected_components(
        pairs, id_col, other_col, max_iter, checkpoint_dir=checkpoint_dir
    )
    return cc.select(
        F.col("node").alias("doc_id"), F.col("comp").alias("group_id")
    )


def incremental_groups(
    prior_assign: DataFrame,
    new_ids: DataFrame,
    new_new_pairs: DataFrame,
    anchor_pairs: DataFrame,
    max_iter: int = 20,
    checkpoint_dir: str | None = None,
    _comp: DataFrame | None = None,
) -> DataFrame:
    """Incremental connected components for GROUP-AWARE SPLITTING at
    ingest time — the `incremental_dedup` digest-state pattern applied
    to CC: the full-corpus group assignment is a PERSISTED ARTIFACT
    computed once; each ingest batch is grouped against it without
    re-running CC over the corpus.

    Inputs::

        prior_assign    (doc_id, group_id)  frozen artifact covering
                                            every already-ingested doc
                                            (singletons included)
        new_ids         (doc_id)            the ingest batch
        new_new_pairs   (id_a, id_b)        near-dup pairs WITHIN the
                                            batch
        anchor_pairs    (new_id, prior_id)  near-dup pairs from a new
                                            doc to a prior doc

    Returns (doc_id, group_id) for the batch: components of the
    batch-internal graph that touch (directly or transitively through
    other NEW docs) any prior group ADOPT the minimum such prior
    group id; untouched components mint their own id (min member,
    the dedup_groups convention — callers own id-space disjointness
    between epochs, e.g. monotone doc ids).

    STABILITY CONTRACT: prior assignments are NEVER rewritten — a
    document's split can never migrate between epochs (migration is
    itself train/test leakage). The residual this buys: a batch
    component anchored to TWO prior groups adopts the minimum and
    leaves the other intact, so one cross-group near-dup edge can
    survive until the next full `docs_group_split` rebuild — the
    classic incremental-index + periodic-compaction trade, documented
    in SCALE.md.

    Scale shape: everything is batch-sized except `prior_assign`,
    which is touched by exactly one id-keyed equi-join (anchor
    resolution); CC runs over batch-internal edges only. At 100 TB
    the artifacts carried between ingests are the assignment table
    and the corpus band-key table (which also prices anchor-pair
    discovery at O(batch) bucket lookups).

    ``_comp``: a caller that already ran :func:`dedup_groups` over
    ``new_new_pairs`` (e.g. concurrently with the prior-epoch CC)
    passes its (doc_id, group_id) result in; identical to computing
    it here.
    """
    comp = (
        _comp
        if _comp is not None
        else dedup_groups(
            new_new_pairs, max_iter=max_iter, checkpoint_dir=checkpoint_dir
        )
    ).withColumnRenamed("group_id", "comp")
    newc = (
        new_ids.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("comp"), F.col("doc_id")).alias("comp"),
        )
    )
    resolved = anchor_pairs.join(
        prior_assign.select(
            F.col("doc_id").alias("prior_id"),
            F.col("group_id").alias("prior_group"),
        ),
        "prior_id",
    )
    adopt = (
        resolved.select(F.col("new_id").alias("doc_id"), "prior_group")
        .join(newc, "doc_id")
        .groupBy("comp")
        .agg(F.min("prior_group").alias("_adopt"))
    )
    return newc.join(adopt, "comp", "left").select(
        "doc_id",
        F.coalesce(F.col("_adopt"), F.col("comp")).alias("group_id"),
    )


def group_rebuild_migration(
    prior: DataFrame,
    rebuilt: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """The REBUILD AUDIT for the exact-required class: the incremental
    stability contract (:func:`incremental_groups`) never rewrites
    prior assignments, and defers cross-group merges to the periodic
    full rebuild — but a rebuild MOVES documents between groups, and
    therefore potentially between train/val/test splits. This is the
    report a curation team runs BEFORE accepting a rebuild: every
    document whose group or split would change, with both sides of the
    move.

    Inputs are two (id, group_id, split) assignment frames — the
    frozen incremental artifact and the candidate full rebuild (their
    split columns as produced by ``operators.split.with_split`` on the
    respective group ids). Returns
    (doc_id, old_group, new_group, old_split, new_split) for each doc
    where either differs, null-safely: a doc present on only one side
    (ingested between the artifact snapshot and the rebuild, or
    dropped by it) surfaces with nulls on the missing side rather
    than disappearing from the audit. Summary counts are one
    ``groupBy(old_split, new_split).count()`` away — kept row-level
    here so the report is joinable against holdout registries (the
    operational question is "which eval docs would leak into train",
    not just how many).

    Scale shape: one full-outer id-keyed equi-join of two narrow
    corpus-sized frames + a null-safe inequality filter — one shuffle
    each side, no skew surface (ids are unique per side). The output
    is migration-sized, which is exactly the quantity the stability
    contract keeps small between rebuilds."""
    p = prior.select(
        F.col(id_col),
        F.col("group_id").alias("old_group"),
        F.col("split").alias("old_split"),
    )
    n = rebuilt.select(
        F.col(id_col),
        F.col("group_id").alias("new_group"),
        F.col("split").alias("new_split"),
    )
    return (
        p.join(n, id_col, "full_outer")
        .filter(
            ~F.col("old_group").eqNullSafe(F.col("new_group"))
            | ~F.col("old_split").eqNullSafe(F.col("new_split"))
        )
        .select(
            id_col, "old_group", "new_group", "old_split", "new_split"
        )
    )


def triangle_stats(
    edges: DataFrame,
    max_degree: int | None = None,
    assume_distinct: bool = False,
) -> DataFrame:
    """Global triangle census of an undirected (id_a, id_b) edge list
    (normalized by :func:`_edges`): edge count, wedge count (paths of
    length 2: sum of deg*(deg-1)/2), triangle count, and the global
    clustering coefficient 3*triangles/wedges — the structure report
    for a near-dup candidate graph (high clustering = duplicate
    CLUSTERS, sparse wedges = pairwise-only noise), which predicts
    connected-component explosion before running CC.

    Plan shape: triangles enumerate via two hash joins of the
    ordered edge list with itself — (a<b) x (b<c) wedges closed by an
    (a,c) edge probe; the a<b<c total order counts each triangle
    exactly once, and both joins are node-keyed shuffles (the classic
    heavy-hitter caveat applies: a hub node's wedge set is quadratic
    in its degree — at 100 TB, cap or sample hub degrees first).
    Wedges/degrees are one node-keyed aggregation. All exact
    integers; the coefficient is one rounded double division.

    ``max_degree``: drop HUB nodes (degree > cap) and their edges
    before the census — the standard truncation for clustering
    statistics (a hub's wedge set is quadratic in its degree; in a
    near-dup graph hubs are boilerplate documents that would dominate
    and distort the coefficient anyway). Deterministic, so the capped
    census remains oracle-checkable; the cap bounds per-node wedge
    work at cap^2 regardless of data size — the knob that keeps the
    census linear at 100 TB."""
    e = _edges(edges, assume_distinct).persist()

    def degrees(e: DataFrame) -> DataFrame:
        return (
            e.select(F.col("id_a").alias("v"))
            .unionByName(e.select(F.col("id_b").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("d"))
        )

    if max_degree is not None:
        keep = degrees(e).filter(F.col("d") <= max_degree).select("v")
        e = (
            e.join(keep.select(F.col("v").alias("id_a")), "id_a", "left_semi")
            .join(keep.select(F.col("v").alias("id_b")), "id_b", "left_semi")
            .select("id_a", "id_b")
            .persist()
        )
    wedges = degrees(e).agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("w")
    )
    ab = e.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    bc = e.select(F.col("id_a").alias("b"), F.col("id_b").alias("c"))
    ac = e.select(F.col("id_a").alias("a"), F.col("id_b").alias("c"))
    tri = (
        ab.join(bc, "b")
        .join(ac, ["a", "c"], "left_semi")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    n_edges = e.agg(F.count(F.lit(1)).alias("m"))
    # one-row scalars combine via a tagged UNION + max aggregation
    # (the count_diff pattern) instead of two 1-row crossJoins — the
    # same three jobs, but zero BroadcastNestedLoopJoin nodes, so the
    # repo-wide BNLJ lint needs no allowlist entry for this census
    nulls = lambda *names: [  # noqa: E731
        F.lit(None).cast("long").alias(n) for n in names
    ]
    stacked = (
        n_edges.select(F.col("m").cast("long").alias("m"), *nulls("w", "t"))
        .unionByName(
            wedges.select(
                nulls("m")[0], F.col("w").cast("long").alias("w"), *nulls("t")
            )
        )
        .unionByName(
            tri.select(*nulls("m", "w"), F.col("t").cast("long").alias("t"))
        )
    )
    return stacked.agg(
        F.max("m").alias("m"), F.max("w").alias("w"), F.max("t").alias("t")
    ).select(
        F.col("m").alias("n_edges"),
        F.col("w").alias("n_wedges"),
        F.col("t").alias("n_triangles"),
        F.when(F.col("w") > 0,
               F.round(F.lit(3.0) * F.col("t") / F.col("w"), 6))
        .alias("clustering"),
    )


def pagerank_undirected(
    edges: DataFrame,
    iters: int = 5,
    damping: float = 0.85,
    round_digits: int = 9,
    assume_distinct: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank on an undirected (id_a, id_b) edge
    list (normalized by :func:`_edges`) — the iterative-algorithm
    shape (BSP rounds as unrolled declarative stages, zero driver
    actions inside the loop; Catalyst sees one plan with ``iters``
    join+agg levels and AQE re-plans each exchange at runtime).

    Cross-engine determinism: every rank is ROUNDED (default 9
    digits) after each iteration — per-node contribution sums carry
    ~1e-15 summation-order jitter, far below the rounding step, so
    ranks are bit-identical in any engine (the perplexity-family
    argument applied per-iteration, where unrounded drift would
    compound). Returns (v, pr) after ``iters`` rounds from a uniform
    start; Σpr stays 1 up to rounding because every node here has
    degree >= 1 (it comes from an edge list — no dangling mass).

    Build: the adjacency caches as a NARROW (src, dst) pair
    PRE-PARTITIONED on src, and the node-sized degree table caches
    beside it; each round attaches deg on the node-sized side (deg ⋈
    pr, then one edge-sized join with a shuffle-hash hint whose build
    side is the node-sized rank table, never broadcast), so no round
    re-sorts or re-shuffles the edge stream. The caller owns both
    caches (the returned plan is lazy over them — module cache
    contract)."""
    adj = _symmetric(_edges(edges, assume_distinct)).repartition("src").persist()
    # node-sized; computed off the cached adjacency (one scan), then
    # cached itself so the per-round deg ⋈ pr join never re-aggregates
    deg = adj.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).persist()
    n_nodes = deg.count()  # bounded driver scalar; materializes caches
    base = (1.0 - damping) / n_nodes
    # engine round (half-up, matching the SQL oracle), NOT python's
    # banker's round
    pr = deg.select(
        "src",
        F.round(F.lit(1.0) / F.lit(float(n_nodes)), round_digits).alias("pr"),
    )
    for _ in range(iters):
        pr2 = deg.join(pr, "src").select(
            "src", (F.col("pr") / F.col("deg")).alias("c")
        )
        contrib = adj.join(pr2.hint("shuffle_hash"), "src").select("dst", "c")
        pr = (
            contrib.groupBy("dst")
            .agg(
                F.round(
                    F.lit(base) + F.lit(damping) * F.sum("c"), round_digits
                ).alias("pr")
            )
            .select(F.col("dst").alias("src"), "pr")
        )
    return pr.select(F.col("src").alias("v"), "pr")


def label_propagation(
    edges: DataFrame, iters: int = 3, assume_distinct: bool = False
) -> DataFrame:
    """Semi-synchronous label propagation (community detection) on an
    undirected (id_a, id_b) edge list (normalized by
    :func:`_edges`): labels initialize to node ids; each round every
    node adopts the most frequent label among its neighbors, ties
    broken by the smallest label — fully deterministic, so the
    ``iters``-level unrolled SQL oracle reproduces it exactly.
    ``iters <= 0`` returns the identity labels.

    Same execution contract as :func:`pagerank_undirected`: the
    adjacency caches narrow and PRE-PARTITIONED on the join key; each
    BSP round is one shuffle-hash edge join (build side = the
    node-sized label table, never the edges) + one keyed count + one
    per-node ARGMAX AGGREGATION — max(struct(c, -label)), which
    combines map-side and needs no per-partition sort (most votes,
    then smallest label; labels are ids >= 0, so the negation is
    exact). Zero driver actions inside the loop; the caller owns the
    adjacency cache (module contract)."""
    e = _edges(edges, assume_distinct)
    if iters <= 0:
        nodes = (
            e.select(F.col("id_a").alias("v"))
            .unionByName(e.select(F.col("id_b").alias("v")))
            .distinct()
        )
        return nodes.select("v", F.col("v").alias("label"))
    adj = _symmetric(e).repartition("src").persist()

    def _argmax(votes: DataFrame) -> DataFrame:
        return (
            votes.groupBy("v", "label")
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy("v")
            .agg(
                F.max(
                    F.struct(F.col("c"), (-F.col("label")).alias("nl"))
                ).alias("m")
            )
            .select("v", (-F.col("m.nl")).alias("label"))
        )

    # the first round reads the adjacency alone: labels start as node
    # ids, so a node's votes are its neighbours' ids, each cast once
    # (the edge list is distinct), and most-frequent-then-smallest
    # reduces to min(neighbour id) — a plain hash aggregate that
    # combines map-side, where the generic argmax would ship and sort
    # the edge-sized vote stream. Every node is some edge's dst, so
    # coverage is the same.
    labels = adj.groupBy(F.col("dst").alias("v")).agg(
        F.min("src").alias("label")
    )
    for _ in range(iters - 1):
        labels = _argmax(
            adj.join(
                labels.withColumnRenamed("v", "src").hint("shuffle_hash"),
                "src",
            ).select(F.col("dst").alias("v"), "label")
        )
    return labels


def _free_local_checkpoint(df: DataFrame) -> None:
    """Free a localCheckpoint's backing blocks NOW. Dataset.unpersist
    only covers CacheManager entries; a checkpointed frame's storage
    hangs off its LogicalRDD leaf and is otherwise freed only when the
    ContextCleaner GCs the RDD handle — nondeterministic, and the
    k-core sweep contract is 'live set = {cur, removed}' at every
    point. Best-effort: a non-checkpointed frame is a no-op."""
    try:
        plan = df._jdf.queryExecution().logical()
        if plan.getClass().getName().endswith("LogicalRDD"):
            plan.rdd().unpersist(False)
    except Exception:  # pragma: no cover — GC fallback still applies
        pass


def kcore_membership(
    edges: DataFrame,
    k: int = 2,
    rounds: int = 4,
    assume_distinct: bool = False,
) -> DataFrame:
    """Fixed-round k-core peeling (Seidman 1983's degeneracy cores,
    run as ``rounds`` synchronous Matula–Beck peel sweeps) on an
    undirected (id_a, id_b) edge list (normalized by :func:`_edges`):
    every sweep deletes ALL nodes whose remaining degree is < ``k`` at
    once, so after R sweeps exactly the nodes whose peel depth exceeds
    R survive. On near-dup candidate graphs (unions of near-cliques
    from banded LSH) peeling converges in 1–2 sweeps — the
    loosely-attached bridge documents fall out and the dense template
    cores remain, which is the graph signal that separates "shares one
    hash band by luck" from "lives in a boilerplate clique".
    Adversarial chains peel one layer per sweep; ``rounds`` caps that
    (a path needs ~n/2 sweeps to empty), and because the sweep
    schedule is part of the operator's contract, the ``rounds``-level
    unrolled SQL oracle reproduces the exact output even when peeling
    has not converged.

    Returns (node, core_deg): survivors of the R-th sweep with their
    degree inside the surviving subgraph (core_deg >= k iff another
    sweep would keep the node — callers can read convergence off the
    result: no row below k means a fixed point was reached).

    Scale shape: the symmetric adjacency persists once; each sweep is
    ONE degree aggregation (map-side combine on the node key) + two
    anti-joins of the adjacency against the (small, AQE-broadcast)
    REMOVED node set. The only driver action in the loop is a
    bounded emptiness scalar that detects the fixed point — stopping
    there returns exactly the scheduled-rounds result, since every
    further sweep is a no-op. No global sort, no windows; the node
    set shrinks monotonically so later sweeps cost less, not more.
    """
    if k < 1 or rounds < 1:
        raise ValueError("k and rounds must be >= 1")
    adj = _symmetric(_edges(edges, assume_distinct)).persist()
    # The frontier is always ADJ MINUS A CUMULATIVE REMOVED SET, never
    # a chain of per-sweep frames: a chained frontier references the
    # previous sweep three times (directly, and twice through
    # `removed`), so its plan grows 3^sweeps references to the
    # upstream pair pipeline, and checkpointing the edge-sized
    # frontier instead pins unevictable storage. The only checkpoint
    # is the cumulative removed set — whisker nodes, a small fraction
    # of the graph — truncated per sweep (eager, tiny job), while each
    # sweep's frontier re-derives from the ONE persisted adjacency via
    # two anti-joins: plan growth is linear in sweeps, storage is one
    # evictable recomputable cache plus one small leaf.
    cur = adj
    removed_cum = None
    prev_cum = None
    for _ in range(rounds):
        removed = (
            cur.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") < k)
            .select("src")
            .persist()
        )
        empty = removed.isEmpty()  # also materializes adj's cache
        if empty:
            # fixed point: every further sweep is a no-op, so stopping
            # here returns EXACTLY the scheduled-rounds result (the
            # oracle's unrolled schedule is unchanged). One tiny
            # driver scalar per sweep — the peel usually converges in
            # 1-2 sweeps, so this halves the sweep stages in practice.
            removed.unpersist()
            break
        removed_cum = (
            removed
            if removed_cum is None
            else removed_cum.unionByName(removed)
        ).localCheckpoint(eager=True)
        removed.unpersist()
        if prev_cum is not None:
            _free_local_checkpoint(prev_cum)
        prev_cum = removed_cum
        cur = adj.join(removed_cum, "src", "left_anti").join(
            removed_cum.withColumnRenamed("src", "dst"), "dst", "left_anti"
        )
    # the final frontier is lazy over the persisted adjacency and the
    # last (small) checkpointed removed set — the caller's action
    # reads the cache; adj's lifetime is caller-owned after that, the
    # pagerank_undirected contract (one bounded, LRU-evictable cache).
    return cur.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("core_deg")
    ).select(F.col("src").alias("node"), "core_deg")
