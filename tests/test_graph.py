"""Connected components / dedup groups (operators/graph.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rust_dms_cdc_operator_spark.operators.graph import (
    connected_components,
    dedup_groups,
    kcore_membership,
    label_propagation,
    pagerank_undirected,
    triangle_stats,
)


def _cc(spark, edges, **kw):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    return {
        r.node: r.comp for r in connected_components(df, **kw).collect()
    }


def test_cliques_and_isolated_pairs(spark):
    got = _cc(spark, [(1, 2), (2, 3), (1, 3), (10, 11), (20, 21)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_long_chain_converges_in_log_rounds(spark):
    """A 100-node path is the adversarial case for plain min-label
    propagation (needs 99 rounds); the pointer-jump must finish it
    within max_iter=12 (~log2 rounds)."""
    chain = [(i, i + 1) for i in range(100)]
    got = _cc(spark, chain, max_iter=12)
    assert set(got.values()) == {0}
    assert len(got) == 101


def test_direction_and_duplicates_irrelevant(spark):
    got = _cc(spark, [(5, 1), (1, 5), (5, 1), (2, 5)])
    assert got == {1: 1, 5: 1, 2: 1}


def test_cc_matches_union_find_on_random_graphs(spark):
    """Property check: CC result equals a driver-side union-find on
    random sparse graphs (several seeds, mixed chains/cliques)."""
    import random

    for seed in (1, 7, 42):
        rng = random.Random(seed)
        nodes = list(range(1, 120))
        edges = [
            (rng.choice(nodes), rng.choice(nodes)) for _ in range(90)
        ]
        edges = [(a, b) for a, b in edges if a != b]

        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        def union(a, b):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

        for a, b in edges:
            union(a, b)
        want = {n: find(n) for n in parent}
        got = _cc(spark, edges)
        assert got == want, f"seed {seed}"


def test_dedup_groups_column_contract(spark):
    pairs = spark.createDataFrame([(7, 3), (3, 9)], "id_a long, id_b long")
    rows = {(r.doc_id, r.group_id) for r in dedup_groups(pairs).collect()}
    assert rows == {(3, 3), (7, 3), (9, 3)}


def test_cc_reliable_checkpoint_path(spark, tmp_path, monkeypatch):
    """checkpoint_dir routes every lineage cut through reliable
    checkpoint() — the executor-loss-safe mode for multi-hour runs.
    Same answers as the localCheckpoint default, including through the
    distributed-recursion branch (a driver threshold of 2 forces it),
    and the checkpoint dir is actually used."""
    import os

    from rust_dms_cdc_operator_spark.operators import graph

    ckdir = str(tmp_path / "ck")
    chain = [(i, i + 1) for i in range(60)]
    monkeypatch.setattr(graph, "DRIVER_UF_THRESHOLD", 2)
    got = _cc(spark, chain, max_iter=12, checkpoint_dir=ckdir)
    monkeypatch.undo()
    assert set(got.values()) == {0} and len(got) == 61
    # reliable checkpoints wrote RDD files under the requested dir
    found = [f for root, _d, fs in os.walk(ckdir) for f in fs]
    assert found, "no reliable checkpoint files written"
    # mixed graph through the default driver-UF branch as well
    got2 = _cc(spark, [(1, 2), (2, 3), (10, 11)], checkpoint_dir=ckdir)
    assert got2 == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_triangle_stats_known_graph(spark):
    """K4 minus one edge: 5 edges, wedges = sum d(d-1)/2 with degrees
    (3,3,2,2) -> 3+3+1+1 = 8, triangles = 2, clustering = 6/8."""
    from rust_dms_cdc_operator_spark.operators.graph import triangle_stats

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4)],  # missing (3,4)
        "id_a long, id_b long",
    )
    r = triangle_stats(edges).collect()[0]
    assert (r.n_edges, r.n_wedges, r.n_triangles) == (5, 8, 2)
    assert r.clustering == 0.75


def test_triangle_stats_triangle_free(spark):
    from rust_dms_cdc_operator_spark.operators.graph import triangle_stats

    star = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "id_a long, id_b long"
    )
    r = triangle_stats(star).collect()[0]
    assert (r.n_triangles, r.n_wedges) == (0, 3)
    assert r.clustering == 0.0


def test_triangle_stats_hub_cap(spark):
    """max_degree drops hub nodes AND their edges before the census:
    a star hub with 5 spokes vanishes under cap 4, leaving the
    disjoint triangle intact."""
    from rust_dms_cdc_operator_spark.operators.graph import triangle_stats

    edges = spark.createDataFrame(
        [(1, i) for i in range(2, 7)]      # hub 1 with degree 5
        + [(10, 11), (10, 12), (11, 12)],  # separate triangle
        "id_a long, id_b long",
    )
    r = triangle_stats(edges, max_degree=4).collect()[0]
    assert (r.n_edges, r.n_triangles) == (3, 1)
    assert r.clustering == 1.0


def test_pagerank_star_hub_dominates(spark):
    from rust_dms_cdc_operator_spark.operators.graph import (
        pagerank_undirected,
    )

    star = spark.createDataFrame(
        [(1, i) for i in range(2, 7)], "id_a long, id_b long"
    )
    ranks = {r.v: r.pr for r in pagerank_undirected(star, iters=5).collect()}
    assert len(ranks) == 6
    hub, spokes = ranks[1], [ranks[i] for i in range(2, 7)]
    assert all(hub > s for s in spokes)
    assert len(set(spokes)) == 1          # symmetric spokes tie exactly
    assert abs(sum(ranks.values()) - 1.0) < 1e-6  # mass conserved


def test_pagerank_deterministic_across_partitionings(spark):
    from rust_dms_cdc_operator_spark.operators.graph import (
        pagerank_undirected,
    )

    edges = spark.createDataFrame(
        [(i, (i * 7) % 23 + 23) for i in range(23)], "id_a long, id_b long"
    )
    a = {r.v: r.pr for r in pagerank_undirected(edges, iters=4).collect()}
    b = {
        r.v: r.pr
        for r in pagerank_undirected(edges.repartition(13), iters=4).collect()
    }
    assert a == b  # per-iteration rounding pins layout independence


def test_label_propagation_matches_python_replay(spark):
    """Exact parity with a sequential python replay of the
    semi-synchronous vote rule (majority, ties -> min label) on a
    bridged two-triangle graph plus a chain — the same property-check
    style as the CC and segment-dedup oracles."""
    from rust_dms_cdc_operator_spark.operators.graph import (
        label_propagation,
    )

    edges = [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4),
             (7, 8), (8, 9)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.v: r.label for r in label_propagation(df, iters=3).collect()}

    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    labels = {v: v for v in adj}
    for _ in range(3):
        nxt = {}
        for v, nbrs in adj.items():
            counts = {}
            for n in nbrs:
                counts[labels[n]] = counts.get(labels[n], 0) + 1
            best = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
            nxt[v] = best
        labels = nxt
    assert got == labels


@pytest.mark.parametrize(
    "rows_of",
    [
        pytest.param(
            lambda df: {r.node: r.comp for r in connected_components(df).collect()},
            id="connected_components",
        ),
        pytest.param(
            lambda df: {r.v: r.label for r in label_propagation(df).collect()},
            id="label_propagation",
        ),
        pytest.param(
            lambda df: {r.v: r.pr for r in pagerank_undirected(df).collect()},
            id="pagerank_undirected",
        ),
        pytest.param(
            lambda df: {r.node: r.core_deg for r in kcore_membership(df).collect()},
            id="kcore_membership",
        ),
        pytest.param(
            lambda df: triangle_stats(df).collect(), id="triangle_stats"
        ),
    ],
)
def test_graph_operators_ignore_edge_orientation(spark, rows_of):
    """An undirected edge listed both ways, (a, b) and (b, a), is one
    edge: every graph operator returns the rows of the oriented input,
    and so it does for a fully reversed input."""
    edges = [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4),
             (7, 8), (8, 9)]

    def rows(edge_list):
        return rows_of(spark.createDataFrame(edge_list, "id_a long, id_b long"))

    want = rows(edges)
    assert rows(edges + [(4, 3), (2, 1), (9, 8)]) == want
    assert rows([(b, a) for a, b in edges]) == want


def test_cc_job_counts(spark, monkeypatch):
    """Jobs of one connected_components call (build + collect) on a
    41-node chain plus two small components: the driver path is one
    count and one collect; the contracting path (threshold 0 or 2)
    recurses until the contracted graph is empty, one edge count per
    level."""
    from tests.cdc_fixtures import group_job_ids

    from rust_dms_cdc_operator_spark.operators import graph

    edges = [(i, i + 1) for i in range(40)]
    edges += [(100, 101), (101, 102), (200, 201)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    want = {i: 0 for i in range(41)}
    want.update({100: 100, 101: 100, 102: 100, 200: 200, 201: 200})
    sc = spark.sparkContext
    for threshold, bound in [(graph.DRIVER_UF_THRESHOLD, 4), (0, 181), (2, 181)]:
        monkeypatch.setattr(graph, "DRIVER_UF_THRESHOLD", threshold)
        with group_job_ids(sc, f"test_cc_job_counts_{threshold}") as jobs:
            got = {r.node: r.comp for r in connected_components(df).collect()}
        assert got == want, threshold
        assert len(jobs) <= bound, (threshold, len(jobs))


def test_cc_schema_identical_across_paths(spark, monkeypatch):
    """Which path the edge count selects (driver union-find fast path
    vs distributed contraction) must never be observable: the output
    schema derives from the INPUT edge column type on both paths —
    long, int, and string node ids all round-trip."""
    from rust_dms_cdc_operator_spark.operators import graph

    for ddl, edges, want in [
        ("id_a long, id_b long", [(2, 1), (3, 2)], {1: 1, 2: 1, 3: 1}),
        ("id_a int, id_b int", [(2, 1), (3, 2)], {1: 1, 2: 1, 3: 1}),
        (
            "id_a string, id_b string",
            [("b", "a"), ("c", "b"), ("z", "y")],
            {"a": "a", "b": "a", "c": "a", "y": "y", "z": "y"},
        ),
    ]:
        df = spark.createDataFrame(edges, ddl)
        fast = connected_components(df)  # 2-3 edges → driver path
        monkeypatch.setattr(graph, "DRIVER_UF_THRESHOLD", 0)
        slow = connected_components(df)  # forced contraction
        monkeypatch.undo()
        assert fast.schema == slow.schema
        in_type = df.schema["id_a"].dataType
        assert [f.dataType for f in fast.schema.fields] == [in_type] * 2
        assert {r.node: r.comp for r in fast.collect()} == want
        assert {r.node: r.comp for r in slow.collect()} == want


def test_empty_local_relation_is_visible_to_the_optimizer(spark):
    """An empty driver result plans as an empty ``LocalRelation``, not
    an RDD scan, so the optimizer prunes a join against it; the
    connected components of no edges are that empty relation with the
    ``node``/``comp`` schema."""
    from pyspark.sql import types as T

    from rust_dms_cdc_operator_spark.session import local_relation

    empty = local_relation(spark, [], "node long, comp long")
    plan = empty._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" not in plan and "LocalRelation" in plan, plan
    joined = spark.range(10).join(empty, F.col("id") == F.col("node"))
    plan = joined._jdf.queryExecution().optimizedPlan().toString()
    assert "Range" not in plan and "Join" not in plan, plan
    assert empty.collect() == []

    cc = connected_components(
        spark.createDataFrame([], "id_a long, id_b long")
    )
    assert cc.schema.fieldNames() == ["node", "comp"]
    assert [f.dataType for f in cc.schema.fields] == [T.LongType()] * 2
    assert cc.collect() == []


def _kcore_replay(edges, k, rounds):
    """Python replay of the synchronous peel schedule."""
    adj = set()
    for a, b in edges:
        if a != b:
            adj.add((a, b))
            adj.add((b, a))
    for _ in range(rounds):
        deg = {}
        for s, _d in adj:
            deg[s] = deg.get(s, 0) + 1
        keep = {n for n, d in deg.items() if d >= k}
        adj = {(s, d) for s, d in adj if s in keep and d in keep}
    out = {}
    for s, _d in adj:
        out[s] = out.get(s, 0) + 1
    return out


def test_kcore_triangle_with_tail(spark):
    """Triangle 1-2-3 with a pendant 3-4: the tail peels in sweep 1,
    the triangle is a fixed point of 2-core peeling."""
    from rust_dms_cdc_operator_spark.operators.graph import kcore_membership

    df = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "id_a long, id_b long"
    )
    got = {
        r.node: r.core_deg for r in kcore_membership(df, k=2).collect()
    }
    assert got == {1: 2, 2: 2, 3: 2}


def test_kcore_path_peels_layer_per_sweep(spark):
    """A 7-node path empties under 2-core peeling in 3 sweeps (ends
    fall off one layer per sweep) — rounds=3 must reach the empty
    fixed point, and rounds=1 must still show the partially-peeled
    interior (the unconverged-output contract the oracle relies on)."""
    from rust_dms_cdc_operator_spark.operators.graph import kcore_membership

    path = [(i, i + 1) for i in range(6)]
    df = spark.createDataFrame(path, "id_a long, id_b long")
    assert kcore_membership(df, k=2, rounds=3).count() == 0
    one = {
        r.node: r.core_deg
        for r in kcore_membership(df, k=2, rounds=1).collect()
    }
    assert one == _kcore_replay(path, 2, 1)


def test_kcore_matches_replay_random(spark):
    import random

    rng = random.Random(11)
    edges = list(
        {
            (min(a, b), max(a, b))
            for a, b in (
                (rng.randrange(40), rng.randrange(40)) for _ in range(120)
            )
            if a != b
        }
    )
    from rust_dms_cdc_operator_spark.operators.graph import kcore_membership

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    for k, rounds in [(2, 1), (2, 4), (3, 2), (4, 4)]:
        got = {
            r.node: r.core_deg
            for r in kcore_membership(df, k=k, rounds=rounds).collect()
        }
        assert got == _kcore_replay(edges, k, rounds), (k, rounds)


def test_incremental_groups_semantics(spark):
    """incremental_groups (round 11): batch components adopt the MIN
    anchored prior group (frozen-artifact stability — prior rows never
    move); transitive adoption flows through batch-internal edges;
    unanchored components mint min-member ids; singletons mint their
    own. Bridge residual: a component anchored to TWO prior groups
    takes the min and leaves the other intact."""
    from pyspark.sql import functions as F

    from rust_dms_cdc_operator_spark.operators.graph import (
        incremental_groups,
    )

    # prior artifact: group 10 = {10, 11}, group 20 = {20, 21},
    # singleton 30
    prior = spark.createDataFrame(
        [(10, 10), (11, 10), (20, 20), (21, 20), (30, 30)],
        "doc_id long, group_id long",
    )
    # batch: 100-101-102 chain (101 anchored to BOTH prior groups ->
    # bridge, adopts min=10 transitively for all three), 200-201 chain
    # unanchored -> mints 200, singleton 300 -> mints 300
    new_ids = spark.createDataFrame(
        [(100,), (101,), (102,), (200,), (201,), (300,)], "doc_id long"
    )
    nn = spark.createDataFrame(
        [(100, 101), (101, 102), (200, 201)], "id_a long, id_b long"
    )
    anchors = spark.createDataFrame(
        [(101, 11), (101, 21)], "new_id long, prior_id long"
    )
    got = {
        r.doc_id: r.group_id
        for r in incremental_groups(prior, new_ids, nn, anchors).collect()
    }
    assert got == {
        100: 10, 101: 10, 102: 10,   # bridge -> min prior group
        200: 200, 201: 200,          # unanchored chain mints min id
        300: 300,                    # singleton
    }
    # frozen prior: group 20 untouched — the documented residual is
    # the surviving 101~21 cross edge, reconciled at full rebuild
    assert 20 not in got.values()


def test_group_split_incr_stability_and_coverage(spark, tmp_path):
    """q_docs_group_split_incr: full-corpus coverage with exactly one
    row per doc; prior docs carry EXACTLY the split they'd get from
    the prior-only assignment (no migration across epochs); batch
    docs anchored to a prior group land in that group's split."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rust_dms_cdc_operator_spark.inventory_llm import (
        q_docs_group_split,
        q_docs_group_split_incr,
    )

    src = str(tmp_path)
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = d.select("doc_id", "text", "n_chars", "source", "lang").toPandas()
    pq.write_table(pa.Table.from_pandas(rows), f"{src}/documents.parquet")

    full = {r.doc_id: (r.group_id, r.split)
            for r in q_docs_group_split_incr(spark, src).collect()}
    assert len(full) == len(rows)

    # prior-only corpus through the FULL splitter == the prior rows of
    # the incremental result (the frozen-artifact contract)
    prior_rows = rows[rows.doc_id % 4 != 0]
    __import__("os").makedirs(f"{src}/prior", exist_ok=True)
    pq.write_table(
        pa.Table.from_pandas(prior_rows.reset_index(drop=True)),
        f"{src}/prior/documents.parquet",
    )
    prior_only = {r.doc_id: (r.group_id, r.split)
                  for r in q_docs_group_split(spark, f"{src}/prior")
                  .collect()}
    got_prior = {k: v for k, v in full.items() if k % 4 != 0}
    assert got_prior == prior_only


def test_label_propagation_iters_zero_identity(spark):
    """Round 12 (ADVICE): the round-1 fold must not absorb iters<=0 —
    zero (or negative) rounds return identity labels, the pre-fold
    public behavior, and iters=1 runs exactly one propagation round."""
    from rust_dms_cdc_operator_spark.operators.graph import (
        label_propagation,
    )

    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    for it in (0, -1):
        got = {
            r.v: r.label for r in label_propagation(df, iters=it).collect()
        }
        assert got == {v: v for v in (1, 2, 3, 4, 10, 11)}
    one = {r.v: r.label for r in label_propagation(df, iters=1).collect()}
    # one round: each node adopts its neighbors' most frequent initial
    # label (ties -> smallest): 1->2, 2->1, 3->2, 4->3, 10->11, 11->10
    assert one == {1: 2, 2: 1, 3: 2, 4: 3, 10: 11, 11: 10}


def test_group_rebuild_migration_bridge_residual(spark):
    """Round 12 (verdict item 4): the r11 residual case — a batch
    component anchored to TWO prior groups adopts the minimum and
    leaves the other intact; the full rebuild merges them. The
    migration report must surface exactly the docs of the non-adopted
    prior group (and any batch doc whose minted/adopted id changes),
    with old/new groups and splits on both sides."""
    from rust_dms_cdc_operator_spark.operators.graph import (
        group_rebuild_migration,
        incremental_groups,
    )
    from rust_dms_cdc_operator_spark.operators.split import with_split

    # prior epoch: two frozen groups {1, 2} (group 1) and {5, 6}
    # (group 5); batch doc 9 bridges them
    prior = spark.createDataFrame(
        [(1, 1), (2, 1), (5, 5), (6, 5)], "doc_id long, group_id long"
    )
    incr = incremental_groups(
        prior,
        spark.createDataFrame([(9,)], "doc_id long"),
        spark.createDataFrame([], "id_a long, id_b long"),
        spark.createDataFrame(
            [(9, 2), (9, 6)], "new_id long, prior_id long"
        ),
    )
    frozen = prior.unionByName(incr)
    # full rebuild over the union graph: everything merges into group 1
    rebuilt = spark.createDataFrame(
        [(1, 1), (2, 1), (5, 1), (6, 1), (9, 1)],
        "doc_id long, group_id long",
    )
    ratios = {"train": 0.8, "val": 0.1, "test": 0.1}
    rep = {
        r.doc_id: (r.old_group, r.new_group, r.old_split, r.new_split)
        for r in group_rebuild_migration(
            with_split(frozen, "group_id", ratios),
            with_split(rebuilt, "group_id", ratios),
        ).collect()
    }
    # frozen: 9 adopted min prior group 1; group 5 survived intact ->
    # the rebuild moves exactly docs 5 and 6 into group 1
    assert set(rep) == {5, 6}
    for doc in (5, 6):
        old_g, new_g, old_s, new_s = rep[doc]
        assert (old_g, new_g) == (5, 1)
        assert old_s is not None and new_s is not None
    # a doc on only one side surfaces with nulls, never disappears
    rep2 = {
        r.doc_id: (r.old_group, r.new_group)
        for r in group_rebuild_migration(
            with_split(frozen, "group_id", ratios),
            with_split(
                rebuilt.filter(F.col("doc_id") != 9), "group_id", ratios
            ),
        ).collect()
    }
    assert rep2[9] == (1, None)
