"""Plan-quality gates: filters push to the scan, projections prune
ReadSchema, small dims broadcast, compaction costs exactly one
shuffle, whole-stage codegen covers the hot path."""

from __future__ import annotations

import re

import pytest

from rust_dms_cdc_operator_spark.inventory import QUERIES
from rust_dms_cdc_operator_spark.plans.inspect import (
    count_broadcast_joins,
    count_exchanges,
    has_whole_stage_codegen,
    pushed_filters,
    read_schemas,
)

SF_DIR = "/root/testdata/sf0.001"


def test_s1_filter_pushdown_and_column_pruning(spark):
    df = QUERIES["s1_scan_projection"](spark, SF_DIR)
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed
    assert "l_discount" in pushed
    schemas = read_schemas(df)
    assert len(schemas) == 1
    # only the 4 projected + 2 filter columns are read, nothing else
    for col in ("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"):
        assert col in schemas[0]
    for col in ("l_partkey", "l_suppkey", "l_returnflag", "l_tax"):
        assert col not in schemas[0]
    assert has_whole_stage_codegen(df)


def test_w1_compaction_single_shuffle(spark):
    df = QUERIES["w1_cdc_compact"](spark, SF_DIR)
    # one hash exchange on the PK between the partial and final
    # aggregates — no more
    assert count_exchanges(df) == 1


def test_q3_no_forced_fact_broadcasts(spark):
    """orders/customer grow with the data — q3 must not carry user
    broadcast hints on them. With size-based broadcasting disabled,
    any BroadcastExchange left in the plan can only come from a hint,
    so the gate is simply: zero."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = QUERIES["q3_top_customers"](spark, SF_DIR)
        assert count_broadcast_joins(df) == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_q1_aggregation_plan(spark):
    df = QUERIES["q1_pricing_summary"](spark, SF_DIR)
    # partial (map-side) aggregation: exactly one exchange on group keys
    assert count_exchanges(df) == 1
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed  # date filter reaches the scan


def test_exact_dedup_single_shuffle(spark):
    df = QUERIES["dedup_exact"](spark, SF_DIR)
    assert count_exchanges(df) == 1
    schemas = read_schemas(df)
    # only text + doc_id are read
    assert "lang" not in schemas[0]


def test_d1_anti_join_no_extra_scan_columns(spark):
    df = QUERIES["d1_delete"](spark, SF_DIR)
    assert has_whole_stage_codegen(df)


def test_global_rank_single_data_shuffle(spark):
    """The exact global rank's data plan is scan → ONE (group, bucket)
    hash shuffle → window: never a SinglePartition exchange over the
    data (the naive row_number() OVER (ORDER BY pk) shape), and — since
    cumulative offsets enter as a literal array lookup — no join and no
    second data shuffle either."""
    from rust_dms_cdc_operator_spark.operators.chunk import with_global_rank
    from rust_dms_cdc_operator_spark.plans.inspect import formatted_plan

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    ranked = with_global_rank(orders, ["o_orderkey"])
    plan = formatted_plan(ranked)
    # the data-side exchange hashes on the bucket id
    assert "hashpartitioning(_rank_bucket" in plan
    assert "SinglePartition" not in plan, plan
    assert "Join" not in plan, plan
    import re

    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan


def test_pack_sequences_no_single_partition(spark):
    """The packing prefix sum must inherit the rank machinery's scale
    shape: no SinglePartition exchange over the data, no join."""
    from pyspark.sql import functions as F

    from rust_dms_cdc_operator_spark.operators.split import pack_sequences
    from rust_dms_cdc_operator_spark.plans.inspect import formatted_plan

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", F.length("text").cast("long").alias("n_tokens")
    )
    out = pack_sequences(docs, "doc_id", "n_tokens", budget=4096)
    plan = formatted_plan(out)
    assert "SinglePartition" not in plan, plan
    assert "Join" not in plan, plan


def test_v2_digests_prune_to_pk_and_md5_inputs(spark):
    """The ranking/count subtrees of the datadiff must not drag the
    md5 digest through the boundary scan."""
    from rust_dms_cdc_operator_spark.plans.inspect import read_schemas

    df = QUERIES["v2_chunked_hash_diff"](spark, SF_DIR)
    # all scans read concrete column subsets (never the full table
    # width of 6 orders columns plus digests)
    for schema in read_schemas(df):
        assert "o_comment" not in schema


def test_q5_join_chain_broadcasts_and_pushes_date(spark):
    df = QUERIES["q5_local_supplier_volume"](spark, SF_DIR)
    # nation/region are forced broadcasts; AQE upgrades the rest at
    # this scale — at minimum the two explicit ones must be there
    assert count_broadcast_joins(df) >= 2
    pushed = " ".join(pushed_filters(df))
    assert "o_orderdate" in pushed  # date range reaches the orders scan


def test_unigram_logppl_plan_shape(spark):
    """Perplexity scoring stays linear: no cartesian product, no
    SinglePartition exchange over data, and the text column is pruned
    out of everything downstream of tokenization (the joins/aggs carry
    (id, tok) and counts only)."""
    from rust_dms_cdc_operator_spark.operators.perplexity import unigram_logppl
    from rust_dms_cdc_operator_spark.plans.inspect import formatted_plan

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = unigram_logppl(docs, "doc_id", "text")
    plan = formatted_plan(out)
    assert "Cartesian" not in plan, plan
    assert "SinglePartition" not in plan, plan
    # every scan prunes to the two used columns
    for rs in read_schemas(out):
        assert "meta" not in rs and "source" not in rs, plan


def test_cobucketed_join_has_no_exchange(spark, tmp_path):
    """Both sides written bucketed on the join key => the join plans
    with ZERO shuffles (the 100 TB repeated-join contract): bucketed
    scans satisfy the join distribution directly. An unbucketed
    baseline on the same data shuffles both sides."""
    from rust_dms_cdc_operator_spark.operators.bucketing import (
        join_cobucketed,
        write_bucketed,
    )
    from rust_dms_cdc_operator_spark.plans.inspect import formatted_plan

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # the fixture tables are broadcast-small; disable that so the gate
    # exercises the sort-merge path a 100 TB fact-fact join takes
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(
            orders, "bk_orders", ["o_orderkey"], 8, sort_cols=["o_orderkey"]
        )
        write_bucketed(
            lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
            "bk_lineitem", ["o_orderkey"], 8, sort_cols=["o_orderkey"],
        )
        joined = join_cobucketed(
            spark, "bk_orders", "bk_lineitem", ["o_orderkey"]
        )
        plan = formatted_plan(joined)
        assert "Exchange" not in plan, plan
        # baseline sanity: the same join over plain parquet shuffles
        base = orders.join(
            lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
            ["o_orderkey"],
        )
        assert "Exchange" in formatted_plan(base)
        # and the answers agree
        assert joined.count() == base.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bk_orders")
        spark.sql("DROP TABLE IF EXISTS bk_lineitem")


def test_top_ngrams_topk_not_global_sort(spark):
    """The top-k must be TakeOrderedAndProject (per-partition heaps +
    one bounded merge), never a full global Sort materialization of
    the gram counts."""
    from rust_dms_cdc_operator_spark.plans.inspect import formatted_plan

    df = QUERIES["docs_top_ngrams"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    # exactly the gram-count aggregation shuffle; no rangepartitioning
    # sort exchange for the ordering
    assert "rangepartitioning" not in plan.lower(), plan


def test_incremental_dedup_corpus_prunes_to_text(spark):
    """The corpus side must scan only the digest input column — its
    payload never reaches the shuffle — and the anti-join must not be
    a cartesian."""
    from rust_dms_cdc_operator_spark.plans.inspect import (
        formatted_plan,
        read_schemas,
    )

    df = QUERIES["docs_incremental_dedup"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "Cartesian" not in plan, plan
    # both scans read (doc_id, text) at most — never lang/source/n_chars
    for schema in read_schemas(df):
        assert "lang" not in schema and "n_chars" not in schema


def test_deterministic_shuffle_no_single_partition(spark):
    """The permutation rank must keep the global-rank scale shape:
    no SinglePartition exchange over the data."""
    from rust_dms_cdc_operator_spark.plans.inspect import formatted_plan

    df = QUERIES["docs_shuffle"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "SinglePartition" not in plan, plan


def test_salted_join_is_equi_join(spark):
    """Salting must keep the join an equi-join (hash/sort-merge on
    (key, salt)) — a salt expressed wrong degrades to a nested-loop
    cross product."""
    from rust_dms_cdc_operator_spark.plans.inspect import formatted_plan

    df = QUERIES["skew_salted_join"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan, plan


def test_source_drift_prunes_and_no_cartesian(spark):
    """The KL drift scan must read only (source, text) — the corpus
    never re-shuffles for the per-token totals — and the token join
    must not degrade to a cartesian."""
    from rust_dms_cdc_operator_spark.plans.inspect import (
        formatted_plan,
        read_schemas,
    )

    df = QUERIES["docs_source_drift"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "Cartesian" not in plan, plan
    for schema in read_schemas(df):
        assert "n_chars" not in schema and "doc_id" not in schema


def test_quantized_topk_uses_topk_operator(spark):
    from rust_dms_cdc_operator_spark.plans.inspect import formatted_plan

    df = QUERIES["sim_quantized_topk"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_q6_scan_only_aggregate(spark):
    """Q6 is the pushdown poster child: date + quantity predicates
    reach the parquet scan, ReadSchema carries only the 4 needed
    columns, and the whole pipeline is codegen."""
    from rust_dms_cdc_operator_spark.plans.inspect import (
        has_whole_stage_codegen,
        pushed_filters,
        read_schemas,
    )

    df = QUERIES["q6_forecast_revenue"](spark, SF_DIR)
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed and "l_quantity" in pushed
    (schema,) = read_schemas(df)
    for col in ("l_extendedprice", "l_discount", "l_quantity", "l_shipdate"):
        assert col in schema
    assert "l_orderkey" not in schema and "l_returnflag" not in schema
    assert has_whole_stage_codegen(df)


def test_q4_semi_join_shape(spark):
    """The EXISTS must plan as a semi-join (orders rows never
    duplicated by multiple matching lineitems)."""
    from rust_dms_cdc_operator_spark.plans.inspect import formatted_plan

    df = QUERIES["q4_priority_check"](spark, SF_DIR)
    assert "LeftSemi" in formatted_plan(df)


def _assert_aggregate_compaction(df):
    """CDC compaction plan shape: a partial+final ``max_by`` aggregate
    pair around exactly one hash exchange on the key, and no Window
    node (a window would funnel a hot key's whole history into one
    task)."""
    import re

    from rust_dms_cdc_operator_spark.plans.inspect import formatted_plan

    plan = formatted_plan(df)
    assert "Window" not in plan, plan
    aggs = re.findall(r"\(\d+\) \w*Aggregate\b", plan)
    assert len(aggs) == 2, plan
    assert "partial_max_by" in plan, plan
    assert count_exchanges(df) == 1, plan
    # the shuffle is hash-partitioned on the key, never single-partition
    assert "SinglePartition" not in plan, plan


def test_w1_skewed_is_partial_aggregate_not_window(spark):
    """The skew-stress compaction must compile to a partial+final
    max_by AGGREGATION — the hot key collapses to one row per map task
    before the exchange — with NO Window node and exactly one
    shuffle."""
    _assert_aggregate_compaction(QUERIES["w1_skewed"](spark, SF_DIR))


def test_cdc_compaction_is_partial_aggregate_not_window(spark, tmp_path):
    """Every CDC compaction has the same plan shape: the registered
    W1 query and a full LOAD + CDC manifest replay."""
    from rust_dms_cdc_operator_spark.operators.compact import replay_manifest
    from rust_dms_cdc_operator_spark.payloads import LoadMode
    from rust_dms_cdc_operator_spark.sources.manifest import build_manifest
    from tests import cdc_fixtures

    _assert_aggregate_compaction(QUERIES["w1_cdc_compact"](spark, SF_DIR))
    root = str(tmp_path)
    fx = cdc_fixtures.write_orders_cdc(root)
    manifest = build_manifest(
        mode=LoadMode.DATE_AWARE,
        root=root,
        database=cdc_fixtures.DB,
        schema=cdc_fixtures.SCHEMA,
        table=fx["table"],
        start_date="2000-01-01",
    )
    _assert_aggregate_compaction(
        replay_manifest(spark, root, manifest, fx["pk"])
    )


def _python_last_writer_wins(rows, pk, order):
    """Reference replay: per key, the row with the greatest order
    tuple wins (``None`` orders below every value); a winning ``D``
    deletes the key."""
    def rank(r):
        return tuple((r[c] is not None, r[c] or 0) for c in order)

    best = {}
    for r in rows:
        k = tuple(r[c] for c in pk)
        if k not in best or rank(r) > rank(best[k]):
            best[k] = r
    return {k: r for k, r in best.items() if r["Op"] != "D"}


def test_compact_cdc_matches_python_last_writer_wins(spark):
    """compact_cdc equals a pure-Python last-writer-wins replay on a
    hot key, cold keys with deletes, a composite PK, a NULL order value
    and a key whose latest event is D."""
    from rust_dms_cdc_operator_spark.operators.compact import compact_cdc

    rows = []
    # hot key 0: 60 events; cold keys 1..20: 2 events each
    for s in range(60):
        rows.append(("U" if s % 7 else "D", 0, 0, f"h{s}", s))
    for k in range(1, 21):
        rows.append(("U", k, 0, f"a{k}", 100 + k))
        rows.append(("D" if k % 4 == 0 else "U", k, 0, f"b{k}", 200 + k))
    # composite PK: same id, different part — independent keys
    rows += [("I", 30, 1, "p1", 1), ("U", 30, 2, "p2", 2), ("U", 30, 1, "p1b", 3)]
    # a NULL order value loses to any non-NULL one
    rows += [("U", 31, 0, "late", 5), ("U", 31, 0, "null-seq", None)]
    # latest event D deletes the key
    rows += [("I", 32, 0, "x", 1), ("U", 32, 0, "y", 2), ("D", 32, 0, "y", 3)]
    cols = ["Op", "id", "part", "val", "seq"]
    cdc = spark.createDataFrame(
        rows, "Op string, id long, part int, val string, seq long"
    )
    expected = _python_last_writer_wins(
        [dict(zip(cols, r)) for r in rows], ["id", "part"], ["seq"]
    )
    out = compact_cdc(cdc, ["id", "part"], order_cols=["seq"])
    assert out.columns == cols
    got = {(r.id, r.part): (r.val, r.seq) for r in out.collect()}
    assert got == {k: (r["val"], r["seq"]) for k, r in expected.items()}
    assert got[(31, 0)] == ("late", 5) and (32, 0) not in got
    assert (0, 0) in got and got[(30, 1)] == ("p1b", 3)


def test_asof_join_is_union_window_not_range_join(spark):
    """The as-of join must compile to union + ONE window over the key
    (linear) — never a broadcast-nested-loop/cartesian range join
    (quadratic per key). Shuffles: one for the right-side pre-compact
    aggregate, one feeding the keyed window."""
    from rust_dms_cdc_operator_spark.inventory_llm import QUERIES_LLM
    from rust_dms_cdc_operator_spark.plans.inspect import formatted_plan

    df = QUERIES_LLM["events_asof_enrich"](spark, SF_DIR)
    plan = formatted_plan(df)
    import re

    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan
    assert count_exchanges(df) <= 2, plan


def test_q22_anti_join_and_q13_outer_shape(spark):
    """The dormant-customer query must plan a LeftAnti join (never a
    filtered outer join materializing matches), and the order
    distribution must keep its LEFT OUTER join (a semi conversion
    would drop the zero-order customers)."""
    from rust_dms_cdc_operator_spark.plans.inspect import formatted_plan

    p22 = formatted_plan(QUERIES["q22_dormant_customers"](spark, SF_DIR))
    assert "LeftAnti" in p22, p22
    assert "CartesianProduct" not in p22

    p13 = formatted_plan(QUERIES["q13_order_distribution"](spark, SF_DIR))
    assert "LeftOuter" in p13, p13


def test_q18_aggregates_before_join(spark):
    """Q18's HAVING filter must reduce lineitem BEFORE any join: the
    aggregate over l_orderkey sits below the join in the plan, so the
    join input is the handful of big orders, not 6M lineitems."""
    from rust_dms_cdc_operator_spark.plans.inspect import formatted_plan

    plan = formatted_plan(QUERIES["q18_large_orders"](spark, SF_DIR))
    first_join = min(
        i for i, ln in enumerate(plan.splitlines()) if "Join" in ln
    )
    agg_lines = [
        i for i, ln in enumerate(plan.splitlines())
        if "HashAggregate" in ln and i > first_join
    ]
    # tree prints top-down: an aggregate BELOW the first join line in
    # the tree section feeds that join
    assert agg_lines, plan


def test_tpch2_no_cartesian_products(spark):
    """None of the subquery-shaped TPC-H batch-2 queries may plan a
    cartesian/nested-loop product: every correlated subquery is
    re-expressed as an aggregate + equi-join (the one-row scalar
    broadcasts are BroadcastNestedLoopJoin-free by construction)."""
    from rust_dms_cdc_operator_spark.plans.inspect import formatted_plan

    for name in (
        "q2_min_cost_supplier",
        "q7_volume_shipping",
        "q8_market_share",
        "q9_product_profit",
        "q11_important_stock",
        "q15_top_supplier",
        "q17_small_quantity",
        "q20_excess_suppliers",
        "q21_waiting_suppliers",
    ):
        plan = formatted_plan(QUERIES[name](spark, SF_DIR))
        assert "CartesianProduct" not in plan, name


def test_q21_status_filter_pushed(spark):
    """q21's o_orderstatus='F' predicate must reach the orders scan —
    at 100 TB the F-status filter drops ~half the orders before the
    join."""
    df = QUERIES["q21_waiting_suppliers"](spark, SF_DIR)
    pushed = " ".join(pushed_filters(df))
    assert "o_orderstatus" in pushed


def test_q17_part_filters_pushed_and_broadcast(spark):
    """q17's part-side predicates push to the part scan and the
    filtered part list broadcasts (dimension-sized) — lineitem never
    shuffles for the semi-reduction."""
    df = QUERIES["q17_small_quantity"](spark, SF_DIR)
    pushed = " ".join(pushed_filters(df))
    assert "p_type" in pushed and "p_size" in pushed
    assert count_broadcast_joins(df) >= 1


def test_q2_no_single_partition_data_exchange(spark):
    """q2's min-rejoin must stay hash-partitioned on l_partkey
    throughout — a SinglePartition exchange would serialize the whole
    offer table through one task."""
    from rust_dms_cdc_operator_spark.plans.inspect import formatted_plan

    plan = formatted_plan(QUERIES["q2_min_cost_supplier"](spark, SF_DIR))
    assert "SinglePartition" not in plan, plan


def test_rolling_window_no_single_partition(spark):
    """The range-interval rolling window partitions by event_type —
    never a global single-partition sort over the series."""
    from rust_dms_cdc_operator_spark.plans.inspect import formatted_plan

    plan = formatted_plan(QUERIES["events_rolling_window"](spark, SF_DIR))
    assert "SinglePartition" not in plan, plan


def test_triangle_census_no_cartesian(spark):
    from rust_dms_cdc_operator_spark.plans.inspect import formatted_plan

    plan = formatted_plan(QUERIES["dedup_triangle_stats"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan


def test_ivfpq_index_shortlist_prunes_vector_column(spark):
    """The registered IVF-PQ index probe's contract: its plan shows
    partition filters on the list key, and the ADC shortlist scan
    (the one reading pq_codes) reads ONLY (vec_id, pq_codes) — the
    wide embedding column never crosses it; only the rerank scan of
    the shortlist rows reads vectors."""
    from rust_dms_cdc_operator_spark.operators.pq import PQ_CODES_COL
    from rust_dms_cdc_operator_spark.operators.similarity import IVF_LIST_COL
    from rust_dms_cdc_operator_spark.plans.inspect import (
        formatted_plan,
        read_schemas,
    )

    df = QUERIES["sim_ivfpq_probe_partitioned"](spark, SF_DIR)
    plan = formatted_plan(df)
    filters = re.findall(r"PartitionFilters: \[(.*)\]", plan)
    assert filters and all(IVF_LIST_COL in f for f in filters), plan
    short = [sc for sc in read_schemas(df) if PQ_CODES_COL in sc]
    assert short and all("embedding" not in sc for sc in short), short


def test_simhash_hamming_banded_no_cartesian(spark):
    """The Hamming near-dup must be banded equi-joins over a persisted
    signature table — no cartesian/nested-loop pair enumeration, and
    the cached signature relation is reused (InMemoryTableScan), not
    recomputed per band side."""
    from rust_dms_cdc_operator_spark.plans.inspect import formatted_plan

    plan = formatted_plan(QUERIES["dedup_simhash_hamming"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "InMemoryTableScan" in plan, plan


def test_minhash_knn_window_keyed_not_global(spark):
    """The per-doc top-3 ranking partitions by doc — never a global
    single-partition sort of the candidate stream."""
    from rust_dms_cdc_operator_spark.plans.inspect import formatted_plan

    plan = formatted_plan(QUERIES["sim_minhash_knn"](spark, SF_DIR))
    assert "SinglePartition" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ewma_kernel_join_on_aggregate_only(spark):
    """The smoothing join must run on the per-(type, day) aggregate,
    not raw events: the scan reads only (ts, event_type), and the
    events table is aggregated before any join (no join operator
    consumes a raw events scan directly)."""
    df = QUERIES["events_ewma_smooth"](spark, SF_DIR)
    schemas = read_schemas(df)
    for s in schemas:
        assert "props" not in s and "value" not in s and "user_id" not in s
    assert has_whole_stage_codegen(df)


def test_pivot_single_shuffle(spark):
    """Explicit pivot values: one exchange on the day key, no
    distinct-discovery job, no single-partition stage."""
    from rust_dms_cdc_operator_spark.plans.inspect import formatted_plan

    df = QUERIES["events_pivot_daily"](spark, SF_DIR)
    assert count_exchanges(df) == 1
    assert "SinglePartition" not in formatted_plan(df)


def test_version_diff_digest_first(spark):
    """The corpus diff joins digests, not text: every join input reads
    (doc_id, md5) projections — the text column never crosses the
    full-outer join (it is consumed inside the pre-join project)."""
    from rust_dms_cdc_operator_spark.plans.inspect import formatted_plan

    plan = formatted_plan(QUERIES["docs_version_diff"](spark, SF_DIR))
    assert "SortMergeJoin FullOuter" in plan or "FullOuter" in plan, plan
    assert "CartesianProduct" not in plan


def test_json_extract_pruned_shuffles(spark):
    """JSON extraction happens inside codegen before the group-by;
    exactly the two exchanges a distinct-aggregate needs (partial on
    (type, k), final on type) — and the scan reads only
    (event_type, props)."""
    df = QUERIES["events_json_extract"](spark, SF_DIR)
    assert count_exchanges(df) == 2  # countDistinct's expand plan
    for s in read_schemas(df):
        assert "value" not in s and "user_id" not in s
    assert has_whole_stage_codegen(df)


def test_constraint_check_single_scan(spark):
    """The whole rule report is one aggregation over ONE scan — rules
    must not multiply scans (the formatted plan names each scan node
    once in the tree and once in the detail section)."""
    import re

    from rust_dms_cdc_operator_spark.plans.inspect import formatted_plan

    df = QUERIES["docs_constraint_check"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_label_centroids_one_pass(spark):
    """Centroid + variance must come from the one-pass sum/sumsq
    identity: ONE scan, ONE exchange, no join back to centroids."""
    import re

    from rust_dms_cdc_operator_spark.plans.inspect import formatted_plan

    df = QUERIES["sim_label_centroids"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert count_exchanges(df) == 1
    assert "Join" not in plan


def test_lsh_banded_join_aqe_skew_split(spark):
    """Round-5 verdict item 4: the banded LSH join's skew story must be
    PLAN EVIDENCE, not docstring prose. A hot band bucket (hundreds of
    near-identical docs collapsing onto one band signature — the real
    shape of template spam at corpus scale) has to trigger AQE's
    skew-join split: the executed sort-merge join node carries
    skew=true, meaning the straggler partition was subdivided across
    tasks instead of serializing the whole bucket through one core.
    Thresholds are lowered to make fixture-scale bytes register; the
    production defaults fire at the same shape 6 orders of magnitude
    later."""
    from rust_dms_cdc_operator_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from rust_dms_cdc_operator_spark.plans.inspect import final_plan

    hot = [(i, "alpha beta gamma delta epsilon zeta") for i in range(400)]
    cold = [
        (10_000 + i, f"w{i} x{i} y{i} z{i} q{i} r{i}") for i in range(200)
    ]
    docs = spark.createDataFrame(hot + cold, "doc_id long, text string")
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "2KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {}
    for k in confs:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        pairs = minhash_lsh_pairs(
            docs, "doc_id", "text", num_hashes=8, bands=2
        )
        plan = final_plan(pairs)
        assert "skew=true" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        spark.catalog.clearCache()


def test_source_overlap_carries_attrs_no_candidate_join(spark):
    """docs_source_overlap must carry the per-doc source attribute
    THROUGH the band joins (carry_cols) — the only joins in the plan
    are the two band self-joins; no third join may touch the candidate
    stream (at 100 TB a one-row-per-doc dim exceeds every broadcast
    threshold, so a post-hoc join means two candidate-stream
    shuffles)."""
    import re

    from rust_dms_cdc_operator_spark.plans.inspect import formatted_plan

    df = QUERIES["docs_source_overlap"](spark, SF_DIR)
    plan = formatted_plan(df)
    joins = re.findall(r"\(\d+\) [A-Za-z]*(?:HashJoin|MergeJoin|NestedLoopJoin)", plan)
    assert len(joins) == 2, joins
