"""Declared query inventory: every SURVEY §2 operator as a
(spark-query, duckdb-oracle) pair over the driver testdata.

Each ``q_*`` function takes ``(spark, sf_dir)`` and returns a
DataFrame built from the engine's operators; ``ORACLE_SQL`` holds the
ANSI-SQL equivalent DuckDB runs on the same parquet (views
pre-registered per table). Column names are aliased identically on
both sides (the driver's compare sorts columns by name then hashes
values).

Cross-engine value parity rules (SURVEY §7 "hard/risky items"):
- money aggregations use exact integer-cent arithmetic (round(x*100)
  as bigint), summed exactly, divided back at the end — double→decimal
  casts are NOT portable (Spark rounds the shortest repr via
  BigDecimal.valueOf, DuckDB rounds the binary expansion);
- computed doubles that stay double use deterministic elementwise ops
  only (+, *, /) on identical inputs;
- hashes are md5 over the canonical rendering of
  ``operators.diff.canonical_str`` (printf %.6f doubles, 6-digit
  fractional-second timestamps), reproduced verbatim in the SQL.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from rust_dms_cdc_operator_spark.fixtures import read_events
from rust_dms_cdc_operator_spark.functions.dmscols import geometry_rewrite_expr
from rust_dms_cdc_operator_spark.operators.chunk import with_chunk_id
from rust_dms_cdc_operator_spark.operators.compact import (
    apply_deletes,
    compact_cdc,
    merge_full_load_with_cdc,
    upsert,
)
from rust_dms_cdc_operator_spark.operators.diff import (
    chunked_hash_diff,
    count_diff,
    row_diff,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # the caller may hand us a session with different defaults; string
    # timestamp literals in filters are timezone-sensitive, so pin UTC
    # (runtime-settable) to stay parity with the UTC-naive oracle
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # round 12: schema-memoized read (metadata only — every query
    # still computes from the parquet; see session.read_table)
    from rust_dms_cdc_operator_spark.session import read_table  # noqa: PLC0415

    return read_table(spark, sf_dir, name)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table with ``ts`` normalized to TimestampType regardless
    of the fixture's physical encoding (int64-nanos in early driver
    versions, timestamp[us] now) — see fixtures.read_events."""
    return read_events(spark, sf_dir)


# ---------------------------------------------------------------- S1/P1/P2
def q_s1_scan_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet scan with projection + pushed filter (reference reads whole
    files, dataframe_ops.rs:48-87; we push both to the scan)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") < "1995-06-01") & (F.col("l_discount") > 0.05)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")


# ---------------------------------------------------------------- P4/P5
def q_dms_op_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op-column derivation + the reference's delete/update row filters
    (postgres_operator_impl.rs:337-342,377) over the events stream."""
    ev = _events(spark, sf_dir).withColumn(
        "op",
        F.when(F.col("event_type") == "error", "D")
        .when(F.col("event_type") == "click", "U")
        .otherwise("I"),
    )
    return ev.filter(F.col("op") != "I").select("event_id", "user_id", "op")


# ---------------------------------------------------------------- W1
def _events_as_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _events(spark, sf_dir).withColumn(
        "Op",
        F.when(F.col("event_type") == "error", "D").otherwise("U"),
    )


def q_w1_cdc_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed last-writer-wins compaction (the net effect of the
    reference's imperative replay, cdc_operator.rs:155-217)."""
    ev = _events_as_cdc(spark, sf_dir)
    out = compact_cdc(ev, ["user_id"], order_cols=["ts", "event_id"])
    return out.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


def q_q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q13-shaped two-level aggregation over a LEFT OUTER join:
    customers keep their zero when they have no qualifying orders —
    the outer-join-then-double-agg plan shape (no semi-join shortcut
    is legal here)."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


def q_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q14-shaped conditional-ratio aggregate: promo revenue
    share in a month. Both sums are exact integer cents; the single
    double division + round(6) at the end is the engine-portable
    form (one elementwise IEEE op on exact integers)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-09-01")
        & (F.col("l_shipdate") < "1996-10-01")
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    agg = j.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", cents).otherwise(0)).alias(
            "_promo"
        ),
        F.sum(cents).alias("_total"),
    )
    return agg.select(
        F.round(
            F.lit(100.0) * F.col("_promo").cast("double")
            / F.col("_total").cast("double"),
            6,
        ).alias("promo_revenue_pct")
    )


def q_q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q16-shaped DISTINCT aggregation: distinct suppliers able
    to ship each (brand, type, size) bucket, via lineitem as the
    part↔supplier bridge (the fixture has no partsupp table). The
    count(DISTINCT) inside a grouped agg is the plan shape under
    test — Catalyst expands it to a two-phase aggregate."""
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q18-shaped HAVING-driven semi-reduction: orders whose
    total quantity exceeds a threshold, joined back to customer. The
    aggregate-then-join (not join-then-aggregate) ordering is the
    plan point: the having filter shrinks the join input to a
    handful of keys. Quantities are exact integers."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("total_qty"))
        .filter(F.col("total_qty") > 180)
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias(
                "price_cents"
            ),
            "total_qty",
        )
    )


def q_q19_bracket_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q19-shaped DISJUNCTIVE bracket predicates: three OR'd
    (brand, size-range, quantity-range) brackets across the
    lineitem⋈part join — the shape that stresses predicate
    normalization (common join key extraction from the OR). Revenue
    in exact integer cents."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    qty = F.col("l_quantity")
    bracket = (
        ((F.col("p_brand") == "Brand#12") & (F.col("p_size").between(1, 5))
         & qty.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & (F.col("p_size").between(1, 10))
           & qty.between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & (F.col("p_size").between(1, 15))
           & qty.between(20, 30))
    )
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    return j.filter(bracket).agg(F.sum(cents).alias("revenue_cents"))


def q_q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q22-shaped global-scalar + ANTI join: above-average-
    balance customers with no RECENT orders (>= 2001-01-01 — at the
    fixture's density every customer has *some* order, which would
    make the anti join vacuously empty), grouped by segment. The
    average-balance threshold compares by exact integer
    cross-multiplication (bal_cents * N > total_cents) so membership
    can never flip on engine-specific double averaging; the anti join
    is the broadcast-free plan shape under test."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
    )
    pos = c.filter(F.col("bal_cents") > 0)
    # literal-lookup scalar (the chunk-offset pattern): one bounded
    # 2-int collect, then a literal integer threshold filter — no
    # scalar BroadcastNestedLoopJoin in the plan
    t = pos.agg(
        F.sum("bal_cents").alias("_sum"), F.count(F.lit(1)).alias("_n")
    ).collect()[0]
    if not t["_n"] or t["_sum"] is None:
        # empty positive-balance set: F.sum returns NULL — the old
        # broadcast-join plan returned no rows, so keep that contract
        # instead of raising int(None)
        rich = c.filter(F.lit(False))
    else:
        rich = c.filter(
            F.col("bal_cents") * F.lit(int(t["_n"])) > F.lit(int(t["_sum"]))
        )
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "2001-01-01"
    ).select("o_custkey")
    return (
        rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum("bal_cents").alias("total_bal_cents"),
        )
    )


def q_w1_skewed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 compaction under a ZIPFIAN key — the engine's heart on the
    adversarial distribution the driver gate never otherwise sees.
    A deterministic remap funnels ~30% of ALL events onto one hot key
    (every user_id ≡ 0..2 mod 10 becomes key 0), then compacts with
    `compact_cdc`: last-writer-wins as max_by with map-side partial
    aggregation, so the hot key ships one row per map task through the
    shuffle instead of its whole history into one task. Plan-gated in
    tests/test_plans.py:
    partial+final aggregate, NO Window node, no single-partition
    exchange."""
    ev = _events_as_cdc(spark, sf_dir).withColumn(
        "user_id",
        F.when(F.col("user_id") % 10 < 3, F.lit(0).cast("long")).otherwise(
            F.col("user_id")
        ),
    )
    out = compact_cdc(ev, ["user_id"], order_cols=["ts", "event_id"])
    return out.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


# ---------------------------------------------------------------- F2
def q_f2_load_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-load base ∪ CDC overlay per PK (cdc_operator.rs:173-216):
    customer is the LOAD, each customer's latest order is a CDC event
    (status F → delete, else upsert of the balance)."""
    load = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    cdc = (
        o.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.when(F.col("o_orderstatus") == "F", "D").otherwise("U").alias("Op"),
            F.col("o_custkey").alias("c_custkey"),
            F.col("o_totalprice").alias("c_acctbal"),
            F.lit(0).cast("long").alias("_seq"),
        )
    )
    return merge_full_load_with_cdc(load, cdc, ["c_custkey"], order_cols=["_seq"])


# ---------------------------------------------------------------- U1
def q_u1_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed upsert: updates win on PK clash, unmatched rows survive,
    new keys insert (postgres_operator_impl.rs:389-417)."""
    c = _t(spark, sf_dir, "customer")
    updates = c.filter(F.col("c_custkey") % 7 == 0).withColumn(
        "c_acctbal", F.col("c_acctbal") + 100.0
    )
    inserts = c.filter(F.col("c_custkey") % 97 == 0).withColumn(
        "c_custkey", F.col("c_custkey") + 100000
    )
    return upsert(c, updates.unionByName(inserts), ["c_custkey"])


# ---------------------------------------------------------------- D1
def q_d1_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed delete as an anti-join (postgres_operator_impl.rs:349-365)."""
    c = _t(spark, sf_dir, "customer")
    doomed = c.filter(F.col("c_custkey") % 10 == 0)
    return apply_deletes(c, doomed, ["c_custkey"])


# ---------------------------------------------------------------- V1
def q_v1_count_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-count validation between two tables (pgdatadiff's first check)."""
    return count_diff(_t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders"))


# ---------------------------------------------------------------- V2
def _mutated_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 97 == 0, F.col("o_totalprice") + 1.0
        ).otherwise(F.col("o_totalprice")),
    )


def q_v2_chunked_hash_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pgdatadiff-style chunked content diff: orders vs a deterministically
    perturbed copy; reports only mismatching chunks."""
    o = _t(spark, sf_dir, "orders")
    return chunked_hash_diff(o, _mutated_orders(spark, sf_dir), ["o_orderkey"], 500)


def q_v2_resume_from_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V2 with the reference's resumable ``start_position``
    (dms-cdc-operator-client/src/main.rs:91-93, pgdatadiff's resume
    knob): the diff restarts at row position 1000 — chunks below
    position // chunk_size are skipped entirely — and reports EVERY
    remaining chunk (only_mismatches=False), so the oracle checks
    both the skip boundary and the match/mismatch flags after it.
    Same single-pass grouped-rank plan as v2_chunked_hash_diff; the
    filter on chunk_id sits above the aggregation, so resume is a
    predicate, not a second scan."""
    o = _t(spark, sf_dir, "orders")
    return chunked_hash_diff(
        o,
        _mutated_orders(spark, sf_dir),
        ["o_orderkey"],
        chunk_size=500,
        start_position=1000,
        only_mismatches=False,
    )


# ---------------------------------------------------------------- V3
def q_v3_row_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level drill-down: changed rows + source-only rows."""
    o = _t(spark, sf_dir, "orders")
    mutated = _mutated_orders(spark, sf_dir).filter(F.col("o_orderkey") % 501 != 1)
    return row_diff(o, mutated, ["o_orderkey"])


# ---------------------------------------------------------------- C1
def q_c1_chunk_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PK-ordered chunking (the reference's 10k-row insert slices,
    postgres_operator_impl.rs:246-302), summarized per chunk."""
    c = _t(spark, sf_dir, "customer")
    chunked = with_chunk_id(c, ["c_custkey"], 100)
    return chunked.groupBy("chunk_id").agg(F.count(F.lit(1)).alias("rows_in_chunk"))


# ---------------------------------------------------------------- P9
def q_p9_geometry_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTIPOLYGON sniff + ST_GeomFromText wrap; POINT/plain text pass
    through (postgres_geometry_type.rs:34-54)."""
    p = _t(spark, sf_dir, "part")
    wkt = (
        F.when(F.col("p_partkey") % 5 == 0, F.lit("MULTIPOLYGON(((0 0,1 0,1 1,0 0)))"))
        .when(F.col("p_partkey") % 5 == 1, F.lit("POINT(1 1)"))
        .otherwise(F.col("p_name"))
    )
    return p.select(
        "p_partkey", geometry_rewrite_expr(wkt).alias("sink_literal")
    )


# ---------------------------------------------------------------- aggregation
def q_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped groupBy aggregate (flagship): decimal-exact sums
    surfaced as doubles for engine parity."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    # exact integer-cent arithmetic: prices/discount/tax are 2-decimal by
    # construction, so round(x*100) recovers exact integers and every sum
    # is integer-exact — double→decimal casts are NOT engine-portable
    # (Spark rounds the shortest repr, DuckDB the binary expansion)
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_c = F.round(F.col("l_discount") * 100).cast("long")
    tax_c = F.round(F.col("l_tax") * 100).cast("long")
    out = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("long")).cast("double").alias("sum_qty"),
        (F.sum(cents).cast("double") / 100).alias("sum_base_price"),
        (F.sum(cents * (100 - disc_c)).cast("double") / 10000).alias(
            "sum_disc_price"
        ),
        (F.sum(cents * (100 - disc_c) * (100 + tax_c)).cast("double") / 1000000).alias(
            "sum_charge"
        ),
        F.count(F.lit(1)).alias("count_order"),
    )
    return out.withColumn(
        "avg_qty", F.col("sum_qty") / F.col("count_order")
    ).withColumn("avg_price", F.col("sum_base_price") / F.col("count_order"))


def q_q3_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + aggregate + top-k: revenue per BUILDING-segment customer.

    orders and customer are fact-proportional (they grow with the data),
    so NO broadcast hints here — AQE picks the join strategy at runtime
    and may still broadcast when a side is genuinely small at the current
    scale. tests/test_plans.py gates that no user-forced BroadcastExchange
    sits on the orders/customer side."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        100 - F.round(F.col("l_discount") * 100).cast("long")
    )
    joined = li.join(o, li.l_orderkey == o.o_orderkey).join(
        c, o.o_custkey == c.c_custkey
    )
    agg = joined.groupBy("c_custkey", "c_name").agg(
        (F.sum(rev).cast("double") / 10000).alias("revenue")
    )
    return agg.orderBy(F.col("revenue").desc(), F.col("c_custkey")).limit(10)


def q_orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregate (grouping-sets family): order counts and exact
    integer-cent totals per (status, priority), per status, and grand
    total, disambiguated by grouping_id — same bitmask as DuckDB's
    GROUPING(a, b)."""
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("orders_n"),
            (F.sum(cents).cast("double") / 100).alias("total_price"),
        )
        .select("o_orderstatus", "o_orderpriority", "gid", "orders_n", "total_price")
    )


def q_q4_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q4-shaped EXISTS semi-join: orders in a quarter with at
    least one returned lineitem, counted per priority (the fixture has
    no commit/receipt dates, so `l_returnflag = 'R'` stands in for the
    late-line predicate — the semi-join + agg SHAPE is the point:
    Catalyst plans a LeftSemi that never duplicates orders rows)."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-04-01")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def q_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q6-shaped scan-only aggregate: every predicate pushes to
    the parquet scan, the answer is one exact integer-cent sum. The
    discount window filters on exact recovered cents (disc_c BETWEEN
    5 AND 7), not raw doubles, for engine parity."""
    li = _t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_c = F.round(F.col("l_discount") * 100).cast("long")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_quantity") < 24)
        )
        .filter(disc_c.between(5, 7))
        .agg((F.sum(cents * disc_c).cast("double") / 10000).alias("revenue"))
    )


def q_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q10-shaped 4-table join + top-k: revenue lost to returns
    per customer in a quarter. nation broadcasts (true dimension);
    customer/orders/lineitem are fact-proportional and stay AQE-planned."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-07-01")
        & (F.col("o_orderdate") < "1996-10-01")
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    rev = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        100 - F.round(F.col("l_discount") * 100).cast("long")
    )
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    agg = joined.groupBy("c_custkey", "c_name", "n_name").agg(
        (F.sum(rev).cast("double") / 10000).alias("revenue")
    )
    return agg.orderBy(F.col("revenue").desc(), F.col("c_custkey")).limit(20)


def q_q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q12-shaped conditional aggregation: per line status (the
    fixture's stand-in for ship mode), how many lines belong to
    high-priority vs other orders — the CASE-inside-SUM shape that
    must stay one pass, one shuffle."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


def q_orders_window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned window analytics (lag + row_number): each
    customer's first two orders with the exact-cent delta to the
    previous order — the sequential-analysis shape (windows partition
    by a key, so the shuffle is one hash exchange on o_custkey; no
    single-partition window anywhere)."""
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    out = o.select(
        "o_custkey",
        "o_orderkey",
        cents.alias("price_cents"),
        F.row_number().over(w).cast("long").alias("order_seq"),
        (cents - F.lag(cents).over(w)).alias("delta_cents"),
    )
    return out.filter(F.col("order_seq") <= 2)


def q_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-shaped 6-table join: revenue per ASIA nation from
    orders supplied locally (customer and supplier share a nation).
    nation/region broadcast explicitly; AQE picks strategies for the
    fact-fact joins. Money in exact integer cents (engine-portable)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1996-01-01")
    )
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        100 - F.round(F.col("l_discount") * 100).cast("long")
    )
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey)
            & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        joined.groupBy("n_name")
        .agg((F.sum(rev).cast("double") / 10000).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


# ------------------------------------------------------------------ oracle SQL
# canonical-rendering SQL fragments mirroring operators.diff.canonical_str
_TS = "strftime({c}, '%Y-%m-%d %H:%M:%S.%f')"
_DBL = "printf('%.6f', {c})"
_NULLS = "chr(1)||'null'"


def _orders_row_md5(alias: str) -> str:
    """DuckDB rendering of operators.diff.row_digest over the orders
    schema (columns in sorted-name order)."""
    cols = [
        f"coalesce(CAST({alias}.o_custkey AS VARCHAR), {_NULLS})",
        f"coalesce({_TS.format(c=alias + '.o_orderdate')}, {_NULLS})",
        f"coalesce(CAST({alias}.o_orderkey AS VARCHAR), {_NULLS})",
        f"coalesce({alias}.o_orderpriority, {_NULLS})",
        f"coalesce({alias}.o_orderstatus, {_NULLS})",
        f"coalesce({_DBL.format(c=alias + '.o_totalprice')}, {_NULLS})",
    ]
    return f"md5(concat_ws(chr(31), {', '.join(cols)}))"


_MUTATED_ORDERS = """
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1.0
              ELSE o_totalprice END AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders
"""

ORACLE_SQL: dict[str, str] = {
    "s1_scan_projection": """
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        FROM lineitem
        WHERE l_shipdate < TIMESTAMP '1995-06-01' AND l_discount > 0.05
    """,
    "dms_op_classify": """
        WITH t AS (
          SELECT event_id, user_id,
                 CASE WHEN event_type = 'error' THEN 'D'
                      WHEN event_type = 'click' THEN 'U'
                      ELSE 'I' END AS op
          FROM events)
        SELECT event_id, user_id, op FROM t WHERE op <> 'I'
    """,
    "w1_cdc_compact": """
        WITH t AS (
          SELECT *,
                 CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
        SELECT user_id, event_id AS last_event_id,
               event_type AS last_event_type, value AS last_value
        FROM t WHERE rn = 1 AND op <> 'D'
    """,
    "q13_order_distribution": """
        WITH per_cust AS (
          SELECT c.c_custkey, count(o.o_orderkey) AS c_count
          FROM customer c
          LEFT JOIN (SELECT o_custkey, o_orderkey FROM orders
                     WHERE o_orderpriority <> '1-URGENT') o
            ON c.c_custkey = o.o_custkey
          GROUP BY c.c_custkey)
        SELECT CAST(c_count AS BIGINT) AS c_count,
               CAST(count(*) AS BIGINT) AS custdist
        FROM per_cust GROUP BY c_count
    """,
    "q14_promo_revenue": """
        WITH j AS (
          SELECT CAST(round(l_extendedprice * (1 - l_discount) * 100)
                      AS BIGINT) AS cents,
                 p_type
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE l_shipdate >= TIMESTAMP '1996-09-01'
            AND l_shipdate <  TIMESTAMP '1996-10-01')
        SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                                          THEN cents ELSE 0 END) AS DOUBLE)
                     / CAST(sum(cents) AS DOUBLE), 6) AS promo_revenue_pct
        FROM j
    """,
    "q16_supplier_variety": """
        SELECT p_brand, p_type, p_size,
               CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#45'
          AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
        GROUP BY p_brand, p_type, p_size
    """,
    "q18_large_orders": """
        WITH big AS (
          SELECT l_orderkey,
                 CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING sum(CAST(l_quantity AS BIGINT)) > 180)
        SELECT c.c_name, o.o_orderkey,
               CAST(round(o.o_totalprice * 100) AS BIGINT) AS price_cents,
               big.total_qty
        FROM big
        JOIN orders o ON big.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    "q19_bracket_predicates": """
        SELECT CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                             AS BIGINT)) AS BIGINT) AS revenue_cents
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 20 AND 30)
    """,
    "q22_dormant_customers": """
        WITH c AS (
          SELECT c_custkey, c_mktsegment,
                 CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
          FROM customer),
        t AS (
          SELECT CAST(sum(bal_cents) AS BIGINT) AS s,
                 CAST(count(*) AS BIGINT) AS n
          FROM c WHERE bal_cents > 0)
        SELECT c_mktsegment,
               CAST(count(*) AS BIGINT) AS numcust,
               CAST(sum(bal_cents) AS BIGINT) AS total_bal_cents
        FROM c, t
        WHERE c.bal_cents * t.n > t.s
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderdate >= TIMESTAMP '2001-01-01')
        GROUP BY c_mktsegment
    """,
    "w1_skewed": """
        WITH t AS (
          SELECT CASE WHEN user_id % 10 < 3 THEN 0 ELSE user_id END AS uid,
                 event_id, event_type, value, ts,
                 CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
          FROM events),
        r AS (
          SELECT *, row_number() OVER (PARTITION BY uid
                                       ORDER BY ts DESC, event_id DESC) AS rn
          FROM t)
        SELECT uid AS user_id, event_id AS last_event_id,
               event_type AS last_event_type, value AS last_value
        FROM r WHERE rn = 1 AND op <> 'D'
    """,
    "f2_load_cdc_merge": """
        WITH last_o AS (
          SELECT o_custkey, o_totalprice, o_orderstatus,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
          FROM orders),
        cdc AS (
          SELECT o_custkey AS k,
                 CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op,
                 o_totalprice AS v
          FROM last_o WHERE rn = 1)
        SELECT coalesce(c.c_custkey, cdc.k) AS c_custkey,
               coalesce(cdc.v, c.c_acctbal) AS c_acctbal
        FROM customer c FULL JOIN cdc ON c.c_custkey = cdc.k
        WHERE cdc.op IS NULL OR cdc.op <> 'D'
    """,
    "u1_upsert": """
        WITH src AS (
          SELECT c_custkey, c_name, c_nationkey,
                 c_acctbal + 100.0 AS c_acctbal, c_mktsegment
          FROM customer WHERE c_custkey % 7 = 0
          UNION ALL
          SELECT c_custkey + 100000, c_name, c_nationkey, c_acctbal, c_mktsegment
          FROM customer WHERE c_custkey % 97 = 0)
        SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        FROM customer WHERE c_custkey NOT IN (SELECT c_custkey FROM src)
        UNION ALL
        SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM src
    """,
    "d1_delete": """
        SELECT * FROM customer WHERE c_custkey % 10 <> 0
    """,
    "v1_count_diff": """
        SELECT s.source_rows, t.target_rows,
               s.source_rows = t.target_rows AS counts_match
        FROM (SELECT count(*) AS source_rows FROM lineitem) s
        CROSS JOIN (SELECT count(*) AS target_rows FROM orders) t
    """,
    "v2_chunked_hash_diff": f"""
        WITH mutated AS ({_MUTATED_ORDERS}),
        s AS (
          SELECT CAST(floor((row_number() OVER (ORDER BY o_orderkey) - 1) / 500)
                      AS BIGINT) AS chunk_id,
                 {_orders_row_md5('orders')} AS row_md5
          FROM orders),
        t AS (
          SELECT CAST(floor((row_number() OVER (ORDER BY o_orderkey) - 1) / 500)
                      AS BIGINT) AS chunk_id,
                 {_orders_row_md5('mutated')} AS row_md5
          FROM mutated),
        sh AS (SELECT chunk_id, md5(string_agg(row_md5, '' ORDER BY row_md5)) AS source_hash,
                      count(*) AS source_rows
               FROM s GROUP BY chunk_id),
        th AS (SELECT chunk_id, md5(string_agg(row_md5, '' ORDER BY row_md5)) AS target_hash,
                      count(*) AS target_rows
               FROM t GROUP BY chunk_id)
        SELECT coalesce(sh.chunk_id, th.chunk_id) AS chunk_id,
               source_hash, source_rows, target_hash, target_rows,
               coalesce(source_hash = target_hash
                        AND source_rows = target_rows, FALSE) AS chunks_match
        FROM sh FULL JOIN th ON sh.chunk_id = th.chunk_id
        WHERE NOT coalesce(source_hash = target_hash
                           AND source_rows = target_rows, FALSE)
        ORDER BY 1
    """,
    "v2_resume_from_position": f"""
        WITH mutated AS ({_MUTATED_ORDERS}),
        s AS (
          SELECT CAST(floor((row_number() OVER (ORDER BY o_orderkey) - 1) / 500)
                      AS BIGINT) AS chunk_id,
                 {_orders_row_md5('orders')} AS row_md5
          FROM orders),
        t AS (
          SELECT CAST(floor((row_number() OVER (ORDER BY o_orderkey) - 1) / 500)
                      AS BIGINT) AS chunk_id,
                 {_orders_row_md5('mutated')} AS row_md5
          FROM mutated),
        sh AS (SELECT chunk_id, md5(string_agg(row_md5, '' ORDER BY row_md5)) AS source_hash,
                      count(*) AS source_rows
               FROM s GROUP BY chunk_id),
        th AS (SELECT chunk_id, md5(string_agg(row_md5, '' ORDER BY row_md5)) AS target_hash,
                      count(*) AS target_rows
               FROM t GROUP BY chunk_id)
        SELECT coalesce(sh.chunk_id, th.chunk_id) AS chunk_id,
               source_hash, source_rows, target_hash, target_rows,
               coalesce(source_hash = target_hash
                        AND source_rows = target_rows, FALSE) AS chunks_match
        FROM sh FULL JOIN th ON sh.chunk_id = th.chunk_id
        WHERE coalesce(sh.chunk_id, th.chunk_id) >= 1000 // 500
        ORDER BY 1
    """,
    "v3_row_diff": f"""
        WITH mutated AS (
          SELECT * FROM ({_MUTATED_ORDERS}) WHERE o_orderkey % 501 <> 1)
        SELECT o.o_orderkey,
               CASE WHEN m.o_orderkey IS NULL THEN 'source_only'
                    WHEN o.o_totalprice <> m.o_totalprice THEN 'different'
               END AS diff_status
        FROM orders o LEFT JOIN mutated m ON o.o_orderkey = m.o_orderkey
        WHERE m.o_orderkey IS NULL OR o.o_totalprice <> m.o_totalprice
    """,
    "c1_chunk_sizes": """
        WITH ranked AS (
          SELECT CAST(floor((row_number() OVER (ORDER BY c_custkey) - 1) / 100)
                      AS BIGINT) AS chunk_id
          FROM customer)
        SELECT chunk_id, count(*) AS rows_in_chunk FROM ranked GROUP BY chunk_id
    """,
    "p9_geometry_rewrite": """
        WITH t AS (
          SELECT p_partkey,
                 CASE WHEN p_partkey % 5 = 0
                        THEN 'MULTIPOLYGON(((0 0,1 0,1 1,0 0)))'
                      WHEN p_partkey % 5 = 1 THEN 'POINT(1 1)'
                      ELSE p_name END AS wkt
          FROM part)
        SELECT p_partkey,
               CASE WHEN substr(wkt, 1, 13) = 'MULTIPOLYGON('
                      THEN 'ST_GeomFromText(''' || wkt || ''', 0)'
                    ELSE wkt END AS sink_literal
        FROM t
    """,
    "q1_pricing_summary": """
        WITH agg AS (
          SELECT l_returnflag, l_linestatus,
                 CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sum_qty,
                 CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100 AS sum_base_price,
                 CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                          * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000 AS sum_disc_price,
                 CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                          * (100 - CAST(round(l_discount * 100) AS BIGINT))
                          * (100 + CAST(round(l_tax * 100) AS BIGINT))) AS DOUBLE) / 1000000 AS sum_charge,
                 count(*) AS count_order
          FROM lineitem
          WHERE l_shipdate <= TIMESTAMP '1998-09-02'
          GROUP BY l_returnflag, l_linestatus)
        SELECT *, sum_qty / count_order AS avg_qty,
               sum_base_price / count_order AS avg_price
        FROM agg
    """,
    "q3_top_customers": """
        SELECT c_custkey, c_name,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                        * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                    AS DOUBLE) / 10000 AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY c_custkey, c_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 10
    """,
    "orders_rollup": """
        SELECT o_orderstatus, o_orderpriority,
               GROUPING(o_orderstatus, o_orderpriority) AS gid,
               count(*) AS orders_n,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
                 / 100 AS total_price
        FROM orders
        GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    "q5_local_supplier_volume": """
        SELECT n_name,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                        * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                    AS DOUBLE) / 10000 AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate <  TIMESTAMP '1996-01-01'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name
    """,
    "q4_priority_check": """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders o
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1996-04-01'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o.o_orderkey
                        AND l_returnflag = 'R')
        GROUP BY o_orderpriority
    """,
    "q6_forecast_revenue": """
        SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                        * CAST(round(l_discount * 100) AS BIGINT))
                    AS DOUBLE) / 10000 AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
          AND l_quantity < 24
          AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7
    """,
    "q10_returned_items": """
        SELECT c_custkey, c_name, n_name,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                        * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                    AS DOUBLE) / 10000 AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-07-01'
          AND o_orderdate <  TIMESTAMP '1996-10-01'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
    "orders_window_analytics": """
        WITH t AS (
          SELECT o_custkey, o_orderkey,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
                 row_number() OVER w AS order_seq,
                 CAST(round(o_totalprice * 100) AS BIGINT)
                   - lag(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w
                   AS delta_cents
          FROM orders
          WINDOW w AS (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey)
        )
        SELECT o_custkey, o_orderkey, price_cents,
               CAST(order_seq AS BIGINT) AS order_seq, delta_cents
        FROM t WHERE order_seq <= 2
    """,
    "q12_shipmode_priority": """
        SELECT l_linestatus,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
        GROUP BY l_linestatus
    """,
}

from rust_dms_cdc_operator_spark.inventory_llm import (  # noqa: E402
    ORACLE_SQL_LLM,
    QUERIES_LLM,
    oracle_sql_overrides,  # noqa: F401  (re-export: per-sf ANN oracles)
)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "s1_scan_projection": q_s1_scan_projection,
    "dms_op_classify": q_dms_op_classify,
    "w1_cdc_compact": q_w1_cdc_compact,
    "w1_skewed": q_w1_skewed,
    "q13_order_distribution": q_q13_order_distribution,
    "q14_promo_revenue": q_q14_promo_revenue,
    "q16_supplier_variety": q_q16_supplier_variety,
    "q18_large_orders": q_q18_large_orders,
    "q19_bracket_predicates": q_q19_bracket_predicates,
    "q22_dormant_customers": q_q22_dormant_customers,
    "f2_load_cdc_merge": q_f2_load_cdc_merge,
    "u1_upsert": q_u1_upsert,
    "d1_delete": q_d1_delete,
    "v1_count_diff": q_v1_count_diff,
    "v2_chunked_hash_diff": q_v2_chunked_hash_diff,
    "v2_resume_from_position": q_v2_resume_from_position,
    "v3_row_diff": q_v3_row_diff,
    "c1_chunk_sizes": q_c1_chunk_sizes,
    "p9_geometry_rewrite": q_p9_geometry_rewrite,
    "q1_pricing_summary": q_q1_pricing_summary,
    "q3_top_customers": q_q3_top_customers,
    "q4_priority_check": q_q4_priority_check,
    "q6_forecast_revenue": q_q6_forecast_revenue,
    "q10_returned_items": q_q10_returned_items,
    "q12_shipmode_priority": q_q12_shipmode_priority,
    "orders_window_analytics": q_orders_window_analytics,
    "q5_local_supplier_volume": q_q5_local_supplier_volume,
    "orders_rollup": q_orders_rollup,
}

QUERIES.update(QUERIES_LLM)
ORACLE_SQL.update(ORACLE_SQL_LLM)

from rust_dms_cdc_operator_spark.inventory_tpch2 import (  # noqa: E402
    ORACLE_SQL_TPCH2,
    QUERIES_TPCH2,
)

QUERIES.update(QUERIES_TPCH2)
ORACLE_SQL.update(ORACLE_SQL_TPCH2)
# the streaming replay must reproduce the batch W1 compaction exactly
ORACLE_SQL["stream_cdc_apply"] = ORACLE_SQL["w1_cdc_compact"]
