"""Gap-fill/LOCF and KMV sketch: semantics + estimate quality."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from rust_dms_cdc_operator_spark.operators.gapfill import gapfill_locf, time_spine
from rust_dms_cdc_operator_spark.operators.sketch import kmv_cardinality


def test_time_spine_inclusive_grid(spark):
    keys = spark.createDataFrame([("a",), ("b",)], "k string")
    spine = time_spine(keys, "2024-01-01 00:00:00", "2024-01-01 03:00:00", 3600)
    assert spine.count() == 2 * 4  # both endpoints inclusive


def test_gapfill_locf_carries_and_zero_fills(spark):
    facts = spark.createDataFrame(
        [
            ("a", datetime(2024, 1, 1, 0), 10, 2),
            ("a", datetime(2024, 1, 1, 3), 30, 1),
            ("b", datetime(2024, 1, 1, 2), 99, 5),
        ],
        "k string, bucket_ts timestamp, v long, n long",
    )
    out = gapfill_locf(
        facts, ["k"], "bucket_ts", ["v"],
        "2024-01-01 00:00:00", "2024-01-01 03:00:00", 3600,
        zero_cols=["n"],
    ).orderBy("k", "bucket_ts")
    rows = [(r.k, r.bucket_ts.hour, r.v, r.n) for r in out.collect()]
    assert rows == [
        ("a", 0, 10, 2),
        ("a", 1, 10, 0),   # gap: v carried, n zeroed
        ("a", 2, 10, 0),
        ("a", 3, 30, 1),
        ("b", 0, None, 0),  # before first observation: null
        ("b", 1, None, 0),
        ("b", 2, 99, 5),
        ("b", 3, 99, 0),
    ]


def test_gapfill_plan_no_single_partition(spark):
    from rust_dms_cdc_operator_spark.plans.inspect import formatted_plan

    facts = spark.createDataFrame(
        [("a", datetime(2024, 1, 1, 0), 1)],
        "k string, bucket_ts timestamp, v long",
    )
    out = gapfill_locf(
        facts, ["k"], "bucket_ts", ["v"],
        "2024-01-01 00:00:00", "2024-01-01 23:00:00", 3600,
    )
    plan = formatted_plan(out)
    # LOCF window partitions by key — never a global single-partition sort
    assert "SinglePartition" not in plan, plan


def test_kmv_exact_below_k(spark):
    df = spark.createDataFrame(
        [("s", f"doc-{i}") for i in range(40)], "source string, text string"
    )
    row = kmv_cardinality(df, ["source"], "text", k=64).collect()[0]
    assert row.kmv_estimate == row.exact_distinct == 40


def test_kmv_estimate_within_error_bound(spark):
    """k=256 → stderr ~ 1/sqrt(254) ~ 6.3%; assert within 4 sigma and
    that duplicates don't inflate the estimate."""
    rows = [("s", f"doc-{i}") for i in range(5000)]
    rows += [("s", f"doc-{i}") for i in range(1000)]  # duplicates
    df = spark.createDataFrame(rows, "source string, text string")
    row = kmv_cardinality(df, ["source"], "text", k=256).collect()[0]
    assert row.exact_distinct == 5000
    assert abs(row.kmv_estimate - 5000) < 5000 * 0.25, row.kmv_estimate


def test_cms_never_undercounts(spark):
    from rust_dms_cdc_operator_spark.operators.sketch import (
        cms_build,
        cms_estimate,
    )

    rows = [(f"w{i % 50}",) for i in range(2000)]
    df = spark.createDataFrame(rows, "word string")
    sketch = cms_build(df, "word", width=64)  # narrow → forced collisions
    exact = df.groupBy("word").count()
    est = cms_estimate(sketch, exact.select("word"), "word", width=64)
    j = exact.join(est, "word").collect()
    assert len(j) == 50
    assert all(r.cms_count >= r["count"] for r in j)  # upper bound, always
    # with depth 4 the min-over-rows kills most collision inflation
    assert sum(1 for r in j if r.cms_count == r["count"]) >= 25


def test_cms_sketch_is_mergeable(spark):
    """Union of two half-corpus sketches (bucket-wise total add) must
    estimate like the full-corpus sketch."""
    from pyspark.sql import functions as F2

    from rust_dms_cdc_operator_spark.operators.sketch import (
        cms_build,
        cms_estimate,
    )

    rows = [(i, f"w{i % 30}") for i in range(1000)]
    df = spark.createDataFrame(rows, "i long, word string")
    a = cms_build(df.filter("i % 2 = 0"), "word", width=256)
    b = cms_build(df.filter("i % 2 = 1"), "word", width=256)
    merged = (
        a.unionByName(b)
        .groupBy("cms_row", "cms_bucket")
        .agg(F2.sum("total").alias("total"))
    )
    full = cms_build(df, "word", width=256)
    probes = df.select("word").distinct()
    em = cms_estimate(merged, probes, "word", width=256)
    ef = cms_estimate(full, probes, "word", width=256)
    assert em.exceptAll(ef).count() == 0 and ef.exceptAll(em).count() == 0


def test_weighted_bottom_k_biases_toward_heavy(spark):
    from rust_dms_cdc_operator_spark.operators.split import weighted_bottom_k

    # ids 0..999: weight 100 for the first 100 ids, 1 for the rest
    rows = [(i, 100 if i < 100 else 1) for i in range(1000)]
    df = spark.createDataFrame(rows, "id long, w long")
    got = weighted_bottom_k(df, "id", "w", k=100).collect()
    heavy = sum(1 for r in got if r.w == 100)
    # heavy rows are 10% of the population but ~100x likelier per row;
    # they must dominate the sample (deterministic: always same set)
    assert heavy > 60, heavy
    # determinism: a second run yields the identical set
    again = weighted_bottom_k(df, "id", "w", k=100).collect()
    assert sorted(r.id for r in got) == sorted(r.id for r in again)


def test_weighted_bottom_k_plan_take_ordered(spark):
    from rust_dms_cdc_operator_spark.operators.split import weighted_bottom_k
    from rust_dms_cdc_operator_spark.plans.inspect import formatted_plan

    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 7 + 1).alias("w")
    )
    plan = formatted_plan(weighted_bottom_k(df, "id", "w", k=10))
    assert "TakeOrderedAndProject" in plan, plan  # not a full global sort


def test_hist_quantiles_within_grid_step(spark):
    from rust_dms_cdc_operator_spark.operators.sketch import (
        hist_build,
        hist_quantiles,
    )

    vals = list(range(0, 10_000))  # uniform 0..9999
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    hist = hist_build(df, "v", lo=0, hi=10_000, buckets=100)  # step 100
    out = {r.q_micro: r.value_est for r in
           hist_quantiles(hist, 0, 10_000, 100, qs=(0.5, 0.9)).collect()}
    assert abs(out[500000] - 5000) <= 100
    assert abs(out[900000] - 9000) <= 100


def test_hist_merge_equals_full_build(spark):
    from pyspark.sql import functions as F2

    from rust_dms_cdc_operator_spark.operators.sketch import hist_build

    df = spark.createDataFrame([(i * 7 % 1000,) for i in range(5000)], "v long")
    a = hist_build(df.filter("v % 2 = 0"), "v", 0, 1000, 64)
    b = hist_build(df.filter("v % 2 = 1"), "v", 0, 1000, 64)
    merged = (
        a.unionByName(b).groupBy("hist_bucket")
        .agg(F2.sum("total").alias("total"))
    )
    full = hist_build(df, "v", 0, 1000, 64)
    assert merged.exceptAll(full).count() == 0
    assert full.exceptAll(merged).count() == 0


def test_kmv_merge_union_retruncate(spark):
    """KMV's mergeability claim: union two groups' sketches (take the
    k smallest of the combined hash lists) == the sketch of the union
    — i.e. the estimate of |A ∪ B| needs only the two sketches; and
    ``kmv_sketch`` + ``kmv_union`` compute exactly that merge."""
    from pyspark.sql import functions as F2

    from rust_dms_cdc_operator_spark.operators.sketch import (
        kmv_cardinality,
        kmv_hash,
        kmv_sketch,
        kmv_union,
    )

    rows_a = [("g", f"a-{i}") for i in range(800)]
    rows_b = [("g", f"b-{i}") for i in range(600)]
    both = spark.createDataFrame(rows_a + rows_b, "g string, v string")
    direct = kmv_cardinality(both, ["g"], "v", k=64).collect()[0]

    # simulate the merge: k smallest hashes from each half, combined,
    # re-truncated to k, then the same estimator arithmetic
    def kmins(rows):
        df = spark.createDataFrame(rows, "g string, v string")
        return sorted(
            r.h for r in df.select(kmv_hash(F2.col("v")).alias("h"))
            .distinct().orderBy("h").limit(64).collect()
        )

    combined = sorted(set(kmins(rows_a)) | set(kmins(rows_b)))[:64]
    kth = combined[63]
    est = round(63 * float(1 << 60) / kth)
    assert est == direct.kmv_estimate

    # the operators: per-half kmv_sketch lists, merged by kmv_union
    halves = spark.createDataFrame(
        [("a", v) for _, v in rows_a] + [("b", v) for _, v in rows_b],
        "half string, v string",
    )
    sk = {r.half: r for r in kmv_sketch(halves, ["half"], "v", 64).collect()}
    assert sk["a"].kmv_hashes == kmins(rows_a)
    assert sk["b"].kmv_hashes == kmins(rows_b)
    pair = spark.createDataFrame(
        [(sk["a"].kmv_hashes, sk["b"].kmv_hashes)],
        "a array<bigint>, b array<bigint>",
    )
    merged = pair.select(
        kmv_union(F2.col("a"), F2.col("b"), 64).alias("u")
    ).first().u
    assert merged == combined


def test_cms_inner_product_upper_bound(spark):
    """The AMS inner-product estimate never under-counts the true
    join size, and is exact when the sketch is collision-free."""
    from pyspark.sql import functions as F

    from rust_dms_cdc_operator_spark.operators.sketch import (
        cms_build,
        cms_inner_product,
    )

    a = spark.createDataFrame(
        [("u1", 3), ("u2", 2), ("u3", 5)], "u string, c long"
    )
    b = spark.createDataFrame(
        [("u1", 4), ("u3", 1), ("u9", 7)], "u string, c long"
    )
    exact = 3 * 4 + 5 * 1
    est = cms_inner_product(
        cms_build(a, "u", count_col="c"), cms_build(b, "u", count_col="c")
    ).first().estimate
    assert est >= exact
    # 6 keys in a width-1024 sketch: collision-free -> exact
    assert est == exact


def test_heavy_hitters_exact_bounded_and_fallback(spark):
    """heavy_hitters_exact: (1) on a skewed stream the bounded-memory
    path reproduces the exact top-k including the (count desc, token
    asc) tie order; (2) per-partition MG summaries stay <= m + 1 rows;
    (3) on a near-uniform stream where the pigeonhole guarantee fails
    the operator falls back and is STILL exact; (4) k larger than the
    vocabulary returns every token; (5) NULL tokens are dropped."""
    import random

    from pyspark.sql import functions as F

    from rust_dms_cdc_operator_spark.operators.sketch import (
        heavy_hitters_exact,
        misra_gries_candidates,
    )

    rows = []
    for i in range(150):
        rows += [(f"t{i:03d}",)] * (600 // (i + 1))
    random.Random(3).shuffle(rows)
    df = spark.createDataFrame(rows, "w string").repartition(6)

    def exact(frame, k):
        return [
            (r.w, r.n)
            for r in frame.groupBy("w")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .orderBy(F.col("n").desc(), F.col("w").asc())
            .limit(k)
            .collect()
        ]

    got = [(r.w, r.n) for r in
           heavy_hitters_exact(df, "w", k=12, m=64).collect()]
    assert got == exact(df, 12)

    # summary size is config-bounded: <= m candidate rows + 1
    # accounting row per partition
    per_part = (
        misra_gries_candidates(df, "w", m=16)
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid").count().collect()
    )
    assert all(r["count"] <= 17 for r in per_part)

    uniform = spark.createDataFrame(
        [(f"u{i % 80:02d}",) for i in range(4000)], "w string"
    ).repartition(6)
    got_u = [(r.w, r.n) for r in
             heavy_hitters_exact(uniform, "w", k=10, m=4).collect()]
    assert got_u == exact(uniform, 10)

    tiny = spark.createDataFrame(
        [("a",), ("a",), ("b",)], "w string"
    )
    got_t = [(r.w, r.n) for r in
             heavy_hitters_exact(tiny, "w", k=10, m=8).collect()]
    assert got_t == [("a", 2), ("b", 1)]

    # (5) NULL tokens are never hitters, on either path: m=16 certifies
    # the bounded answer, m=1 forces the fallback aggregation
    nulls = spark.createDataFrame(
        [(None,)] * 500 + [("a",)] * 300 + [("b",)] * 200
        + [("c",)] * 150,
        "w string",
    ).repartition(3)
    for m in (16, 1):
        got_n = [(r.w, r.n) for r in
                 heavy_hitters_exact(nulls, "w", k=3, m=m).collect()]
        assert got_n == [("a", 300), ("b", 200), ("c", 150)], m


def test_hll_cardinality_accuracy_and_layout_independence(spark):
    """Raw HLL at p=9 (m=512): within ~3x the theoretical 4.6% rsd on
    a 5000-distinct input (n >> 2.5m, the raw regime), and the result
    is a pure function of the SET — invariant under partitioning and
    duplication, since max(rho) absorbs both."""
    from rust_dms_cdc_operator_spark.operators.sketch import hll_cardinality

    df = spark.createDataFrame(
        [(f"val{i}",) for i in range(5000)], "v string"
    )
    r = hll_cardinality(df, "v", p=9).collect()[0]
    assert abs(r.hll_estimate - 5000) / 5000 < 0.15
    # duplicates + different layout: identical sketch scalars
    dup = df.union(df).union(df.limit(1234)).repartition(13)
    r2 = hll_cardinality(dup, "v", p=9).collect()[0]
    assert (r2.m_hit, r2.s_scaled, r2.hll_estimate) == (
        r.m_hit, r.s_scaled, r.hll_estimate
    )


def test_hll_merge_equals_whole(spark):
    """Mergeability — the property KMV lacks a cheap form of: the
    register-wise max of two group sketches (union + max per register,
    the merge events_hll_retention runs) equals the sketch of the
    union, exactly (not approximately), at both hash widths the
    queries use."""
    from pyspark.sql import functions as F

    from rust_dms_cdc_operator_spark.operators.sketch import (
        hll_cardinality,
        hll_registers,
        hll_scaled_sum,
    )

    df = spark.createDataFrame(
        [(("a" if i % 2 else "b"), f"x{i % 700}") for i in range(3000)],
        "g string, v string",
    )
    for hash_chars in (15, 12):
        whole = hll_scaled_sum(
            hll_registers(df.select("v"), "v", p=9, hash_chars=hash_chars),
            p=9, hash_chars=hash_chars,
        ).collect()[0]
        regs = hll_registers(df, "v", ["g"], p=9, hash_chars=hash_chars)

        def side(g):
            return regs.where(F.col("g") == g).select("reg", "mreg")

        union = (
            side("a").unionByName(side("b"))
            .groupBy("reg").agg(F.max("mreg").alias("mreg"))
        )
        merged = hll_scaled_sum(union, p=9, hash_chars=hash_chars).collect()[0]
        assert (merged.m_hit, merged.s_scaled) == (
            whole.m_hit, whole.s_scaled
        ), hash_chars
        assert 0 < whole.m_hit <= 512
        # s_scaled rebuilt on the driver from the collected registers:
        # Σ 2^(maxexp - M) over hit registers + 2^maxexp per empty one
        maxexp = 4 * hash_chars - 9 + 1
        hit = union.collect()
        assert len(hit) == whole.m_hit
        assert whole.s_scaled == sum(
            1 << (maxexp - r.mreg) for r in hit
        ) + (512 - len(hit)) * (1 << maxexp), hash_chars
    # the default width is hll_cardinality's sketch
    card = hll_cardinality(df.select("v"), "v", p=9).collect()[0]
    whole15 = hll_scaled_sum(hll_registers(df, "v", p=9), p=9).collect()[0]
    assert (card.m_hit, card.s_scaled) == (whole15.m_hit, whole15.s_scaled)


def test_bloom_word_table_merge_equals_scratch(spark):
    """OR-merging per-epoch Bloom word tables reproduces the
    from-scratch filter bit-for-bit, for any partition of the corpus
    — the additive-maintenance contract of the decontamination
    artifact; and ``bloom_contains`` finds every member gram in the
    built table (no false negatives)."""
    from pyspark.sql import functions as F

    from rust_dms_cdc_operator_spark.operators.dedup import (
        sliding_word_ngrams,
    )
    from rust_dms_cdc_operator_spark.operators.sketch import (
        bloom_contains,
        bloom_word_table,
        merge_bloom_word_tables,
    )

    d = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(120)

    def grams(cond):
        return d.filter(cond).select(
            F.explode(sliding_word_ngrams(F.col("text"), 5)).alias("g")
        )

    scratch = {
        (r.w, r.bits)
        for r in bloom_word_table(grams(F.lit(True))).collect()
    }
    # three-way split, merged pairwise in arbitrary order
    parts = [bloom_word_table(grams(F.col("doc_id") % 3 == i))
             for i in range(3)]
    merged = merge_bloom_word_tables(
        merge_bloom_word_tables(parts[2], parts[0]), parts[1]
    )
    assert {(r.w, r.bits) for r in merged.collect()} == scratch
    assert len(scratch) > 0
    # idempotence: re-merging an epoch changes nothing
    again = merge_bloom_word_tables(merged, parts[1])
    assert {(r.w, r.bits) for r in again.collect()} == scratch
    # every member gram probes as present against the built table
    members = grams(F.lit(True)).select(
        bloom_contains(F.col("g"), sorted(scratch)).alias("hit")
    )
    hits = members.groupBy("hit").count().collect()
    assert [(r.hit, r["count"] > 0) for r in hits] == [(1, True)]
