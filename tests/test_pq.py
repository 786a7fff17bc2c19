"""Product quantization: encode/table semantics + retrieval quality."""

from __future__ import annotations

from pyspark.sql import functions as F

from rust_dms_cdc_operator_spark.operators.pq import (
    pq_distance_table,
    pq_encode,
    pq_topk,
    quantize_scalar,
    train_pq_codebooks,
)

# toy codebooks: 2 subspaces x 2 centroids x 2 dims (int grid)
BOOKS = [
    [[0, 0], [100, 100]],
    [[-100, 0], [100, 0]],
]


def test_pq_encode_known_codes(spark):
    # vec quantizes to [127, 127, -127, 0] (floor-clip x127);
    # sub1 [127,127] → nearest [100,100] = code 2
    # sub2 [-127,0]  → nearest [-100,0]  = code 1
    df = spark.createDataFrame([([1.0, 1.0, -1.0, 0.0],)], "v array<float>")
    row = df.select(pq_encode(F.col("v"), BOOKS).alias("c")).first()
    assert list(row.c) == [2, 1]


def test_pq_encode_tie_lowest_code(spark):
    # equidistant between both centroids of subspace 2 → code 1
    df = spark.createDataFrame([([0.0, 0.0, 0.0, 0.0],)], "v array<float>")
    row = df.select(pq_encode(F.col("v"), BOOKS).alias("c")).first()
    assert row.c[1] == 1


def test_pq_distance_table_exact_integers(spark):
    dt = pq_distance_table([1.0, 1.0, -1.0, 0.0], BOOKS)
    # q = [127,127,-127,0]: sub1 vs [0,0] = 127^2*2; vs [100,100] = 27^2*2
    assert dt[0] == [2 * 127 * 127, 2 * 27 * 27]
    assert dt[1] == [27 * 27, 227 * 227]
    assert quantize_scalar(1.5) == 127 and quantize_scalar(-2.0) == -127


def test_pq_topk_retrieves_query_cluster(spark):
    """Three tight clusters; PQ trained on the data must put the
    query's own cluster in the top-k ahead of the others."""
    import random

    rng = random.Random(7)

    def jitter(base, n, start_id):
        return [
            (start_id + i,
             [min(1.0, max(-1.0, b + rng.uniform(-0.02, 0.02))) for b in base])
            for i in range(n)
        ]

    a = [0.8] * 8 + [-0.8] * 8
    b = [-0.8] * 16
    c = [0.0] * 8 + [0.8] * 8
    rows = jitter(a, 30, 0) + jitter(b, 30, 100) + jitter(c, 30, 200)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    books = train_pq_codebooks(df, "embedding", m=4, n_codes=4, seed=42)
    got = pq_topk(df, a, books, "vec_id", "embedding", k=10).collect()
    in_cluster = sum(1 for r in got if r.vec_id < 100)
    assert in_cluster >= 8, [r.vec_id for r in got]


def test_pq_topk_plan_no_shuffle_before_cut(spark):
    from rust_dms_cdc_operator_spark.plans.inspect import formatted_plan

    df = spark.createDataFrame(
        [(i, [float(i % 3) / 3] * 4) for i in range(50)],
        "vec_id long, embedding array<float>",
    )
    plan = formatted_plan(pq_topk(df, [0.1] * 4, BOOKS, k=5))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange" not in plan.split("TakeOrderedAndProject")[0], plan


def test_adc_kernel_matches_expression_path(spark):
    """The Arrow/numpy ADC kernel must be bit-identical to the
    pure-expression encode + table-lookup path (the form the SQL
    oracle replays)."""
    import random

    from rust_dms_cdc_operator_spark.operators.pq import (
        adc_distances,
        pq_distance_table,
    )

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-1.3, 1.3) for _ in range(4)]) for i in range(300)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = [0.3, -0.9, 1.1, 0.0]
    kernel = adc_distances(df, q, BOOKS)
    dtable = pq_distance_table(q, BOOKS)
    codes = pq_encode(F.col("embedding"), BOOKS)
    dist = F.lit(0).cast("long")
    for s, table in enumerate(dtable):
        lookup = F.array(*[F.lit(v).cast("long") for v in table])
        dist = dist + F.element_at(lookup, F.element_at(codes, s + 1).cast("int"))
    expr = df.select("vec_id", dist.alias("pq_dist"))
    assert kernel.exceptAll(expr).count() == 0
    assert expr.exceptAll(kernel).count() == 0


def test_pq_shortlist_stored_codes_match_kernel(spark, tmp_path):
    """pq_topk / pq_topk_rerank over a write_ivfpq_partitioned table
    rank from the stored codes and return exactly the rows the ADC
    kernel gives over the raw vectors — on data whose replicated
    vectors tie in PQ distance across the shortlist boundary and in
    cosine inside the rerank (both break on the id)."""
    import random

    from rust_dms_cdc_operator_spark.operators.pq import (
        PQ_CODES_COL,
        pq_topk_rerank,
        write_ivfpq_partitioned,
    )

    rng = random.Random(5)
    bases = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(6)]
    ids = list(range(1, 31))
    rng.shuffle(ids)
    rows = [(ids[i], bases[i % 6]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    books = train_pq_codebooks(df, m=4, n_codes=4, seed=1)
    path = str(tmp_path / "ivfpq")
    write_ivfpq_partitioned(df, path, [bases[0], bases[3]], books)
    idx = spark.read.parquet(path)
    assert PQ_CODES_COL in idx.columns
    q = [x + 0.01 for x in bases[2]]
    for shortlist in (3, 7, 12):
        kernel = pq_topk(df, q, books, k=shortlist).collect()
        stored = pq_topk(idx, q, books, k=shortlist).collect()
        assert stored == kernel, (shortlist, stored, kernel)
        dists = [r.pq_dist for r in pq_topk(df, q, books, k=30).collect()]
        assert dists[shortlist - 1] == dists[shortlist]  # boundary tie
        got = pq_topk_rerank(idx, q, books, k=4, shortlist=shortlist)
        exp = pq_topk_rerank(df, q, books, k=4, shortlist=shortlist)
        assert got.collect() == exp.collect(), shortlist


def test_pq_rerank_recall_on_fixture(spark):
    """End-to-end recall gate on the real sf0.01 embeddings: the
    shortlist-100 + exact-rerank top-10 must recover >= 6/10 of the
    brute-force cosine top-10 (mirrors the IVF recall gate)."""
    from rust_dms_cdc_operator_spark.inventory_llm import QUERIES_LLM

    sf = "/root/testdata/sf0.01"
    exact = {r.vec_id for r in QUERIES_LLM["sim_cosine_topk"](spark, sf).collect()}
    got = {r.vec_id for r in QUERIES_LLM["sim_pq_topk"](spark, sf).collect()}
    assert len(exact & got) >= 6, sorted(got)


def test_ivfpq_recall_bounded_by_ivf(spark):
    """The composed stack must not lose recall versus IVF alone (the
    PQ shortlist within probed lists is wide enough to keep every
    IVF-visible neighbor) and stays within the IVF probe's ceiling."""
    from rust_dms_cdc_operator_spark.inventory_llm import QUERIES_LLM

    sf = "/root/testdata/sf0.01"
    exact = {r.vec_id for r in QUERIES_LLM["sim_cosine_topk"](spark, sf).collect()}
    ivf = {r.vec_id for r in QUERIES_LLM["sim_ivf_trained"](spark, sf).collect()}
    ivfpq = {r.vec_id for r in QUERIES_LLM["sim_ivfpq_topk"](spark, sf).collect()}
    assert len(ivfpq & exact) >= len(ivf & exact) - 1  # allow 1-off boundary
    assert len(ivfpq & exact) >= 5
