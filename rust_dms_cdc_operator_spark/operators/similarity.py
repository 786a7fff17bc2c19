"""Similarity search over embedding columns (array<float>).

Every score is the exact cosine of :func:`cosine` (``F.zip_with`` +
``F.aggregate``: a JVM fold in fixed left-to-right order, so scores
reproduce bit-for-bit), rounded for engine portability, and every
single-query top-k is :func:`cosine_topk` — (cosine desc, id asc)
over the candidates an index admits:

- brute force: ``cosine_topk`` over the whole frame, the recall
  oracle of every ANN path;
- sign-bit LSH: ``lsh_bucket_topk`` scans the query's bucket;
- IVF: ``ivf_probe`` keeps the ``nprobe`` lists nearest the query —
  a partition filter on a ``write_ivf_partitioned`` table, the
  ``ivf_assign`` expression on any other frame — and ``ivf_topk``
  ranks them;
- shortlist + exact rerank: ``jl_rerank_topk`` shortlists in a
  random projection, ``operators.pq.pq_topk_rerank`` by PQ/ADC.

The pair operators (``embedding_neardup_pairs``, ``ivf_knn_density``,
``semantic_dedup_pairs``) generate NARROW id-pair candidates and
score them through one vector attach, :func:`_pair_cosine`; the
IVF ones generate them with one cell join, :func:`_cell_pairs`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rust_dms_cdc_operator_spark.session import (
    local_relation,
    materialize_cache,
)


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (deterministic order on every engine)."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(_as_double(a), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    round_digits: int | None = 6,
) -> DataFrame:
    """Exact brute-force top-k by cosine to a constant query vector.
    Deterministic ranking: (cosine desc, id asc); cosine optionally
    rounded so downstream comparisons are engine-portable."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    cos = cosine(F.col(vec_col), q)
    if round_digits is not None:
        cos = F.round(cos, round_digits)
    scored = df.select(F.col(id_col), cos.alias("cos_sim"))
    return scored.orderBy(F.col("cos_sim").desc(), F.col(id_col)).limit(k)


def sign_bucket(vec: Column, bits: int = 8) -> Column:
    """LSH bucket id from the sign bits of the first ``bits`` components
    (a fixed axis-aligned projection — deterministic everywhere)."""
    out = F.lit(0)
    for i in range(bits):
        out = out * 2 + F.when(F.element_at(vec, i + 1) >= 0, 1).otherwise(0)
    return out.cast("long")


def lsh_bucket_topk(
    df: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    bits: int = 8,
    round_digits: int | None = 6,
) -> DataFrame:
    """ANN: restrict the exact scan to the query's sign-bit bucket.
    One partition-prunable filter instead of a full scan."""
    qbucket = 0
    for i in range(bits):
        qbucket = qbucket * 2 + (1 if query_vec[i] >= 0 else 0)
    candidates = df.filter(sign_bucket(F.col(vec_col), bits) == qbucket)
    return cosine_topk(candidates, query_vec, id_col, vec_col, k, round_digits)


def _pair_cosine(
    cand: DataFrame,
    vecs_a: DataFrame,
    vecs_b: DataFrame,
    round_digits: int = 6,
) -> DataFrame:
    """Score NARROW candidate pairs: attach each side's vector by id
    above ``cand`` (id_a, id_b, ...) — ``vecs_a`` and ``vecs_b`` are
    (id, vector) frames — and add the rounded cosine as a projection,
    ``cos_sim``. Vectors are absent from candidate generation, so a
    caller's cosine threshold cannot sink into a candidate join's
    condition next to its cheap id conjuncts (the cosine would then
    run on every joined row instead of the survivors;
    tests/test_plan_lint.py guards the shape), and the candidate
    shuffles move ids, not payloads."""
    cols = cand.columns
    cos = F.round(cosine(F.col("va"), F.col("vb")), round_digits)
    return (
        cand.join(vecs_a.toDF("id_a", "va"), "id_a")
        .join(vecs_b.toDF("id_b", "vb"), "id_b")
        .select(*cols, cos.alias("cos_sim"))
    )


def _cell_pairs(
    a: DataFrame,
    b: DataFrame,
    on: str,
    vecs_a: DataFrame,
    vecs_b: DataFrame,
    keep: Column | None = None,
) -> DataFrame:
    """The one IVF cell join: equi-join the NARROW frames ``a``
    (id_a, on) and ``b`` (id_b, on) on the cell ``on``, keep the pairs
    ``keep`` admits, spread them over the default parallelism by id_a
    and score them with :func:`_pair_cosine`. The join multiplies the
    row count by cell occupancy while AQE sizes the next stage from
    the narrow map-side bytes, so without the explicit repartition
    (exempt from AQE coalescing) the cosine projection ran at scan
    width (sf1: 114.6 s -> 38.8 s for ivf_knn_density, 54.7 s -> 16 s
    for the semantic pairs); hash-partitioning by id_a is also the
    distribution a per-id_a window above needs."""
    cand = a.join(b, on)
    if keep is not None:
        cand = cand.filter(keep)
    cand = cand.repartition(
        a.sparkSession.sparkContext.defaultParallelism, F.col("id_a")
    )
    return _pair_cosine(cand, vecs_a, vecs_b)


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    max_id_gap: int = 25,
    min_cosine: float = 0.0,
    round_digits: int = 6,
) -> DataFrame:
    """Near-duplicate pairs by exact cosine over bounded candidates
    (same block + id gap bound — swap in LSH buckets as the block at
    scale). Returns (id_a, id_b, cos_sim).

    Never cartesian: with a ``block_col`` the candidates come from a
    blocked equi-join; without one, the id-gap bound IS the blocking
    key — each left row explodes its ≤``max_id_gap`` candidate ids
    (``explode(sequence(...))``) and equi-joins them, which is linear
    in rows×gap and shuffle-partitionable. Either way the candidates
    carry ids only and :func:`_pair_cosine` scores them."""
    ids = df.select(*([F.col(block_col)] if block_col else []), F.col(id_col))
    a = ids.withColumnRenamed(id_col, "id_a")
    b = ids.withColumnRenamed(id_col, "id_b")
    if block_col:
        cand = a.join(b, block_col).filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("id_b") - F.col("id_a") <= max_id_gap)
        )
    else:
        cand = a.withColumn(
            "id_b",
            F.explode(
                F.sequence(
                    F.col("id_a") + 1, F.col("id_a") + F.lit(max_id_gap)
                )
            ),
        ).join(b, "id_b")
    vecs = df.select(id_col, vec_col)
    pairs = _pair_cosine(cand.select("id_a", "id_b"), vecs, vecs, round_digits)
    return pairs.select("id_a", "id_b", "cos_sim").filter(
        F.col("cos_sim") >= min_cosine
    )


def _vec_lit(vec: list[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in vec])


def ivf_assign(
    vec: Column, centroid_vecs: list[list[float]], round_digits: int = 6
) -> Column:
    """IVF list assignment: index of the nearest centroid by cosine
    (rounded for engine portability; ties -> lowest centroid index).
    The argmax is a single greatest() over (sim, -index) structs —
    pure expression, codegen-friendly, no join."""
    scored = [
        F.struct(
            F.round(cosine(vec, _vec_lit(c)), round_digits).alias("s"),
            F.lit(-i).alias("ni"),
        )
        for i, c in enumerate(centroid_vecs)
    ]
    best = scored[0] if len(scored) == 1 else F.greatest(*scored)
    return (-best["ni"]).cast("int")


def train_ivf_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    n_lists: int = 8,
    seed: int = 42,
    max_iter: int = 5,
    round_digits: int = 4,
    order_col: str = "vec_id",
    max_train: int = 4096,
) -> list[list[float]]:
    """Train IVF centroids with driver-local Lloyd iterations on a
    BOUNDED ordered sample — the same layout-independence contract as
    :func:`operators.pq.train_pq_codebooks`.

    The sample is bounded because a coarse quantizer is a KB-sized
    artifact that production ANN systems (faiss-style) train on a
    sample, and driver-local because a distributed fit (pyspark.ml
    KMeans: k-means|| init samples per partition, per-iteration sums
    in partition order) depends on the partition layout, so its
    artifacts fail the oracle under another master or shuffle-
    partition setting. Here the centroids are a pure function of
    (data, seed) on any cluster size and layout.

    Vectors are L2-normalized (float64) so Euclidean Lloyd clusters
    *directions* — consistent with the cosine-based list assignment
    in :func:`ivf_assign`. Deterministic: sample collected in
    ``order_col`` order, seeded init (rng.choice over the sorted
    sample), numpy argmin first-min ties, empty clusters keep their
    centroid; rounded to ``round_digits``.
    """
    import numpy as np  # noqa: PLC0415

    rows = (
        df.select(F.col(order_col), _as_double(F.col(vec_col)).alias("v"))
        .orderBy(order_col)
        .limit(max_train)
        .collect()
    )
    x = np.array([r["v"] for r in rows], dtype=np.float64)
    x = x / np.linalg.norm(x, axis=1, keepdims=True)
    rng = np.random.default_rng(seed)
    cents = x[rng.choice(len(x), size=n_lists, replace=False)].copy()
    for _ in range(max_iter):
        d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)  # first-min tie rule
        for j in range(n_lists):
            members = x[assign == j]
            if len(members):
                cents[j] = members.mean(axis=0)
    return [[round(float(c), round_digits) for c in row] for row in cents]


IVF_LIST_COL = "ivf_list"


def write_ivf_partitioned(
    df: DataFrame,
    path: str,
    centroid_vecs: list[list[float]],
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> None:
    """Materialize the IVF list assignment as the table's write-side
    partition key. At 100 TB this is the deployment shape: a probe
    reads nprobe/n_lists of the files via partition pruning at the
    scan instead of filtering a full pass."""
    df.withColumn(
        IVF_LIST_COL, ivf_assign(F.col(vec_col), centroid_vecs, round_digits)
    ).write.mode("overwrite").partitionBy(IVF_LIST_COL).parquet(path)


def _nearest_centroids(
    query_vec: list[float],
    centroid_vecs: list[list[float]],
    nprobe: int,
    round_digits: int,
) -> list[int]:
    """The nprobe list ids nearest the query (driver-side constants;
    ties break to the lowest centroid index, matching ivf_assign)."""
    sims = sorted(
        (
            (round(_py_cosine(query_vec, c), round_digits), -i)
            for i, c in enumerate(centroid_vecs)
        ),
        reverse=True,
    )
    return [-ni for _, ni in sims[:nprobe]]


def _py_cosine(a: list[float], b: list[float]) -> float:
    """Driver-side cosine with the same sequential-fold order as
    ``dot``/``norm`` (bit-reproducible against the JVM fold)."""
    d = 0.0
    for x, y in zip(a, b):
        d += x * y
    na = 0.0
    for x in a:
        na += x * x
    nb = 0.0
    for y in b:
        nb += y * y
    return d / ((na**0.5) * (nb**0.5))


def ivf_probe(
    df: DataFrame,
    query_vec: list[float],
    centroid_vecs: list[list[float]],
    vec_col: str = "embedding",
    nprobe: int = 2,
    round_digits: int = 6,
) -> DataFrame:
    """The rows of ``df`` in the ``nprobe`` IVF lists nearest the
    query (:func:`_nearest_centroids`, on the driver). A frame that
    carries ``IVF_LIST_COL`` — a :func:`write_ivf_partitioned` table
    written with the same centroids — is filtered on that column, which the scan turns into partition
    pruning; any other frame is filtered on the :func:`ivf_assign`
    expression. Both assign by the same rule, so both keep the same
    rows."""
    probe_ids = _nearest_centroids(
        query_vec, centroid_vecs, nprobe, round_digits
    )
    if IVF_LIST_COL in df.columns:
        lst = F.col(IVF_LIST_COL)
    else:
        lst = ivf_assign(F.col(vec_col), centroid_vecs, round_digits)
    return df.filter(lst.isin(probe_ids))


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    centroid_vecs: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 2,
    round_digits: int | None = 6,
) -> DataFrame:
    """IVF ANN: exact cosine top-k (:func:`cosine_topk`) within the
    ``nprobe`` inverted lists nearest the query (:func:`ivf_probe`).

    On a :func:`write_ivf_partitioned` table the list id is the
    partition key, so a probe reads nprobe/n_lists of the data; the
    centroids are a driver-side literal. They are caller-supplied —
    fixed vectors, or :func:`train_ivf_centroids`' driver-local
    seeded Lloyd. Deterministic given the centroids, so
    oracle-checkable end to end."""
    cand = ivf_probe(
        df, query_vec, centroid_vecs, vec_col, nprobe, round_digits or 6
    )
    return cosine_topk(cand, query_vec, id_col, vec_col, k, round_digits)


def batch_cosine_topk(
    df: DataFrame,
    queries_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "query_vec",
    k: int = 10,
    round_digits: int = 6,
    shards: int = 32,
) -> DataFrame:
    """Exact top-k neighbors for a BATCH of query vectors (retrieval
    eval: score every eval query in one pass). Returns
    (query_id, vec_id, cos_sim, rank).

    Scale shape: the query set broadcasts (eval sets are small), so
    candidates are scanned ONCE and meet every query without a data
    shuffle. Ranking is two-stage so no single reducer sees a whole
    query's candidate list: stage 1 ranks within (query, shard) —
    Q x ``shards`` balanced groups — and keeps k per group; stage 2
    ranks the surviving Q x shards x k rows (tiny) per query.
    """
    from pyspark.sql import Window  # noqa: PLC0415

    scored = df.crossJoin(F.broadcast(queries_df)).select(
        F.col(qid_col),
        F.col(id_col),
        F.round(
            cosine(F.col(vec_col), F.col(qvec_col)), round_digits
        ).alias("cos_sim"),
    )
    shard = F.pmod(F.col(id_col), F.lit(shards))
    w1 = Window.partitionBy(F.col(qid_col), shard).orderBy(
        F.col("cos_sim").desc(), F.col(id_col)
    )
    survivors = scored.withColumn("_r1", F.row_number().over(w1)).filter(
        F.col("_r1") <= k
    )
    w2 = Window.partitionBy(qid_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_col)
    )
    return (
        survivors.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(qid_col, id_col, "cos_sim", F.col("rank").cast("long").alias("rank"))
    )


# ------------------------------------------------------- int8 quantization
def quantize_vec(vec: Column, scale: int = 127) -> Column:
    """Scalar int8-style quantization: ``floor(clip(x, -1, 1) * scale)``
    per element. Truncation (floor), NOT round() — round-half behavior
    differs between engines (Spark half-up, DuckDB half-even) while
    floor is identical everywhere, so quantized values are
    bit-reproducible in the oracle. float→double widening first (also
    exact) keeps the multiply in one well-defined precision.

    At 100 TB this is the memory-scale ANN path: 4x smaller vectors
    (int8 vs float32) shrink the scan, the shuffle, and the cache
    footprint before any index structure is involved.
    """
    clip = lambda x: F.greatest(F.least(x.cast("double"), F.lit(1.0)), F.lit(-1.0))  # noqa: E731
    return F.transform(vec, lambda x: F.floor(clip(x) * scale).cast("long"))


def quantized_topk(
    df: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    scale: int = 127,
) -> DataFrame:
    """Top-k by EXACT integer dot product over int8-quantized vectors
    (quantized MIPS): corpus and query quantize with the same floor
    rule, the score is a pure integer fold — no floating point anywhere
    after quantization, so ranking and ties are engine-portable with no
    rounding escape hatch. Deterministic ranking: (dot desc, id asc).

    Same plan shape as cosine_topk (linear scan +
    TakeOrderedAndProject); compose with sign_bucket/IVF partition
    pruning for the probe path at scale.
    """
    import math  # noqa: PLC0415

    q = [math.floor(min(max(float(x), -1.0), 1.0) * scale) for x in query_vec]
    qlit = F.array(*[F.lit(int(v)) for v in q])
    dot_int = F.aggregate(
        F.zip_with(
            quantize_vec(F.col(vec_col), scale),
            qlit,
            lambda x, y: x * y,
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = df.select(F.col(id_col), dot_int.alias("dot_int"))
    return scored.orderBy(F.col("dot_int").desc(), F.col(id_col)).limit(k)


def _centroid_scores(
    df: DataFrame,
    centroid_vecs: list[list[float]],
    id_col: str,
    vec_col: str = "v",
    round_digits: int = 6,
) -> DataFrame:
    """(id, cid, s) rounded-cosine scores against every centroid via a
    BROADCAST CENTROID JOIN — the corpus-scaled twin of the
    :func:`ivf_assign` expression. The expression form inlines one
    CreateArray literal + three interpreted HOF folds PER CENTROID
    into a single projection, so its per-row cost grows with n_lists
    (measured ~55 us per centroid cosine at 79 lists — 22 s just to
    assign 20k rows); the join form evaluates ONE column-vs-column
    cosine per (row, centroid) pair at HOF-normal cost and is how a
    real IVF quantizer deploys: every worker holds the coarse
    quantizer (faiss keeps it in RAM on each node) and streams its
    rows against it — an explicit ``crossJoin(broadcast(quantizer))``,
    a BNLJ whose build side is the TRAINED ARTIFACT, never the
    corpus: its size is a deployment parameter (n/256 lists of 64
    doubles today — KB to a few MB; a 100 TB deployment caps the
    quantizer at the usual 2^16-2^20 lists and deepens the index
    rather than broadcasting a corpus-sized one). Scores are
    IEEE-identical to the expression form: same cosine fold over the
    same doubles."""
    spark = df.sparkSession
    # an Arrow local relation: a pickled-list frame re-pays one
    # Python-worker hop per slice at every evaluation of the broadcast
    # build side — see session.local_relation
    cents = local_relation(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(centroid_vecs)],
        "cid int, cvec array<double>",
    )
    return df.crossJoin(F.broadcast(cents)).select(
        F.col(id_col),
        F.col("cid"),
        F.round(cosine(F.col(vec_col), F.col("cvec")), round_digits)
        .alias("s"),
    )


def _nearest_list() -> Column:
    """Aggregate over :func:`_centroid_scores` rows: max of
    struct(s, -cid), so ties go to the lowest centroid index —
    :func:`ivf_assign`'s greatest() rule. Read the list as -ni."""
    return F.max(F.struct(F.col("s"), (-F.col("cid")).alias("ni")))


def _probe_lists(nprobe: int) -> Column:
    """Aggregate over :func:`_centroid_scores` rows: the ``nprobe``
    nearest lists as a sorted array of struct(-s, cid) — cosine desc,
    ties to the lowest id, the :func:`_nearest_centroids` rule."""
    return F.slice(
        F.array_sort(
            F.collect_list(
                F.struct((-F.col("s")).alias("ns"), F.col("cid").alias("i"))
            )
        ),
        1,
        nprobe,
    )


def _explode_lists(lists: Column) -> Column:
    return F.explode(F.transform(lists, lambda s: s["i"]))


def ivf_assign_join(
    df: DataFrame,
    centroid_vecs: list[list[float]],
    id_col: str,
    vec_col: str = "v",
    out_col: str = "lst",
    round_digits: int = 6,
) -> DataFrame:
    """(id, lst) nearest-centroid assignment via the broadcast
    centroid join (:func:`_centroid_scores`) + a map-side-combinable
    struct-max argmax (:func:`_nearest_list`), interchangeable
    bit-for-bit with the :func:`ivf_assign` expression."""
    scored = _centroid_scores(df, centroid_vecs, id_col, vec_col,
                              round_digits)
    best = scored.groupBy(id_col).agg(_nearest_list().alias("m"))
    return best.select(
        F.col(id_col), (-F.col("m.ni")).cast("int").alias(out_col)
    )


def ivf_probe_lists_join(
    df: DataFrame,
    centroid_vecs: list[list[float]],
    id_col: str,
    nprobe: int,
    vec_col: str = "v",
    out_col: str = "lst",
    round_digits: int = 6,
) -> DataFrame:
    """(id, lst) EXPLODED top-``nprobe`` probe lists via the broadcast
    centroid join: every row is a query, probed by the same rule as
    :func:`_nearest_centroids` (cosine desc, ties -> lowest id). One
    narrow (id, struct) shuffle of n x n_lists rows; the collect_list
    per id is n_lists-bounded."""
    scored = _centroid_scores(df, centroid_vecs, id_col, vec_col,
                              round_digits)
    lists = scored.groupBy(id_col).agg(_probe_lists(nprobe).alias("_ls"))
    return lists.select(
        F.col(id_col), _explode_lists(F.col("_ls")).alias(out_col)
    )


def ivf_knn_density(
    df: DataFrame,
    centroid_vecs: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 2,
    top_n: int = 20,
) -> DataFrame:
    """k-NN DENSITY outlier scoring over an embedding corpus: for
    every vector, the mean cosine distance to its k nearest neighbors
    among the vectors in its ``nprobe`` nearest IVF cells; the
    ``top_n`` highest-mean-distance vectors are the corpus outliers
    (mislabeled / off-distribution / garbage embeddings — the data-
    curation triage list). Returns (vec_id, n_neighbors,
    sum_dist_micro, mean_dist) ordered worst-first.

    This is self-k-NN — the shape where brute force is O(n²) per the
    WHOLE corpus, not per bounded query set — so the IVF cell
    structure is the plan: candidates are (probe-side id, cell) ×
    (index-side id, cell) equi-joins, bounded by cell occupancy ×
    nprobe, never all-pairs (:func:`_cell_pairs`; the window below is
    per id_a, the cell join's distribution). Cosines round to 6
    digits and then become exact MICRO-unit integers, so neighbor
    ranking, distance sums, and the final ordering are integer-exact
    cross-engine; the two closing divisions are single IEEE ops.
    Neighbor quality degrades gracefully at cell boundaries exactly as
    IVF recall does — same determinism contract as the ivf_topk
    family (the oracle replays the identical algorithm, literally)."""
    e = df.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
    # The broadcast centroid join scores each (row, centroid) pair at
    # flat cost, where the expression forms inline n_lists literal
    # arrays per row (22 s to assign 20k rows at 79 lists) — see
    # _centroid_scores. ONE scored pass feeds both the assignment and
    # the probe lists. It is cached because both sides of the cell
    # join read it and the returned plan is lazy (recomputing it per
    # reference cost 5x the query wall), and filled BEFORE the
    # fan-out: AQE runs both join sides as concurrent subplans, and on
    # a cold cache each re-ran the scoring (sf0.1 exec 3.0 s vs
    # 9-10 s when the race lost). One (id, int, nprobe ints) row per
    # vector, LRU-evictable.
    scored = _centroid_scores(e, centroid_vecs, id_col)
    both = materialize_cache(scored.groupBy(id_col).agg(
        _nearest_list().alias("m"), _probe_lists(nprobe).alias("_ls")
    ))
    assign = both.select(
        F.col(id_col).alias("id_b"), (-F.col("m.ni")).cast("int").alias("lst")
    )
    probes = both.select(
        F.col(id_col).alias("id_a"), _explode_lists(F.col("_ls")).alias("lst")
    )
    pairs = _cell_pairs(
        probes, assign, "lst", e, e, F.col("id_a") != F.col("id_b")
    ).select(
        "id_a",
        "id_b",
        F.round(F.col("cos_sim") * 1_000_000, 0).cast("long").alias("cosm"),
    )
    from pyspark.sql import Window  # noqa: PLC0415

    w = Window.partitionBy("id_a").orderBy(
        F.col("cosm").desc(), F.col("id_b").asc()
    )
    knn = pairs.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= k
    )
    agg = knn.groupBy(F.col("id_a").alias(id_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n_neighbors"),
        F.sum(F.lit(1_000_000) - F.col("cosm")).cast("long").alias(
            "sum_dist_micro"
        ),
    )
    mean = F.col("sum_dist_micro") / (
        F.col("n_neighbors") * F.lit(1_000_000.0)
    )
    return (
        agg.select(
            id_col, "n_neighbors", "sum_dist_micro", mean.alias("mean_dist")
        )
        .orderBy(F.col("mean_dist").desc(), F.col(id_col).asc())
        .limit(top_n)
    )


def semantic_dedup_pairs(
    df: DataFrame,
    centroid_vecs: list[list[float]],
    min_cosine: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate candidates: assign every
    vector to its nearest IVF centroid (:func:`ivf_assign_join`), then
    score cosine only within a cluster and keep pairs with
    ``cos_sim >= min_cosine``. Returns (id_a, id_b, cluster, cos_sim)
    with id_a < id_b.

    The cluster count bounds the pair volume: intra-cluster pairs are
    sum(|cluster|^2)/2, so callers scale the centroid count with the
    corpus to keep pairs per row ~constant. The assignment is cached
    (:func:`session.materialize_cache`) before the fan-out: both sides
    of the cell join read it, and on a cold cache AQE's concurrent
    subplans each re-ran the centroid scoring (52 s vs 10 s at sf1).
    One (id, int) row per vector, LRU-evictable."""
    a = materialize_cache(ivf_assign_join(
        df.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v")),
        centroid_vecs,
        id_col,
        out_col="cluster",
    ))
    vecs = df.select(id_col, vec_col)
    pairs = _cell_pairs(
        a.withColumnRenamed(id_col, "id_a"),
        a.withColumnRenamed(id_col, "id_b"),
        "cluster",
        vecs,
        vecs,
        F.col("id_a") < F.col("id_b"),
    )
    return pairs.select(
        "id_a",
        "id_b",
        F.col("cluster").cast("long").alias("cluster"),
        "cos_sim",
    ).filter(F.col("cos_sim") >= min_cosine)


def jl_matrix(k: int, d: int, seed: str = "jl") -> list[list[float]]:
    """Deterministic ±1 random-projection matrix (Achlioptas 2003:
    Rademacher entries satisfy the Johnson-Lindenstrauss lemma like
    Gaussians, in integer-friendly form). Entry (i, j) is the sign of
    one md5 bit of f"{seed}|{i}|{j}" — a pure function of the seed on
    every platform, so Spark expressions, driver-side Python folds,
    and the DuckDB oracle all render the SAME literal matrix."""
    import hashlib  # noqa: PLC0415

    return [
        [
            1.0
            if hashlib.md5(f"{seed}|{i}|{j}".encode()).digest()[0] & 1
            else -1.0
            for j in range(d)
        ]
        for i in range(k)
    ]


def jl_project(vec: Column, matrix: list[list[float]], round_digits: int = 6) -> Column:
    """Project a vector onto ``len(matrix)`` Rademacher rows: one
    rounded sequential-fold dot product per output component — pure
    expressions inside whole-stage codegen, no shuffle, no UDF. Each
    component rounds to ``round_digits`` so downstream similarity is
    bit-identical cross-engine."""
    return F.array(
        *[
            F.round(dot(vec, _vec_lit(row)), round_digits)
            for row in matrix
        ]
    )


def _py_jl_project(
    vec: list[float], matrix: list[list[float]], round_digits: int = 6
) -> list[float]:
    """Driver-side twin of :func:`jl_project` with the same
    sequential fold order (bit-reproducible against the JVM)."""
    out = []
    for row in matrix:
        s = 0.0
        for x, r in zip(vec, row):
            s += x * r
        out.append(round(s, round_digits))
    return out


def jl_rerank_topk(
    df: DataFrame,
    query_vec: list[float],
    k_proj: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    shortlist: int = 30,
    round_digits: int = 6,
    seed: str = "jl",
) -> DataFrame:
    """JL-prefiltered exact top-k: score every vector CHEAPLY in the
    ``k_proj``-dim Rademacher projection (16 multiplies-free sign-dots
    vs 64-dim exact cosine), keep a ``shortlist`` by projected cosine
    (TakeOrderedAndProject — per-partition heaps), then rerank ONLY
    the shortlist with exact full-dimension cosine. Returns the final
    top-``k`` as (vec_id, cos_sim, in_exact_topk) — the flag joins
    the independently-computed exact top-k so shortlist recall is
    visible in the result itself, not a side claim.

    The 100 TB shape: the full-dim scan cost drops to k_proj/d of the
    brute-force arithmetic; cosine reranking touches ``shortlist``
    rows. Same trade as PQ's ADC (operators/pq.py) with none of the
    codebook training — the projection is a literal matrix derived
    from a seed string. Deterministic end-to-end: rounded projected
    components, rounded cosines, (score desc, id) total order."""
    mat = jl_matrix(k_proj, len(query_vec), seed)
    qp = _py_jl_project(query_vec, mat, round_digits)
    e = df.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
    proj = e.select(
        F.col(id_col),
        F.round(
            cosine(jl_project(F.col("v"), mat, round_digits), _vec_lit(qp)),
            round_digits,
        ).alias("jl_sim"),
    )
    short = proj.orderBy(
        F.col("jl_sim").desc(), F.col(id_col).asc()
    ).limit(shortlist)
    rer = cosine_topk(
        short.select(id_col).join(e, id_col), query_vec, id_col, "v", k,
        round_digits,
    )
    exact = (
        cosine_topk(e, query_vec, id_col, "v", k, round_digits)
        .select(id_col)
        .withColumn("_hit", F.lit(True))
    )
    return (
        rer.join(exact, id_col, "left")
        .select(
            id_col,
            "cos_sim",
            F.coalesce(F.col("_hit"), F.lit(False)).alias("in_exact_topk"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )
