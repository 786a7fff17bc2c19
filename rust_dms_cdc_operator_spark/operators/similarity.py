"""Similarity search over embedding columns (array<float>).

Two paths, mirroring how ANN is deployed at scale:

- ``cosine_topk`` — brute-force exact top-k against a query vector.
  The dot product is ``F.zip_with`` + ``F.aggregate`` (JVM fold, no
  UDF, deterministic left-to-right order — reproducible bit-for-bit).
  Linear scan; the right baseline and the recall oracle for ANN.
- ``lsh_bucket_topk`` — sign-bit LSH: bucket every vector by the sign
  pattern of its leading components (or any fixed projection set),
  then scan only the query's bucket. At 100 TB the bucket column is
  a partition/cluster key, so a probe touches one partition instead
  of the fleet; recall is tuned by the number of sign bits.

``embedding_neardup_pairs`` is the dedup flavor: bounded candidate
pairs with exact cosine, for near-duplicate detection on embeddings.
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
    in rows×gap and shuffle-partitionable, where the old
    crossJoin-then-filter was quadratic.

    NARROW-THEN-FETCH (round-6 plan fix): candidate generation moves
    only (id, block) — the vectors are attached AFTERWARDS by two
    id equi-joins and scored above them. Generating candidates with
    vectors inline let Catalyst push the caller's cosine threshold
    into the block join's condition, PREPENDED to the cheap id/gap
    conjuncts — the interpreted HOF cosine then ran (twice) on every
    block-joined row instead of the gap survivors (measured 6.0 s →
    1.3 s at sf0.1: 400k joined rows, 4.9k survivors). With vectors
    absent from the candidate join, a cosine predicate physically
    cannot sink below the fetch joins. At 100 TB the same shape is
    what you want anyway: the block shuffle carries two longs per
    row, not the embedding payload."""
    join_keys = [block_col] if block_col else []
    ids = df.select(
        *(F.col(c) for c in join_keys), F.col(id_col)
    )
    a = ids.select(
        *(F.col(c).alias(c) for c in join_keys),
        F.col(id_col).alias("id_a"),
    )
    b = ids.select(
        *(F.col(c).alias(c) for c in join_keys),
        F.col(id_col).alias("id_b"),
    )
    if join_keys:
        cand = a.join(b, join_keys).filter(
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
    cand = cand.select("id_a", "id_b")
    va = df.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a")
    )
    vb = df.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b")
    )
    pairs = cand.join(va, "id_a").join(vb, "id_b")
    cos = F.round(cosine(F.col("vec_a"), F.col("vec_b")), round_digits)
    return pairs.select("id_a", "id_b", cos.alias("cos_sim")).filter(
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

    Earlier rounds used pyspark.ml KMeans here; round 7's full-scale
    sweep measured that its centroids depend on the PARTITION LAYOUT
    (k-means|| init samples per partition and the per-iteration
    aggregation sums floats in partition order), so artifacts trained
    at one --master/-shuffle-partition setting failed the oracle at
    another. Coarse quantizers are KB-sized artifacts that every
    production ANN system (faiss-style) trains on a bounded sample;
    doing the same here makes the centroids a pure function of (data,
    seed) — any cluster size, any layout.

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


def ivf_topk_partitioned(
    spark,
    path: str,
    query_vec: list[float],
    centroid_vecs: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 2,
    round_digits: int | None = 6,
) -> DataFrame:
    """IVF probe against a :func:`write_ivf_partitioned` table: the
    list filter is a partition filter, so the scan touches only the
    probed directories."""
    probe_ids = _nearest_centroids(
        query_vec, centroid_vecs, nprobe, round_digits or 6
    )
    candidates = spark.read.parquet(path).filter(
        F.col(IVF_LIST_COL).isin(probe_ids)
    )
    return cosine_topk(candidates, query_vec, id_col, vec_col, k, round_digits)


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
    """IVF ANN: assign every vector to its nearest centroid's inverted
    list, probe only the ``nprobe`` lists nearest the query, exact
    cosine top-k within them.

    At 100 TB the assignment column is the table's partition/cluster
    key, so a probe reads nprobe/n_centroids of the data (plus the
    centroids are a broadcast-scale literal). Centroids here are
    caller-supplied; production trains them with pyspark.ml KMeans —
    the probing/partitioning mechanics are identical and are what this
    operator provides. Deterministic given the centroids, so
    oracle-checkable end to end.
    """
    probe_ids = _nearest_centroids(
        query_vec, centroid_vecs, nprobe, round_digits or 6
    )
    assign = ivf_assign(F.col(vec_col), centroid_vecs, round_digits or 6)
    candidates = df.filter(assign.isin(probe_ids))
    return cosine_topk(candidates, query_vec, id_col, vec_col, k, round_digits)


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


def ivf_probe_lists(
    vec: Column,
    centroid_vecs: list[list[float]],
    nprobe: int,
    round_digits: int = 6,
) -> Column:
    """Per-row top-``nprobe`` nearest centroid ids (cosine desc, ties
    -> lowest id) as an array — the multi-list generalization of
    :func:`ivf_assign` for operators where every ROW is a query (self
    k-NN, density scoring). Pure expression: n_lists rounded cosines
    per row, one array_sort, one slice — no join, no shuffle."""
    scored = F.array(
        *[
            F.struct(
                (-F.round(cosine(vec, _vec_lit(c)), round_digits)).alias(
                    "ns"
                ),
                F.lit(i).alias("i"),
            )
            for i, c in enumerate(centroid_vecs)
        ]
    )
    return F.transform(
        F.slice(F.array_sort(scored), 1, nprobe), lambda s: s["i"]
    )


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
    # Arrow local relation (round 12): the list form re-paid one
    # Python-worker hop per pickled slice at every evaluation of the
    # broadcast build side — see session.local_relation
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
    struct-max argmax. Ties -> lowest centroid index: max over
    struct(s, -cid) is exactly :func:`ivf_assign`'s greatest() rule,
    so the two forms are interchangeable bit-for-bit."""
    scored = _centroid_scores(df, centroid_vecs, id_col, vec_col,
                              round_digits)
    best = scored.groupBy(id_col).agg(
        F.max(F.struct(F.col("s"), (-F.col("cid")).alias("ni"))).alias("m")
    )
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
    centroid join — the corpus-scaled twin of
    :func:`ivf_probe_lists` (cosine desc, ties -> lowest id; the
    same (-s, cid) struct sort, so list sets match the expression
    form exactly). One narrow (id, struct) shuffle of n x n_lists
    rows; the collect_list per id is n_lists-bounded."""
    scored = _centroid_scores(df, centroid_vecs, id_col, vec_col,
                              round_digits)
    lists = scored.groupBy(id_col).agg(
        F.slice(
            F.array_sort(
                F.collect_list(
                    F.struct((-F.col("s")).alias("ns"), F.col("cid").alias("i"))
                )
            ),
            1,
            nprobe,
        ).alias("_ls")
    )
    return lists.select(
        F.col(id_col),
        F.explode(F.transform(F.col("_ls"), lambda s: s["i"])).alias(
            out_col
        ),
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
    nprobe, never all-pairs. The candidate stream is NARROW (two ids);
    vectors attach by id-join above it (the embedding_neardup_pairs
    rewrite — measured 12x there), cosines round to 6 digits and then
    become exact MICRO-unit integers, so neighbor ranking, distance
    sums, and the final ordering are integer-exact cross-engine; the
    two closing divisions are single IEEE ops. Neighbor quality
    degrades gracefully at cell boundaries exactly as IVF recall
    does — same determinism contract as the ivf_topk family (the
    oracle replays the identical algorithm, literally)."""
    e = df.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
    # broadcast-join centroid scoring (round 9): the expression forms
    # inline n_lists literal arrays per row, so their per-row cost
    # grows with the corpus-scaled list count (22 s to assign 20k rows
    # at 79 lists); the join form is flat per (row, centroid) and
    # bit-identical — see _centroid_scores. ONE scored pass feeds both
    # the assignment argmax and the top-nprobe probe lists (same
    # struct-sort tie rules as ivf_assign / ivf_probe_lists), and the
    # n-row result persists: it is referenced from BOTH sides of the
    # cell join below, and the returned plan is lazy, so unpersisting
    # here would recompute the scoring per reference (measured 5x the
    # query wall). The cache is one (id, int, nprobe ints) row per
    # vector — corpus-bounded and LRU-evicted (the q11 contract). It is
    # filled BEFORE the fan-out (guide §5 — the minhash_lsh_pairs
    # signature-cache pattern): AQE launches both sides of the cell
    # join as concurrent subplans, and on a cold cache each side re-ran
    # the whole centroid scoring pass (measured at sf0.1: exec bimodal
    # 3.0 s / 37 cpu-s on lucky runs vs 9-10 s / 183-225 cpu-s when the
    # race lost).
    scored = _centroid_scores(e, centroid_vecs, id_col)
    both = materialize_cache(scored.groupBy(id_col).agg(
        F.max(F.struct(F.col("s"), (-F.col("cid")).alias("ni"))).alias("m"),
        F.slice(
            F.array_sort(
                F.collect_list(
                    F.struct((-F.col("s")).alias("ns"), F.col("cid").alias("i"))
                )
            ),
            1,
            nprobe,
        ).alias("_ls"),
    ))
    assign = both.select(
        F.col(id_col).alias("id_b"), (-F.col("m.ni")).cast("int").alias("lst")
    )
    probes = both.select(
        F.col(id_col).alias("id_a"),
        F.explode(F.transform(F.col("_ls"), lambda s: s["i"])).alias("lst"),
    )
    # width-repartition the NARROW candidate stream (round 9): the
    # cell join multiplies row count by cell occupancy, but AQE sizes
    # the post-join stage from the MAP-SIDE shuffle bytes (ids only —
    # a few hundred MB at 10x), so the expensive cosine projection
    # below would run at scan width (4 tasks on the committed
    # fixtures, every core idle). Explicit numPartitions is exempt
    # from AQE coalescing; the shuffle moves 12-byte id pairs, and
    # hash-partitioning by id_a doubles as the window's required
    # distribution so no second exchange appears. Measured at native
    # sf1: 114.6 s -> 38.8 s, identical results.
    cand = (
        probes.join(assign, "lst")
        .filter(F.col("id_a") != F.col("id_b"))
        .repartition(
            df.sparkSession.sparkContext.defaultParallelism, F.col("id_a")
        )
    )
    va = e.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"))
    vb = e.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"))
    cosm = (
        F.round(F.round(cosine(F.col("va"), F.col("vb")), 6) * 1_000_000, 0)
        .cast("long")
    )
    pairs = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", cosm.alias("cosm"))
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
    rer = (
        short.join(e, id_col)
        .select(
            id_col,
            F.round(cosine(F.col("v"), _vec_lit(query_vec)), round_digits)
            .alias("cos_sim"),
        )
    )
    exact = (
        e.select(
            F.col(id_col),
            F.round(cosine(F.col("v"), _vec_lit(query_vec)), round_digits)
            .alias("cs"),
        )
        .orderBy(F.col("cs").desc(), F.col(id_col).asc())
        .limit(k)
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
