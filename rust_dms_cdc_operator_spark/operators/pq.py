"""Product quantization (PQ) ANN: compress vectors to a few small
codes — one per subspace — and rank candidates by asymmetric distance
(ADC) against per-subspace lookup tables (Jegou et al., "Product
Quantization for Nearest Neighbor Search", TPAMI 2011).

INTEGER-GRID variant: vectors first quantize to the int8 grid
(similarity.quantize_vec — floor-clip, engine-exact), codebook
centroids are trained offline and snapped to the same grid, and every
distance is an exact integer sum of squared integer differences.
Integer addition is associative, so there is NO float-summation-order
concern anywhere: encoding, the query distance table, and the final
ranking are bit-reproducible in any engine — the property that makes
the whole PQ path oracle-checkable, unlike float PQ.

Scale shape (the reason PQ exists): a 64-dim float32 vector is 256
bytes; 8 codes of 4 bits are 4 bytes — a ~60x smaller scan/cache
footprint. The hot path is an Arrow-batched numpy kernel
(adc_distances — row-local, no shuffle; the unrolled expression form
exists for tests and the SQL oracle). The query-side distance table
is computed ONCE driver-side (the query vector is a constant of the
query), so ranking is kernel projection + TakeOrderedAndProject: no
shuffle at all before the k-row cut, and the full-precision vectors
are re-read only for the shortlist during the exact rerank
(pq_topk_rerank — the standard deployment shape). A frame that
already carries its codes (``PQ_CODES_COL``, as written by
write_ivfpq_partitioned) is ranked from them instead of re-encoding;
filtered through similarity.ivf_probe first, that is IVF-PQ.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rust_dms_cdc_operator_spark.operators.similarity import (
    cosine_topk,
    quantize_vec,
    write_ivf_partitioned,
)

#: Stored PQ codes of a materialized index (1-based, as pq_encode emits).
PQ_CODES_COL = "pq_codes"


def quantize_scalar(x: float, scale: int = 127) -> int:
    """Python mirror of similarity.quantize_vec's per-element
    arithmetic (floor-clip on IEEE doubles — identical results)."""
    return int(math.floor(max(min(float(x), 1.0), -1.0) * scale))


def train_pq_codebooks(
    df: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    n_codes: int = 16,
    seed: int = 42,
    max_iter: int = 5,
    scale: int = 127,
    order_col: str = "vec_id",
    max_train: int = 4096,
) -> list[list[list[int]]]:
    """Train per-subspace codebooks with driver-local Lloyd iterations
    on a BOUNDED sample (``max_train`` rows, collected in
    ``order_col`` order so the result is independent of partition
    layout). Codebooks are KB-sized artifacts trained on samples in
    every production PQ system (faiss-style) — a distributed fit per
    subspace would spend m job launches to average a few thousand
    rows. Centroids snap to the int8 grid, so downstream distances
    are exact integers. Deterministic: seeded init, numpy float64
    arithmetic, first-min argmin ties."""
    import numpy as np  # noqa: PLC0415

    rows = (
        df.select(
            F.col(order_col),
            quantize_vec(F.col(vec_col), scale).alias("qv"),
        )
        .orderBy(order_col)
        .limit(max_train)
        .collect()
    )
    pts = np.asarray([r["qv"] for r in rows], dtype=np.float64)
    dim = pts.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub_d = dim // m
    books: list[list[list[int]]] = []
    for s in range(m):
        sub = pts[:, s * sub_d : (s + 1) * sub_d]
        rng = np.random.RandomState(seed + s)
        cents = sub[rng.choice(len(sub), size=n_codes, replace=False)].copy()
        for _ in range(max_iter):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(n_codes):
                members = sub[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books.append(
            [
                [int(math.floor(round(float(x), 4))) for x in c]
                for c in cents
            ]
        )
    return books


def _sub_dist(sub: Column, centroid: list[int]) -> Column:
    """Exact integer squared L2 between a quantized subvector column
    and an integer centroid literal."""
    diffs = F.zip_with(
        sub,
        F.array(*[F.lit(c).cast("long") for c in centroid]),
        lambda x, y: (x - y) * (x - y),
    )
    return F.aggregate(diffs, F.lit(0).cast("long"), lambda a, x: a + x)


def pq_encode(
    vec: Column, codebooks: list[list[list[int]]], scale: int = 127
) -> Column:
    """Encode a float vector into its ``m`` PQ codes (1-based, matching
    array_position semantics so the SQL rendering is identical): per
    subspace, the index of the nearest codebook centroid by exact
    integer squared L2; ties -> lowest index (array_position returns
    the first match of the min)."""
    qv = quantize_vec(vec, scale)
    sub_d = len(codebooks[0][0])
    codes = []
    for s, book in enumerate(codebooks):
        sub = F.slice(qv, s * sub_d + 1, sub_d)
        dists = F.array(*[_sub_dist(sub, c) for c in book])
        codes.append(F.array_position(dists, F.array_min(dists)))
    return F.array(*codes)


def pq_distance_table(
    query_vec: list[float],
    codebooks: list[list[list[int]]],
    scale: int = 127,
) -> list[list[int]]:
    """Driver-side ADC tables: dtable[s][c] = exact integer squared L2
    between the quantized query subvector and codebook centroid c of
    subspace s. The query vector is a constant of the query, so this
    is plain Python on one vector — no data movement."""
    q = [quantize_scalar(x, scale) for x in query_vec]
    sub_d = len(codebooks[0][0])
    return [
        [
            sum((q[s * sub_d + i] - c[i]) ** 2 for i in range(sub_d))
            for c in book
        ]
        for s, book in enumerate(codebooks)
    ]


def adc_distances(
    df: DataFrame,
    query_vec: list[float],
    codebooks: list[list[list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 127,
) -> DataFrame:
    """(id, pq_dist) for every row via an Arrow-batched numpy kernel:
    quantize, per-subspace nearest-centroid (one matrix op per batch),
    integer table lookups. This is the one place expression codegen
    LOSES: the unrolled m x n_codes x sub_d expression tree costs more
    to build and compile than the whole scan executes, while the numpy
    kernel is three matrix ops per Arrow batch. The arithmetic is
    identical to pq_encode/pq_distance_table (floor-clip doubles,
    first-min ties, exact integer distances) -- bit-equality with the
    expression path is pinned by tests, and the oracle replays the
    expression form in SQL."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    dtable = pq_distance_table(query_vec, codebooks, scale)
    cents = [np.asarray(b, dtype=np.float64) for b in codebooks]
    dt = [np.asarray(t, dtype=np.int64) for t in dtable]
    m = len(codebooks)
    sub_d = len(codebooks[0][0])

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            q = np.floor(np.clip(v, -1.0, 1.0) * scale)
            dist = np.zeros(len(pdf), dtype=np.int64)
            for s in range(m):
                sub = q[:, s * sub_d : (s + 1) * sub_d]
                d2 = ((sub[:, None, :] - cents[s][None, :, :]) ** 2).sum(
                    axis=2
                )
                dist += dt[s][d2.argmin(axis=1)]  # first-min = lowest code
            yield pd.DataFrame({id_col: pdf[id_col], "pq_dist": dist})

    return df.select(id_col, vec_col).mapInPandas(
        kernel, f"{id_col} long, pq_dist long"
    )


def pq_topk(
    df: DataFrame,
    query_vec: list[float],
    codebooks: list[list[list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    scale: int = 127,
) -> DataFrame:
    """Approximate top-k (id, pq_dist) by PQ/ADC, ascending distance
    with the id as the deterministic tie-break. Distances come from
    the stored ``PQ_CODES_COL`` when the frame has it
    (:func:`adc_from_codes` — the scan reads codes, never vectors) and
    from the :func:`adc_distances` kernel otherwise; both give the
    same integers. Plan: one projection + TakeOrderedAndProject; zero
    shuffles before the k-row merge."""
    if PQ_CODES_COL in df.columns:
        dtable = pq_distance_table(query_vec, codebooks, scale)
        dist = df.select(
            F.col(id_col),
            adc_from_codes(F.col(PQ_CODES_COL), dtable).alias("pq_dist"),
        )
    else:
        dist = adc_distances(df, query_vec, codebooks, id_col, vec_col, scale)
    return dist.orderBy(F.col("pq_dist").asc(), F.col(id_col).asc()).limit(k)


def pq_topk_rerank(
    df: DataFrame,
    query_vec: list[float],
    codebooks: list[list[list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    shortlist: int = 100,
    scale: int = 127,
    round_digits: int = 6,
) -> DataFrame:
    """The production PQ pattern: ADC shortlist (:func:`pq_topk`,
    code-width candidates) -> EXACT cosine rerank of the shortlist
    (:func:`similarity.cosine_topk`) -> top-k. Recall is set by the
    shortlist width, precision by the exact rerank; the full-precision
    vectors are only read for the ``shortlist`` rows (a broadcast
    left-semi join) instead of the whole corpus. Ties at the shortlist
    boundary break on (pq_dist, id) — deterministic membership in
    every engine."""
    short_ids = pq_topk(
        df, query_vec, codebooks, id_col, vec_col, shortlist, scale
    ).select(id_col)
    short = df.join(F.broadcast(short_ids), id_col, "left_semi")
    return cosine_topk(short, query_vec, id_col, vec_col, k, round_digits)


# ------------------------------------------------------------- SQL mirrors
def pq_quantize_sql(vec_expr: str, scale: int = 127) -> str:
    """DuckDB rendering of similarity.quantize_vec."""
    return (
        f"list_transform({vec_expr}, x -> CAST(floor("
        f"greatest(least(CAST(x AS DOUBLE), 1.0), -1.0) * {scale}"
        f") AS BIGINT))"
    )


def pq_encode_sql(
    qv_col: str, codebooks: list[list[list[int]]]
) -> list[str]:
    """DuckDB rendering of pq_encode over a pre-quantized list column:
    one 1-based code expression per subspace (unrolled integer terms —
    associative, order-free)."""
    sub_d = len(codebooks[0][0])
    exprs = []
    for s, book in enumerate(codebooks):
        dists = []
        for c in book:
            terms = [
                f"({qv_col}[{s * sub_d + i + 1}] - ({c[i]}))"
                f" * ({qv_col}[{s * sub_d + i + 1}] - ({c[i]}))"
                for i in range(sub_d)
            ]
            dists.append("(" + " + ".join(terms) + ")")
        dlist = "[" + ", ".join(dists) + "]"
        exprs.append(f"list_position({dlist}, list_min({dlist}))")
    return exprs


def adc_from_codes(
    codes_col: Column, dtable: list[list[int]]
) -> Column:
    """ADC distance from STORED codes (1-based, as pq_encode emits):
    m literal-array lookups summed — the probe-time expression for a
    materialized PQ index, where encoding happened once at write time
    and the scan reads only (id, codes), never the vectors."""
    dist = F.lit(0).cast("long")
    for s, table in enumerate(dtable):
        lookup = F.array(*[F.lit(v).cast("long") for v in table])
        dist = dist + F.element_at(
            lookup, F.element_at(codes_col, s + 1).cast("int")
        )
    return dist


def write_ivfpq_partitioned(
    df: DataFrame,
    path: str,
    centroid_vecs: list[list[float]],
    codebooks: list[list[list[int]]],
    vec_col: str = "embedding",
    round_digits: int = 6,
    scale: int = 127,
) -> None:
    """Materialize the full IVF-PQ index: the
    :func:`similarity.write_ivf_partitioned` table (IVF list as the
    partition key) whose rows also carry their PQ codes, encoded ONCE
    at write time. A probe then (a) partition-prunes to nprobe lists,
    (b) scans only (id, codes) for the ADC shortlist — column pruning
    drops the wide vector column, (c) re-reads vectors for the
    shortlist rows only. This is the faiss IVF-PQ layout expressed as
    a parquet table."""
    write_ivf_partitioned(
        df.withColumn(PQ_CODES_COL, pq_encode(F.col(vec_col), codebooks, scale)),
        path,
        centroid_vecs,
        vec_col,
        round_digits,
    )
