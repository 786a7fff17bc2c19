"""Chunking / global ordering (SURVEY §2.3 C1-C3).

The reference slices DataFrames into 10k-row chunks with
``df.slice`` in a driver loop (/root/reference/src/postgres/
postgres_operator_impl.rs:246-302). In Spark the equivalent primitive
is a *global rank in PK order* — but a naive
``row_number() OVER (ORDER BY pk)`` collapses to a single partition
and dies at scale. ``with_global_rank`` computes the exact same rank
with bounded parallelism via **boundary broadcast**:

1. derive ``num_buckets`` ordered boundary literals for the leading
   order column — for numeric/temporal keys a single
   ``percentile_approx`` aggregation (map-side partial agg over the
   pruned key column: no shuffle of data, tiny collect); for other
   types a range-repartition pass over the key columns whose
   per-partition minima are the boundaries;
2. every row's bucket is ``#boundaries <= key`` — a deterministic,
   monotone literal expression, so exact per-bucket counts can be
   (re)computed from the data itself by any pass;
3. main pass: per-(group, bucket) exact counts, collected to the
   driver, become cumulative offsets that enter the plan as a literal
   array lookup; one hash shuffle of the data on (group, bucket);
   per-bucket ``row_number`` (parallel window) plus the bucket's
   offset = exact global rank.

No checkpoint/materialization, no lineage break — the plan is plain
shuffles over literal lookups, AQE-friendly and fault-tolerant at
100 TB. Boundary quality only affects balance, never correctness:
counts are always exact per bucket, and skewed buckets merely spill in
the window sort.

``group_cols`` generalizes to *per-group* exact ranks (rank restarts
per group) while sharing one boundary set and ONE shuffle for all
groups — the datadiff uses this to rank both comparison sides in a
single pass instead of running the machinery twice. Group values must
be non-null (they are engine-internal literal tags).

``with_global_ranks`` ranks several frames at once with the same two
driver round trips as one frame (one boundary aggregation, one count
aggregation over the union of the frames' keys) — validate ranks every
table of a schema this way; ``with_global_rank`` is its one-frame case.
"""

from __future__ import annotations

import operator
from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

RANK_COL = "_rank"
CHUNK_COL = "chunk_id"
BUCKET_COL = "_rank_bucket"

# cap on boundary literals: keeps the bucket expression small even on a
# cluster whose defaultParallelism is in the tens of thousands; the
# per-bucket window spills to disk if a bucket outgrows executor memory
MAX_RANK_BUCKETS = 512


def _key_struct(order_cols: Sequence[str]) -> Column:
    """Lexicographic sort key as a struct with canonical field names
    (struct comparison in Spark requires matching field names/types)."""
    return F.struct(*[F.col(c).alias(f"k{i}") for i, c in enumerate(order_cols)])


def _monotone_double(col: str, dtype: T.DataType) -> Column | None:
    """A monotone numeric image of the column, if one exists. Ties
    introduced by the mapping are harmless — they only coarsen bucket
    boundaries (equal keys stay in one bucket)."""
    if isinstance(dtype, T.NumericType):
        return F.col(col).cast("double")
    if isinstance(dtype, T.DateType):
        return F.datediff(F.col(col), F.lit("1970-01-01")).cast("double")
    if isinstance(dtype, T.TimestampType):
        return F.col(col).cast("double")
    if isinstance(dtype, T.TimestampNTZType):
        return F.col(col).cast("timestamp").cast("double")
    return None


_FRAME_COL = "_frame"


def _numeric_boundaries(
    keyed: list[tuple[int, DataFrame, Column]], num_parts: int
) -> dict[int, list[float]]:
    """Approximate quantile boundaries of each frame's leading key
    column via ONE aggregation over the union of all frames' keys —
    partial-aggregated scans, no shuffle of rows. ``keyed`` holds
    (frame index, frame, numeric key expression); an empty frame gets
    no boundaries."""
    if not keyed:
        return {}
    probs = [i / num_parts for i in range(1, num_parts)]
    keys = reduce(
        DataFrame.unionByName,
        [
            df.select(F.lit(i).alias(_FRAME_COL), expr.alias("_key"))
            for i, df, expr in keyed
        ],
    )
    # low accuracy on purpose: boundaries only affect balance, never
    # rank correctness, and a cheaper sketch keeps the boundary job short
    rows = (
        keys.groupBy(_FRAME_COL)
        .agg(F.percentile_approx("_key", probs, 1_000).alias("_b"))
        .collect()
    )
    return {i: [] for i, _df, _expr in keyed} | {
        r[_FRAME_COL]: sorted({b for b in r["_b"] or [] if b is not None})
        for r in rows
    }


def _range_boundaries(
    df: DataFrame, order_cols: Sequence[str], num_parts: int
) -> list:
    """Fallback for non-numeric keys: range-repartition the pruned key
    columns; each partition's minimum key is a boundary. Equal keys
    land in one range partition, so the minima tile the key space."""
    key = _key_struct(order_cols)
    rows = (
        df.select(*order_cols)
        .repartitionByRange(num_parts, *order_cols)
        .select(F.spark_partition_id().alias("_pid"), key.alias("_k"))
        .groupBy("_pid")
        .agg(F.min("_k").alias("_min"))
        .collect()
    )
    rows.sort(key=lambda r: r["_pid"])
    return [r["_min"] for r in rows[1:]]


def _bucket_expr(
    df: DataFrame, order_cols: Sequence[str], bounds: list | None, num_parts: int
) -> Column:
    """Every row's bucket: ``#boundaries <= key``. ``bounds`` are the
    frame's numeric boundaries (None: a non-numeric leading key, whose
    range boundaries are computed here)."""
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    if bounds is not None:
        cmp_key = _monotone_double(order_cols[0], dtypes[order_cols[0]])
        boundary_lits = [F.lit(b) for b in bounds]
    else:
        cmp_key = _key_struct(order_cols)
        boundary_lits = [
            F.struct(
                *[
                    F.lit(b[i]).cast(dtypes[c]).alias(f"k{i}")
                    for i, c in enumerate(order_cols)
                ]
            )
            for b in _range_boundaries(df, order_cols, num_parts)
        ]
    if not boundary_lits:
        return F.lit(0)
    return reduce(
        operator.add,
        [F.coalesce((cmp_key >= b).cast("int"), F.lit(0)) for b in boundary_lits],
    )


def with_global_ranks(
    frames: Sequence[tuple[DataFrame, Sequence[str]]],
    rank_col: str = RANK_COL,
    group_cols: Sequence[str] = (),
    weight_col: str | None = None,
    prefix_col: str = "_prefix_sum",
) -> list[tuple[DataFrame, dict[tuple, int]]]:
    """:func:`with_global_rank` of several ``(df, order_cols)`` frames
    at once, sharing its two driver round trips: one boundary
    aggregation for every frame whose leading key is numeric or
    temporal, and one per-(frame, group, bucket) count aggregation.
    Returns, per frame, the ranked frame and its row count per
    ``group_cols`` value tuple (groups with no rows are absent)."""
    spark = frames[0][0].sparkSession
    num_parts = min(
        max(spark.sparkContext.defaultParallelism, 2), MAX_RANK_BUCKETS
    )
    group_cols = list(group_cols)
    keyed = []
    for i, (df, order_cols) in enumerate(frames):
        c0 = order_cols[0]
        expr = _monotone_double(c0, df.schema[c0].dataType)
        if expr is not None:
            keyed.append((i, df, expr))
    numeric = _numeric_boundaries(keyed, num_parts)
    buckets = [
        _bucket_expr(df, order_cols, numeric.get(i), num_parts)
        for i, (df, order_cols) in enumerate(frames)
    ]

    # Exact per-(frame, group, bucket) counts from ONE pruned,
    # map-side partial-agged pass (only ≤ frames × groups × buckets
    # combined rows cross the wire), collected and prefix-summed on the
    # driver. The cumulative offsets then enter each frame's plan as a
    # LITERAL array lookup, so its data DAG is just: scan → one
    # (group, bucket) shuffle → window — no offsets window stage, no
    # broadcast exchange, no join.
    weights = [weight_col] if weight_col else []
    aggs = [F.count(F.lit(1)).alias("_cnt")]
    if weight_col:
        aggs.append(F.sum(F.col(weight_col)).alias("_wsum"))
    cnt_rows = (
        reduce(
            DataFrame.unionByName,
            [
                df.select(
                    F.lit(i).alias(_FRAME_COL),
                    *group_cols,
                    bucket.alias(BUCKET_COL),
                    *weights,
                )
                for i, ((df, _o), bucket) in enumerate(zip(frames, buckets))
            ],
        )
        .groupBy(_FRAME_COL, *group_cols, BUCKET_COL)
        .agg(*aggs)
        .collect()
    )
    per_frame: dict[int, list] = {}
    for r in cnt_rows:
        per_frame.setdefault(r[_FRAME_COL], []).append(r)
    return [
        _rank_frame(
            df, order_cols, bucket, per_frame.get(i, []),
            rank_col, group_cols, weight_col, prefix_col,
        )
        for i, ((df, order_cols), bucket) in enumerate(zip(frames, buckets))
    ]


def _rank_frame(
    df: DataFrame,
    order_cols: Sequence[str],
    bucket: Column,
    cnt_rows: list,
    rank_col: str,
    group_cols: list[str],
    weight_col: str | None,
    prefix_col: str,
) -> tuple[DataFrame, dict[tuple, int]]:
    """One frame's rank from its collected per-(group, bucket) counts."""
    n_buckets = 1 + max((r[BUCKET_COL] for r in cnt_rows), default=0)

    def _prefix_arrays(field: str) -> dict[tuple, list[int]]:
        per_group: dict[tuple, list[int]] = {}
        for r in cnt_rows:
            g = tuple(r[c] for c in group_cols)
            per_group.setdefault(g, [0] * n_buckets)[r[BUCKET_COL]] = int(
                r[field] or 0
            )
        out: dict[tuple, list[int]] = {}
        for g, vals in per_group.items():
            acc, offs = 0, []
            for v in vals:
                offs.append(acc)
                acc += v
            out[g] = offs
        return out

    def _offset_lookup(offset_arrays: dict[tuple, list[int]]) -> Column:
        if not offset_arrays:
            return F.lit(0)
        idx = (F.col(BUCKET_COL) + 1).cast("int")
        out: Column | None = None
        for g, offs in offset_arrays.items():
            # long literals: a python int < 2^31 would otherwise become
            # IntegerType and the later `offset + row_number` addition
            # would wrap in 32-bit past ~2e9 rows, before any cast
            pick = F.element_at(
                F.array(*[F.lit(o).cast("long") for o in offs]), idx
            )
            if not group_cols:
                return pick
            cond = reduce(
                operator.and_,
                [F.col(c) == F.lit(v) for c, v in zip(group_cols, g)],
            )
            out = pick if out is None else F.when(cond, pick).otherwise(out)
        return out

    totals: dict[tuple, int] = {}
    for r in cnt_rows:
        g = tuple(r[c] for c in group_cols)
        totals[g] = totals.get(g, 0) + int(r["_cnt"])

    w = Window.partitionBy(*group_cols, BUCKET_COL).orderBy(
        *[F.col(c) for c in order_cols]
    )
    result = (
        df.withColumn(BUCKET_COL, bucket)
        .withColumn("_local_rn", F.row_number().over(w))
        .withColumn(
            rank_col,
            (_offset_lookup(_prefix_arrays("_cnt")) + F.col("_local_rn")).cast(
                "long"
            ),
        )
    )
    if weight_col:
        # null weights count as 0 (a bare `- weight` would null the
        # whole prefix for that row, silently dropping its assignment)
        wt = F.coalesce(F.col(weight_col).cast("long"), F.lit(0).cast("long"))
        running = F.sum(wt).over(w.rowsBetween(Window.unboundedPreceding, 0))
        result = result.withColumn(
            prefix_col,
            (_offset_lookup(_prefix_arrays("_wsum")) + running - wt).cast(
                "long"
            ),
        )
    return result.drop(BUCKET_COL, "_local_rn"), totals


def with_global_rank(
    df: DataFrame,
    order_cols: Sequence[str],
    rank_col: str = RANK_COL,
    group_cols: Sequence[str] = (),
    weight_col: str | None = None,
    prefix_col: str = "_prefix_sum",
) -> DataFrame:
    """Exact 1-based global rank in ``order_cols`` order (restarting
    per ``group_cols`` group), computed scalably — no single-partition
    window, no materialization. The one-frame case of
    :func:`with_global_ranks`.

    With ``weight_col``, also emits ``prefix_col`` = the EXCLUSIVE
    global prefix sum of the weights in the same order (the running
    total before this row) from the same single shuffle — the
    primitive behind sequence packing (cumulative token budgets),
    byte-offset assignment, and any "running total in key order" at
    scale. Same mechanics as the rank: per-bucket window sums plus
    driver-collected per-bucket totals as a literal lookup."""
    return with_global_ranks(
        [(df, order_cols)], rank_col, group_cols, weight_col, prefix_col
    )[0][0]


def with_chunk_id(
    df: DataFrame,
    order_cols: Sequence[str],
    chunk_size: int,
    chunk_col: str = CHUNK_COL,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """C1: assign ``floor((rank-1)/chunk_size)`` chunk buckets in key
    order — the Spark form of the reference's 10k-row insert slices and
    of pgdatadiff's comparison chunks."""
    ranked = with_global_rank(df, order_cols, group_cols=group_cols)
    return ranked.withColumn(chunk_col, chunk_of_rank(chunk_size))


def chunk_of_rank(chunk_size: int, rank_col: str = RANK_COL) -> Column:
    """The chunk id of a 1-based rank: ``floor((rank-1)/chunk_size)``."""
    return F.floor((F.col(rank_col) - 1) / F.lit(chunk_size)).cast("long")
