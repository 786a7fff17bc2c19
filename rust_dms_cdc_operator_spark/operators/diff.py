"""Validation operators: the datadiff engine (SURVEY §2.5 V1-V4).

The reference delegates validation to the external ``rust-pgdatadiff``
crate (call site /root/reference/src/cdc/cdc_operator.rs:268-287):
row-count equality plus chunked, PK-ordered content hashing with
configurable ``chunk_size`` and resumable ``start_position``. Here the
same semantics are pure DataFrame code over any two frames (parquet,
JDBC, anything Spark reads):

- V1 ``count_diff`` — count(*) on both sides.
- V2 ``chunked_hash_diff`` — global PK-order rank → chunk bucket →
  per-chunk digest of each side in one aggregation → rows where the
  digests differ. ``validate`` runs the same pieces
  (``side_digests``, ``chunk_digests``) for many tables in one plan.
- V3 ``row_diff`` — chunk size 1 generalized: full outer join on PK,
  compare row digests, classify source_only/target_only/different.

Digests use md5 over a canonicalized, field-separated rendering so
they are engine-portable (the DuckDB oracle reproduces them exactly).
Chunk digests combine row digests order-insensitively (sort, concat,
md5) so the result is independent of partition-internal order.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rust_dms_cdc_operator_spark.operators.chunk import CHUNK_COL, RANK_COL, with_chunk_id

_SEP = "\x1f"
_NULL = "\x01null"  # \x01 not \x00: NUL bytes are invalid in DuckDB/Postgres strings


def canonical_str(col: Column, dtype: T.DataType) -> Column:
    """Engine-portable string rendering for hashing: timestamps as ISO
    with fractional seconds trimmed consistently, floats via their
    shortest round-trip repr is NOT portable, so floats/doubles are
    fixed to 6 decimals (documented normalization, SURVEY §7)."""
    if isinstance(dtype, T.TimestampType | T.TimestampNTZType):
        # 6-digit fractional seconds == DuckDB strftime('%Y-%m-%d %H:%M:%S.%f')
        s = F.date_format(col, "yyyy-MM-dd HH:mm:ss.SSSSSS")
    elif isinstance(dtype, T.DateType):
        s = F.date_format(col, "yyyy-MM-dd")
    elif isinstance(dtype, T.DoubleType | T.FloatType):
        # printf-style fixed 6 decimals == DuckDB printf('%.6f', x)
        s = F.format_string("%.6f", col.cast("double"))
    elif isinstance(dtype, T.BooleanType):
        s = F.when(col, "true").otherwise("false")
    else:
        s = col.cast("string")
    return F.coalesce(s, F.lit(_NULL))


def row_digest(df: DataFrame, cols: Sequence[str] | None = None) -> Column:
    """md5 of the canonicalized, \\x1f-joined column values (column
    order = sorted names, so both diff sides agree regardless of
    projection order)."""
    names = sorted(cols if cols is not None else df.columns)
    dtypes = dict(zip(df.schema.names, [f.dataType for f in df.schema.fields]))
    return F.md5(
        F.concat_ws(_SEP, *[canonical_str(F.col(c), dtypes[c]) for c in names])
    )


def count_diff(source: DataFrame, target: DataFrame) -> DataFrame:
    """V1: row-count equality, as a one-row DataFrame report.

    One tagged union + ONE global aggregation — no join at all (the
    previous shape crossJoined two 1-row aggregates: correct and
    O(1), but it kept a BroadcastNestedLoopJoin in the lint allowlist
    for no benefit; a global agg always returns exactly one row, so
    the union shape is strictly simpler)."""
    u = source.select(F.lit(True).alias("_is_src")).unionByName(
        target.select(F.lit(False).alias("_is_src"))
    )
    return u.agg(
        F.count(F.when(F.col("_is_src"), 1)).alias("source_rows"),
        F.count(F.when(~F.col("_is_src"), 1)).alias("target_rows"),
    ).withColumn(
        "counts_match", F.col("source_rows") == F.col("target_rows")
    )


SIDE_COL = "_side"
ROW_MD5_COL = "_row_md5"


def side_digests(
    source: DataFrame, target: DataFrame, pk_cols: Sequence[str]
) -> DataFrame:
    """Both sides projected to ``(pk..., _row_md5, _side)`` and
    unioned: digest FIRST in each scan stage, so only (pk, md5) flows
    through the shuffles that follow."""
    return source.select(
        *pk_cols,
        row_digest(source).alias(ROW_MD5_COL),
        F.lit("source").alias(SIDE_COL),
    ).unionByName(
        target.select(
            *pk_cols,
            row_digest(target).alias(ROW_MD5_COL),
            F.lit("target").alias(SIDE_COL),
        )
    )


def chunk_digests(chunked: DataFrame, keys: Sequence[str] = ()) -> DataFrame:
    """The side-by-side chunk comparison of :func:`side_digests` rows
    carrying ``CHUNK_COL``, per ``(*keys, chunk_id)``: ``source_hash,
    target_hash, source_rows, target_rows, chunks_match``.

    ONE aggregation: the chunk digest (order-insensitive: sort row
    digests, concat, md5) is computed per side with conditional
    collect_list — no second shuffle, no pivot, no outer join. A side
    absent from a chunk yields empty collect_list/zero count → nullif
    keeps the null-for-missing-side contract of a full outer join."""

    def _side(side: str, col: Column) -> Column:
        return F.when(F.col(SIDE_COL) == side, col)

    def _side_agg(side: str) -> list[Column]:
        return [
            F.md5(
                F.nullif(
                    F.concat_ws(
                        "",
                        F.array_sort(F.collect_list(_side(side, F.col(ROW_MD5_COL)))),
                    ),
                    F.lit(""),
                )
            ).alias(f"{side}_hash"),
            F.nullif(F.count(_side(side, F.lit(1))), F.lit(0)).alias(
                f"{side}_rows"
            ),
        ]

    joined = chunked.groupBy(*keys, CHUNK_COL).agg(
        *_side_agg("source"), *_side_agg("target")
    )
    return joined.withColumn(
        "chunks_match",
        (F.col("source_hash") == F.col("target_hash"))
        & (F.col("source_rows") == F.col("target_rows")),
    ).fillna({"chunks_match": False})


def chunked_hash_diff(
    source: DataFrame,
    target: DataFrame,
    pk_cols: Sequence[str],
    chunk_size: int = 1000,
    start_position: int = 0,
    only_mismatches: bool = True,
) -> DataFrame:
    """V2: pgdatadiff-style chunked content comparison.

    Returns one row per chunk: ``chunk_id, source_hash, target_hash,
    source_rows, target_rows, chunks_match``. ``start_position`` skips
    leading chunks (resume support, reference default 0).

    Single-pass plan: :func:`side_digests`, ranked per side in ONE
    grouped-rank pass (`group_cols`) — one shuffle carries both sides —
    then :func:`chunk_digests` compares the sides in one aggregation
    instead of a full outer join of two independently ranked plans."""
    chunked = with_chunk_id(
        side_digests(source, target, pk_cols), pk_cols, chunk_size,
        group_cols=[SIDE_COL],
    )
    joined = chunk_digests(chunked)
    if start_position:
        joined = joined.filter(F.col(CHUNK_COL) >= start_position // chunk_size)
    if only_mismatches:
        joined = joined.filter(~F.col("chunks_match"))
    return joined.orderBy(CHUNK_COL)


def row_diff(
    source: DataFrame, target: DataFrame, pk_cols: Sequence[str]
) -> DataFrame:
    """V3: row-level drill-down. Full outer join on PK; one output row
    per differing key with status ``source_only | target_only |
    different``. One shuffle per side on the PK."""
    data_cols = [c for c in source.columns if c not in pk_cols]
    s = source.select(
        *pk_cols, row_digest(source, data_cols).alias("_src_md5")
    )
    t = target.select(
        *pk_cols, row_digest(target, data_cols).alias("_tgt_md5")
    )
    joined = s.join(t, list(pk_cols), "full_outer")
    return (
        joined.withColumn(
            "diff_status",
            F.when(F.col("_tgt_md5").isNull(), "source_only")
            .when(F.col("_src_md5").isNull(), "target_only")
            .when(F.col("_src_md5") != F.col("_tgt_md5"), "different"),
        )
        .filter(F.col("diff_status").isNotNull())
        .drop("_src_md5", "_tgt_md5")
    )


__all__ = [
    "CHUNK_COL",
    "RANK_COL",
    "ROW_MD5_COL",
    "SIDE_COL",
    "canonical_str",
    "chunk_digests",
    "chunked_hash_diff",
    "count_diff",
    "row_diff",
    "row_digest",
    "side_digests",
]
