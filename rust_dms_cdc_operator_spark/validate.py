"""Validate orchestration (SURVEY §3.2): datadiff between source and
target — the engine-native replacement for the ``rust-pgdatadiff``
delegation (cdc_operator.rs:255-293).

Each table gets V1 (count) + V2 (chunked hash, resumable) and an
optional V3 drill-down; sources are anything Spark reads (parquet
state dirs here, ``spark.read.jdbc`` frames against live databases).

V1 and V2 of a whole schema run as three fused queries per group of up
to ``FUSED_TABLES`` tables, not a few queries per table: one boundary
aggregation (every table with a numeric or temporal leading key; the
others take a range-repartition pass each), one per-(table, side,
bucket) count aggregation — whose sums are V1's counts, so no separate
count pass — and one chunk-digest aggregation over the union of every
table's ranked ``(side, chunk_id, row_md5)`` rows, ending in a collect
bounded per table. The per-table operators (``count_diff``,
``chunked_hash_diff``) stay the standalone V1/V2 surfaces and compute
the same reports.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from rust_dms_cdc_operator_spark.operators.chunk import (
    CHUNK_COL,
    chunk_of_rank,
    with_global_ranks,
)
# count_diff and chunked_hash_diff stay importable from here: they are
# the standalone V1/V2 surfaces
from rust_dms_cdc_operator_spark.operators.diff import (  # noqa: F401
    ROW_MD5_COL,
    SIDE_COL,
    chunk_digests,
    chunked_hash_diff,
    count_diff,
    row_diff,
    side_digests,
)
from rust_dms_cdc_operator_spark.payloads import CdcValidatePayload

MAX_REPORTED_CHUNKS = 1024

#: tables validated by one fused plan. Wider groups launch fewer jobs,
#: but a group's driver work grows faster than its width (each
#: ``unionByName`` re-analyzes the plan built so far): validating 64
#: small tables on local[4], the two ranking round trips took 0.20,
#: 0.21, 0.24 and 0.31 s per table in groups of 8, 16, 32 and 64, and
#: the whole run's wall was flat from 8 to 32 tables per group and
#: worse at 4 (more jobs) and at 64 (sweep in CHANGES.md)
FUSED_TABLES = 16

_TABLE_COL = "_table"


@dataclass
class TableReport:
    table: str
    source_rows: int
    target_rows: int
    counts_match: bool
    mismatched_chunks: list[int] = field(default_factory=list)
    mismatched_chunks_truncated: bool = False

    @property
    def ok(self) -> bool:
        return self.counts_match and not self.mismatched_chunks


def _validate_tables(
    tables: list[tuple[str, DataFrame, DataFrame, list[str]]],
    chunk_size: int,
    start_position: int,
    max_reported_chunks: int,
) -> dict[str, TableReport]:
    """V1 + V2 of ``(name, source, target, pk_cols)`` tables in three
    fused queries (boundaries, bucket counts, chunk digests)."""
    ranked = with_global_ranks(
        [(side_digests(src, tgt, pk), pk) for _name, src, tgt, pk in tables],
        group_cols=[SIDE_COL],
    )
    rows = reduce(
        DataFrame.unionByName,
        [
            df.select(
                F.lit(i).alias(_TABLE_COL),
                SIDE_COL,
                chunk_of_rank(chunk_size).alias(CHUNK_COL),
                ROW_MD5_COL,
            )
            for i, (df, _counts) in enumerate(ranked)
        ],
    )
    digests = chunk_digests(rows, [_TABLE_COL])
    if start_position:
        digests = digests.filter(F.col(CHUNK_COL) >= start_position // chunk_size)
    # bounded collect: two wholly-different tables mismatch on EVERY
    # chunk — report each table's first N ids (ordered, so resume
    # positions are right) plus a truncation flag instead of an
    # unbounded driver list
    first = Window.partitionBy(_TABLE_COL).orderBy(CHUNK_COL)
    flagged: dict[int, list[int]] = {}
    for r in (
        digests.filter(~F.col("chunks_match"))
        .select(_TABLE_COL, CHUNK_COL, F.row_number().over(first).alias("_n"))
        .filter(F.col("_n") <= max_reported_chunks + 1)
        .collect()
    ):
        flagged.setdefault(r[_TABLE_COL], []).append(r[CHUNK_COL])
    out: dict[str, TableReport] = {}
    for i, ((name, *_rest), (_df, counts)) in enumerate(zip(tables, ranked)):
        chunks = sorted(flagged.get(i, []))
        source_rows = counts.get(("source",), 0)
        target_rows = counts.get(("target",), 0)
        out[name] = TableReport(
            table=name,
            source_rows=source_rows,
            target_rows=target_rows,
            counts_match=source_rows == target_rows,
            mismatched_chunks=chunks[:max_reported_chunks],
            mismatched_chunks_truncated=len(chunks) > max_reported_chunks,
        )
    return out


def validate_table(
    source: DataFrame,
    target: DataFrame,
    table: str,
    pk_cols: list[str],
    chunk_size: int = 1000,
    start_position: int = 0,
    max_reported_chunks: int = MAX_REPORTED_CHUNKS,
) -> TableReport:
    """V1 + V2 of one table: :func:`validate` of that table alone."""
    return _validate_tables(
        [(table, source, target, list(pk_cols))],
        chunk_size,
        start_position,
        max_reported_chunks,
    )[table]


def validate(
    spark: SparkSession,
    payload: CdcValidatePayload,
    tables: dict[str, tuple[DataFrame, DataFrame, list[str]]],
) -> dict[str, TableReport]:
    """Validate every table: name → (source_df, target_df, pk_cols).
    Table include/exclude follows the payload (V4). Tables run in
    fused groups of :func:`fused_group_size`, in name order."""
    names = sorted(tables)
    if payload.included_tables:
        names = [t for t in names if t in set(payload.included_tables)]
    elif payload.excluded_tables:
        names = [t for t in names if t not in set(payload.excluded_tables)]
    width = fused_group_size(payload, len(names))
    out: dict[str, TableReport] = {}
    for i in range(0, len(names), width):
        group = [(n, *tables[n]) for n in names[i : i + width]]
        out.update(
            _validate_tables(
                group, payload.chunk_size, payload.start_position, MAX_REPORTED_CHUNKS
            )
        )
    return out


def fused_group_size(payload: CdcValidatePayload, n_tables: int) -> int:
    """Tables per fused validate plan: ``FUSED_TABLES``, at most the
    payload's ``max_connections`` (one plan scans all its tables'
    sources at once, so JDBC range scans of a group share one
    connection pool) and at most ``n_tables``."""
    return max(1, min(FUSED_TABLES, payload.max_connections, n_tables))


def drill_down(
    source: DataFrame, target: DataFrame, pk_cols: list[str]
) -> DataFrame:
    """V3: per-row diff for the tables a report flagged."""
    return row_diff(source, target, pk_cols).orderBy(*pk_cols)


# ------------------------------------------------------------- sequences
@dataclass
class SequenceReport:
    """One sequence's last_value on each side. Mirrors the
    ``only_sequences`` half of the reference's pgdatadiff surface
    (DiffPayload, pinned false at cdc_operator.rs:271-272) — off by
    default here too (``CdcValidatePayload.only_sequences``)."""

    sequence: str
    source_last_value: int | None
    target_last_value: int | None
    in_source: bool = True
    in_target: bool = True

    @property
    def ok(self) -> bool:
        """Equal last_values AND present on both sides — a
        never-advanced sequence (NULL last_value) must not compare
        equal to a missing one."""
        return (
            self.in_source
            and self.in_target
            and self.source_last_value == self.target_last_value
        )


def sequence_diff_maps(
    source: dict[str, int | None], target: dict[str, int | None]
) -> dict[str, SequenceReport]:
    """Pure comparison half (unit-testable without a database): a
    sequence present on only one side is never ok, even when the
    present side's last_value is NULL (never advanced)."""
    out: dict[str, SequenceReport] = {}
    for name in sorted(set(source) | set(target)):
        out[name] = SequenceReport(
            sequence=name,
            source_last_value=source.get(name),
            target_last_value=target.get(name),
            in_source=name in source,
            in_target=name in target,
        )
    return out


def sequence_diff(
    spark: SparkSession,
    source_url: str,
    target_url: str,
    schema: str,
    source_properties: dict | None = None,
    target_properties: dict | None = None,
) -> dict[str, SequenceReport]:
    """Compare every sequence's last_value between two live databases
    (catalog query ``sources/catalog.sequences_sql``). Driver-side by
    design: a schema has O(tables) sequences — catalog metadata, not
    data movement."""
    from rust_dms_cdc_operator_spark.sources.catalog import (  # noqa: PLC0415
        get_schema_sequences,
    )

    return sequence_diff_maps(
        get_schema_sequences(spark, source_url, schema, source_properties),
        get_schema_sequences(spark, target_url, schema, target_properties),
    )
