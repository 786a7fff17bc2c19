"""JDBC source reads that parallelize like the reference's pooled scans.

The reference reads source/target Postgres through a pool of
``max_connections`` connections (``/root/reference/src/postgres/
postgres_config.rs:54-82``), so a table scan is N concurrent range
queries. Spark's equivalent is a partitioned ``spark.read.jdbc``:
``partitionColumn/lowerBound/upperBound/numPartitions`` turn one
logical scan into ``numPartitions`` executor-side range queries — this
module derives those bounds from the table's own primary key, and
composes the S13–S15 catalog scans with ``validate()`` into the
reference's catalog-driven datadiff (cdc_operator.rs:255-293).
"""

from __future__ import annotations

import decimal
from collections.abc import Callable, Mapping

from pyspark.sql import DataFrame, SparkSession

from rust_dms_cdc_operator_spark.payloads import CdcValidatePayload
from rust_dms_cdc_operator_spark.sinks.ddl import qualify, quote_ident
from rust_dms_cdc_operator_spark.sources.catalog import (
    _jdbc_query,
    get_primary_key,
    get_tables_in_schema,
)
from rust_dms_cdc_operator_spark.validate import (
    TableReport,
    fused_group_size,
    validate,
)


def partition_bounds_sql(schema: str, table: str, column: str) -> str:
    """Min/max of the partition column — one cheap index-bounded query
    (identifiers quoted; config-supplied names cannot splice SQL)."""
    c = quote_ident(column)
    return f"SELECT MIN({c}) AS lo, MAX({c}) AS hi FROM {qualify(schema, table)}"


def read_table_partitioned(
    spark: SparkSession,
    url: str,
    schema: str,
    table: str,
    pk_cols: list[str],
    properties: dict | None = None,
    num_partitions: int = 8,
) -> DataFrame:
    """Read a JDBC table as ``num_partitions`` parallel range scans on
    its first numeric PK column. Falls back to a single-connection
    read when the PK is absent or non-numeric (hash-partitioning a
    text PK would push dialect-specific SQL; the reference's pool has
    the same degenerate case — one connection per table minimum).

    Bounds need not be exact: Spark's first/last JDBC partitions are
    unbounded below/above, so concurrent writes between the bounds
    query and the scan never lose rows outside the sampled range.
    """
    props = properties or {}
    if pk_cols:
        row = _jdbc_query(
            spark, url, partition_bounds_sql(schema, table, pk_cols[0]), props
        ).first()
        lo, hi = (row["lo"], row["hi"]) if row else (None, None)
        if isinstance(lo, bool):  # bool is int's subclass; not a range
            lo = None
        if isinstance(lo, (int, float, decimal.Decimal)) and hi is not None:
            return spark.read.jdbc(
                url,
                qualify(schema, table),
                column=pk_cols[0],
                lowerBound=int(lo),
                upperBound=int(hi) + 1,
                numPartitions=max(1, num_partitions),
                properties=props,
            )
    return spark.read.jdbc(url, qualify(schema, table), properties=props)


def catalog_validate(
    spark: SparkSession,
    url: str,
    schema: str,
    targets: Mapping[str, DataFrame],
    target_pks: Mapping[str, list[str]] | None = None,
    properties: dict | None = None,
    payload: CdcValidatePayload | None = None,
    pk_resolver: Callable[..., list[str]] = get_primary_key,
    num_partitions: int = 8,
) -> dict[str, TableReport]:
    """The reference's catalog-driven datadiff, end-to-end: S15 lists
    the schema's tables (include/exclude from the payload), S14
    resolves each PK (``pk_resolver`` — ``get_primary_key`` on
    Postgres; injectable for engines without ``pg_index``), the source
    scan is the PK-partitioned read above, and ``validate`` runs
    V1+V2 against the caller's target frames, in fused groups whose
    source scans together stay within ``payload.max_connections``.

    ``targets`` maps table → target DataFrame (an engine state dir, a
    second database, …); tables discovered in the schema but absent
    from ``targets`` are skipped — the payload's include/exclude
    filtering inside ``validate`` handles deliberate exclusions.
    """
    props = properties or {}
    payload = payload or CdcValidatePayload(schema_name=schema)
    discovered = get_tables_in_schema(
        spark,
        url,
        schema,
        included=tuple(payload.included_tables or ()),
        excluded=tuple(payload.excluded_tables or ()),
        properties=props,
    )
    pks = {
        t: pk_resolver(spark, url, schema, t, props) or (target_pks or {}).get(t, [])
        for t in discovered
        if t in targets
    }
    # the reference sizes its connection pool from the payload's
    # max_connections (postgres_config.rs:54-82). validate() scans the
    # tables of one fused group in one plan, so their range scans share
    # that pool: each table's scan fan-out is its share of the pool
    group = fused_group_size(payload, len(pks))
    num_partitions = max(1, min(num_partitions, payload.max_connections // group))
    tables = {
        t: (
            read_table_partitioned(spark, url, schema, t, pk, props, num_partitions),
            targets[t],
            pk,
        )
        for t, pk in pks.items()
    }
    return validate(spark, payload, tables)
