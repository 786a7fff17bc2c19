"""Spark job ratchet for the CDC operations, and the fused validate's
parity with the per-table operators.

The fixed cost of a Spark job (plan, stage submission, codegen) is most
of what a CDC operation spends at small and medium scale, so the job
counts of ``validate()`` and of one steady ``merge_batch`` commit are
pinned here. A pin may only move down: lower it when a change cuts
jobs, never raise it to admit a regression.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rust_dms_cdc_operator_spark import validate as val_mod
from rust_dms_cdc_operator_spark.operators.diff import chunked_hash_diff, count_diff
from rust_dms_cdc_operator_spark.payloads import CdcValidatePayload
from rust_dms_cdc_operator_spark.sources import jdbc_source
from rust_dms_cdc_operator_spark.streaming.cdc_stream import BucketedParquetState
from rust_dms_cdc_operator_spark.validate import TableReport, validate, validate_table
from tests.cdc_fixtures import group_job_ids

#: jobs of validate() over the 4-table fixture: one boundary
#: aggregation for the three numeric/temporal leading keys (1 job, or 2
#: when adaptive execution submits its shuffle stage on its own), the
#: string-keyed table's range-boundary pass (4: two sampling jobs of
#: the range partitioner, its shuffle, the collect), the bucket counts
#: (2) and the chunk digests (one window stage per table, the digest
#: aggregation, the per-table bound and the result: 7)
VALIDATE_JOBS = 15
#: jobs of one merge_batch commit into live state: the compaction's
#: shuffle, the bucket shuffle and the write
MERGE_JOBS = 3

CHUNK = 50
ROWS = 600
DRIFTED = (17, 260, 599)


def _tables(spark) -> dict:
    """Four tables covering the leading-key cases the ranker splits on:
    a composite PK, a string PK (range boundaries), a timestamp PK and
    one whose target is empty. Every target drifts on the same rows."""
    base = spark.range(ROWS).select(
        F.col("id").alias("k"), (F.col("id") % 13).alias("v")
    )
    drift = base.withColumn(
        "v", F.when(F.col("k").isin(*DRIFTED), -1).otherwise(F.col("v"))
    )

    def pair(project):
        return project(base), project(drift)

    composite = pair(lambda d: d.select((F.col("k") % 7).alias("a"), F.col("k").alias("b"), "v"))
    string = pair(lambda d: d.select(F.format_string("s%05d", "k").alias("sk"), "v"))
    stamp = pair(lambda d: d.select(F.timestamp_seconds("k").alias("ts"), "v"))
    return {
        "composite": (*composite, ["a", "b"]),
        "empty_target": (base, base.limit(0), ["k"]),
        "string_pk": (*string, ["sk"]),
        "timestamp_pk": (*stamp, ["ts"]),
    }


def _reference(source, target, pk, start_position=0, max_reported=None):
    """The per-table report from the standalone V1/V2 operators."""
    counts = count_diff(source, target).first()
    chunks = [
        r.chunk_id
        for r in chunked_hash_diff(source, target, pk, CHUNK, start_position).collect()
    ]
    limit = len(chunks) if max_reported is None else max_reported
    return (
        counts.source_rows,
        counts.target_rows,
        bool(counts.counts_match),
        chunks[:limit],
        len(chunks) > limit,
    )


def _as_tuple(rep):
    return (
        rep.source_rows,
        rep.target_rows,
        rep.counts_match,
        rep.mismatched_chunks,
        rep.mismatched_chunks_truncated,
    )


def test_validate_job_ratchet(spark):
    tables = _tables(spark)
    payload = CdcValidatePayload(schema_name="s", chunk_size=CHUNK)
    validate(spark, payload, tables)  # warm: compile the plans once
    with group_job_ids(spark.sparkContext, "ratchet-validate") as jobs:
        validate(spark, payload, tables)
    assert len(jobs) <= VALIDATE_JOBS, len(jobs)


def test_merge_batch_job_ratchet(spark, tmp_path):
    schema = "Op string, id long, val string, seq long"
    store = BucketedParquetState(str(tmp_path / "state"), ["id"], 8)
    store.merge_batch(
        spark.createDataFrame([("I", i, f"v{i}", 1) for i in range(200)], schema),
        order_cols=["seq"],
    )
    for seq in (2, 3):
        batch = spark.createDataFrame(
            [("U", i, f"u{seq}", seq) for i in range(0, 200, 3)]
            + [("D", 7, None, seq)],
            schema,
        )
        with group_job_ids(spark.sparkContext, f"ratchet-merge-{seq}") as jobs:
            assert store.merge_batch(batch, order_cols=["seq"])
    assert len(jobs) <= MERGE_JOBS, len(jobs)


def _spy_groups(monkeypatch, run=True) -> list[list[str]]:
    """Record the table names of every fused validate plan; with
    ``run=False`` the plans are not run and every table reports ok."""
    groups: list[list[str]] = []
    fused = val_mod._validate_tables

    def spy(tables, *args):
        groups.append([name for name, *_rest in tables])
        if run:
            return fused(tables, *args)
        return {name: TableReport(name, 0, 0, True) for name, *_rest in tables}

    monkeypatch.setattr(val_mod, "_validate_tables", spy)
    return groups


@pytest.mark.parametrize(
    ("start_position", "max_reported", "fused_tables"),
    [
        (0, val_mod.MAX_REPORTED_CHUNKS, val_mod.FUSED_TABLES),
        (0, 2, val_mod.FUSED_TABLES),
        (3 * CHUNK + 7, val_mod.MAX_REPORTED_CHUNKS, val_mod.FUSED_TABLES),
        (CHUNK, val_mod.MAX_REPORTED_CHUNKS, 2),
    ],
)
def test_fused_reports_equal_per_table_reference(
    spark, monkeypatch, start_position, max_reported, fused_tables
):
    """Fused validate() plans report exactly what the per-table V1 + V2
    operators compute: counts, chunk ids, truncation at
    ``max_reported_chunks`` and the ``start_position`` resume, also
    when the tables span several fused plans (in name order)."""
    tables = _tables(spark)
    monkeypatch.setattr(val_mod, "MAX_REPORTED_CHUNKS", max_reported)
    monkeypatch.setattr(val_mod, "FUSED_TABLES", fused_tables)
    groups = _spy_groups(monkeypatch)
    got = validate(
        spark,
        CdcValidatePayload(
            schema_name="s", chunk_size=CHUNK, start_position=start_position
        ),
        tables,
    )
    assert sorted(got) == sorted(tables)
    names = sorted(tables)
    assert groups == [
        names[i : i + fused_tables] for i in range(0, len(names), fused_tables)
    ]
    for name, (src, tgt, pk) in tables.items():
        want = _reference(src, tgt, pk, start_position, max_reported)
        assert _as_tuple(got[name]) == want, name
        assert got[name].table == name
    # the flagged chunks really are the drifted rows' chunks
    assert got["composite"].counts_match and got["composite"].mismatched_chunks
    assert not got["empty_target"].counts_match


def test_validate_table_is_validate_of_one_table(spark):
    src, tgt, pk = _tables(spark)["string_pk"]
    one = validate_table(src, tgt, "t", pk, CHUNK, max_reported_chunks=1)
    assert _as_tuple(one) == _reference(src, tgt, pk, max_reported=1)
    assert one.mismatched_chunks_truncated


@pytest.mark.parametrize(
    ("n_tables", "max_connections"), [(20, 100), (5, 3), (4, 20), (3, 1), (4, 100)]
)
def test_catalog_validate_keeps_fused_scans_within_the_pool(
    monkeypatch, n_tables, max_connections
):
    """A fused plan scans all its tables' sources at once, so the JDBC
    range scans summed over one fused group stay within the payload's
    ``max_connections``, and every table is validated exactly once."""
    names = [f"t{i:02d}" for i in range(n_tables)]
    partitions: dict[str, int] = {}

    def read(_spark, _url, _schema, table, _pk, _props, num_partitions):
        partitions[table] = num_partitions
        return table

    monkeypatch.setattr(jdbc_source, "get_tables_in_schema", lambda *a, **k: names)
    monkeypatch.setattr(jdbc_source, "read_table_partitioned", read)
    groups = _spy_groups(monkeypatch, run=False)
    reports = jdbc_source.catalog_validate(
        None, "jdbc:none", "s",
        targets={t: t for t in names},
        payload=CdcValidatePayload(schema_name="s", max_connections=max_connections),
        pk_resolver=lambda *a: ["id"],
    )
    assert sorted(reports) == names
    assert sorted(t for g in groups for t in g) == names
    for g in groups:
        assert sum(partitions[t] for t in g) <= max_connections, (g, partitions)
    # the pool is shared, not left idle: a lone group keeps the default
    # fan-out while the pool allows it
    if n_tables * 8 <= max_connections:
        assert set(partitions.values()) == {8}
