"""CDC replay correctness: Spark compaction vs the sequential
pure-Python replay oracle (FIXTURES.md A.3 scenarios)."""

from __future__ import annotations

import pytest

from rust_dms_cdc_operator_spark.operators.compact import replay_manifest
from rust_dms_cdc_operator_spark.payloads import LoadMode
from rust_dms_cdc_operator_spark.sources.manifest import build_manifest
from tests import cdc_fixtures


def _replay(spark, root, table, pk, **kw):
    manifest = build_manifest(
        mode=LoadMode.DATE_AWARE,
        root=root,
        database=cdc_fixtures.DB,
        schema=cdc_fixtures.SCHEMA,
        table=table,
        start_date="2000-01-01",
    )
    return replay_manifest(spark, root, manifest, pk, **kw)


def test_customers_replay_matches_sequential_oracle(spark, tmp_path):
    root = str(tmp_path)
    fx = cdc_fixtures.write_customers_cdc(root)
    got = _replay(spark, root, fx["table"], fx["pk"])

    rows = {r["id"]: r.asDict() for r in got.collect()}
    exp = fx["expected"]
    assert set(rows) == set(exp)  # 100 - 3 deleted + 10 new - 1 del + 1 reinsert
    for i, erow in exp.items():
        grow = rows[i]
        assert grow["name"] == erow["name"]
        assert float(grow["balance"]) == float(erow["balance"])
        assert grow["score"] == erow["score"]
        assert grow["active"] == erow["active"]
        assert list(grow["tags"]) == erow["tags"]
    # spot-check the cross-file override semantics
    assert float(rows[100]["balance"]) == 1.23  # file-2 U over file-1 I
    assert 3 not in rows  # file-2 D over file-1 U
    assert float(rows[8]["balance"]) == 8.88  # re-insert after delete
    # DMS + bookkeeping columns must not leak into final state
    assert "Op" not in got.columns
    assert "_dms_ingestion_timestamp" not in got.columns
    assert not [c for c in got.columns if c.startswith("_cdc")]


def test_orders_composite_pk_last_writer_wins(spark, tmp_path):
    root = str(tmp_path)
    fx = cdc_fixtures.write_orders_cdc(root)
    got = _replay(spark, root, fx["table"], fx["pk"])

    rows = {(r["order_id"], r["line_no"]): r.asDict() for r in got.collect()}
    exp = fx["expected"]
    assert set(rows) == set(exp)
    # two U's for (1,1) in one file: the later row in the file wins
    assert rows[(1, 1)]["status"] == "delivered"
    assert float(rows[(1, 1)]["amount"]) == 9.00
    assert (2, 2) not in rows
    assert rows[(11, 1)]["status"] == "new"


def test_no_pk_full_load_only(spark, tmp_path):
    root = str(tmp_path)
    fx = cdc_fixtures.write_no_pk_cdc(root)
    manifest = build_manifest(
        mode=LoadMode.FULL_LOAD_ONLY,
        root=root,
        database=cdc_fixtures.DB,
        schema=cdc_fixtures.SCHEMA,
        table=fx["table"],
    )
    got = replay_manifest(spark, root, manifest, fx["pk"])
    assert got.count() == fx["expected_rows"]


def test_schema_drift_raises(spark, tmp_path):
    root = str(tmp_path)
    fx = cdc_fixtures.write_schema_drift(root)
    source_columns = [
        "id", "name", "balance", "score", "signup_date", "updated_at",
        "active", "tags",
    ]
    with pytest.raises(ValueError, match="schema drift"):
        _replay(
            spark, root, fx["table"], fx["pk"],
            source_columns=source_columns, merge_schema=True,
        )
    # the same columns without drift pass the check
    fx2 = cdc_fixtures.write_customers_cdc(root)
    _replay(
        spark, root, fx2["table"], fx2["pk"],
        source_columns=source_columns, merge_schema=True,
    )


def test_nested_struct_and_map_columns_replay(spark, tmp_path):
    """Nested types (struct, map) ride through the CDC window
    compaction untouched — the capability the reference's flat
    Postgres type map never had (SURVEY §1.2)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path)
    t = "nested"
    base = os.path.join(root, cdc_fixtures.DB, cdc_fixtures.SCHEMA, t)

    def meta(v, k):
        return {"version": v, "kind": k}

    load = pa.table({
        "id": pa.array([1, 2, 3], pa.int64()),
        "meta": pa.array([meta(1, "a"), meta(1, "b"), meta(1, "c")],
                         pa.struct([("version", pa.int64()), ("kind", pa.string())])),
        "attrs": pa.array([[("x", 1)], [("y", 2)], [("z", 3)]],
                          pa.map_(pa.string(), pa.int64())),
    })
    os.makedirs(os.path.join(base, "2026", "01", "02"), exist_ok=True)
    pq.write_table(load, os.path.join(base, "LOAD00000001.parquet"))
    cdc = pa.table({
        "Op": ["U", "D"],
        "_dms_ingestion_timestamp": ["2026-01-02 00:00:00"] * 2,
        "id": pa.array([2, 3], pa.int64()),
        "meta": pa.array([meta(2, "b2"), meta(1, "c")],
                         pa.struct([("version", pa.int64()), ("kind", pa.string())])),
        "attrs": pa.array([[("y", 20)], []], pa.map_(pa.string(), pa.int64())),
    })
    pq.write_table(cdc, os.path.join(base, "2026", "01", "02", "c1.parquet"))

    got = {r["id"]: r for r in _replay(spark, root, t, ["id"]).collect()}
    assert set(got) == {1, 2}
    assert got[2]["meta"]["version"] == 2 and got[2]["meta"]["kind"] == "b2"
    assert dict(got[2]["attrs"]) == {"y": 20}
    assert got[1]["meta"]["kind"] == "a" and dict(got[1]["attrs"]) == {"x": 1}


def test_csv_drop_replay(spark, tmp_path):
    """DMS's CSV target format replays through the same single-scan
    compaction (the reference reads only parquet)."""
    import os

    from pyspark.sql import types as T

    root = str(tmp_path)
    t = "csvtab"
    base = os.path.join(root, cdc_fixtures.DB, cdc_fixtures.SCHEMA, t)
    os.makedirs(os.path.join(base, "2026", "01", "02"), exist_ok=True)
    # headerless, Op first then the DMS ts, then data — the DMS layout
    with open(os.path.join(base, "LOAD00000001.csv"), "w") as f:
        f.write("I,2026-01-01 00:00:00,1,alice\n")
        f.write("I,2026-01-01 00:00:00,2,bob\n")
        f.write("I,2026-01-01 00:00:00,3,carol\n")
    with open(os.path.join(base, "2026", "01", "02", "c1.csv"), "w") as f:
        f.write("U,2026-01-02 00:00:00,2,bob2\n")
        f.write("D,2026-01-02 00:00:00,3,carol\n")
        f.write("I,2026-01-02 00:00:00,4,dave\n")
        f.write("U,2026-01-02 00:00:00,4,dave2\n")

    schema = T.StructType(
        [
            T.StructField("Op", T.StringType()),
            T.StructField("_dms_ingestion_timestamp", T.StringType()),
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
        ]
    )
    from rust_dms_cdc_operator_spark.operators.compact import replay_manifest
    from rust_dms_cdc_operator_spark.payloads import LoadMode
    from rust_dms_cdc_operator_spark.sources.manifest import build_manifest

    files = build_manifest(
        mode=LoadMode.DATE_AWARE, root=root, database=cdc_fixtures.DB,
        schema=cdc_fixtures.SCHEMA, table=t, start_date="2000-01-01",
    )
    assert [f.file_name for f in files] == ["LOAD00000001.csv", "c1.csv"]
    got = {
        r["id"]: r["name"]
        for r in replay_manifest(
            spark, root, files, ["id"], fmt="csv", schema=schema
        ).collect()
    }
    assert got == {1: "alice", 2: "bob2", 4: "dave2"}


def test_csv_replay_rejects_splittable_oversize_file(spark, tmp_path, monkeypatch):
    """A plain CSV larger than maxPartitionBytes would be split and its
    replay order scrambled — the reader must refuse, not corrupt
    (round-1 ADVICE: the precondition was documented, never enforced)."""
    import pytest
    from pyspark.sql import types as T

    from rust_dms_cdc_operator_spark.sources import reader as reader_mod
    from rust_dms_cdc_operator_spark.sources.manifest import ParquetFile

    p = tmp_path / "big.csv"
    p.write_text("I,2026-01-01 00:00:00,1,alice\n" * 100)
    schema = T.StructType([T.StructField("Op", T.StringType())])
    monkeypatch.setattr(
        reader_mod, "_effective_max_split_bytes", lambda _s, _sizes: 64
    )
    with pytest.raises(ValueError, match="maxPartitionBytes"):
        reader_mod.read_manifest(
            spark, str(tmp_path), [ParquetFile(key="big.csv")],
            fmt="csv", schema=schema,
        )


def test_scd2_history_lifecycle(spark):
    """SCD2 intervals over a full key lifecycle: insert → update →
    delete → re-insert. Versions chain [from, to), the delete closes
    an interval and emits nothing, the re-insert opens a new current
    version; a never-deleted key keeps one open version per event."""
    from rust_dms_cdc_operator_spark.operators.scd2 import build_history

    rows = [
        ("I", 1, "a", 10), ("U", 1, "b", 20), ("D", 1, "b", 30),
        ("I", 1, "c", 40),
        ("I", 2, "x", 15), ("U", 2, "y", 25),
    ]
    cdc = spark.createDataFrame(rows, "Op string, id long, v string, seq long")
    hist = {
        (r.id, r.v): (r.valid_from, r.valid_to, r.is_current)
        for r in build_history(cdc, ["id"], order_col="seq").collect()
    }
    assert hist == {
        (1, "a"): (10, 20, False),
        (1, "b"): (20, 30, False),   # closed BY the delete, at its time
        (1, "c"): (40, None, True),  # re-insert: new current version
        (2, "x"): (15, 25, False),
        (2, "y"): (25, None, True),
    }
    # trailing delete leaves the key with NO current row
    cdc2 = spark.createDataFrame(
        [("I", 9, "q", 1), ("D", 9, "q", 2)],
        "Op string, id long, v string, seq long",
    )
    h2 = build_history(cdc2, ["id"], order_col="seq").collect()
    assert len(h2) == 1
    assert (h2[0].valid_to, h2[0].is_current) == (2, False)


def test_read_manifest_lists_paths_on_driver(spark, tmp_path):
    """40 files is above Spark's 32-path parallel-listing threshold; in
    local mode the listing stays on the driver, so no stage of reading
    and counting the manifest runs one task per file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rust_dms_cdc_operator_spark.sources.manifest import ParquetFile
    from rust_dms_cdc_operator_spark.sources.reader import read_manifest

    n = 40
    keys = ["t/LOAD00000001.parquet"] + [
        f"t/2026/01/01/{i:05d}.parquet" for i in range(1, n)
    ]
    for i, key in enumerate(keys):
        path = tmp_path / key
        path.parent.mkdir(parents=True, exist_ok=True)
        pq.write_table(pa.table({"Op": ["I"], "id": [i]}), str(path))
    with cdc_fixtures.stage_task_counts(
        spark.sparkContext, "read-manifest-40"
    ) as stage_tasks:
        df = read_manifest(spark, str(tmp_path), [ParquetFile(k) for k in keys])
        assert df.count() == n
    assert stage_tasks, "no jobs recorded under the group"
    assert n not in stage_tasks, stage_tasks
