"""DMS-style CDC replay fixtures (FIXTURES.md §A) + an independent
pure-Python replay oracle.

File layout written here reproduces the reference's S3 contract
(/root/reference/src/s3/s3_operator.rs:145-154):
``{db}/{schema}/{table}/LOAD00000001.parquet`` plus CDC files under
``YYYY/MM/DD/<stamp>.parquet``. Column 0 is ``Op``, column 1 is
``_dms_ingestion_timestamp`` (the positional contract,
postgres_operator_impl.rs:377,382).

The oracle (`replay_expected`) replays files sequentially, row by
row, into a dict keyed by PK — insert/upsert/delete exactly as the
reference applies them — giving hand-computable expected final state
that the Spark window compaction must match.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from datetime import datetime
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq

DB, SCHEMA = "mydb", "public"
INGEST_TS = datetime(2026, 8, 1, 12, 0, 0)


def _write(root: str, table: str, rel: str, cols: dict[str, list]) -> None:
    path = os.path.join(root, DB, SCHEMA, table, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(cols), path)


def customers_row(i: int, *, bal="10.00", score=1.5, active=True) -> dict:
    return {
        "id": i,
        "name": f"cust '{i}'",  # embedded quote exercises the escaping path
        "balance": Decimal(bal),
        "score": score,
        "signup_date": datetime(2026, 1, 1).date(),
        "updated_at": datetime(2026, 1, 1, 0, 0, 0),
        "active": active,
        "tags": ["a", f"t{i}"],
    }


def _cols(ops: list[str], rows: list[dict]) -> dict[str, list]:
    out: dict[str, list] = {
        "Op": ops,
        "_dms_ingestion_timestamp": [INGEST_TS] * len(rows),
    }
    for k in rows[0]:
        out[k] = [r[k] for r in rows]
    return out


def write_customers_cdc(root: str) -> dict:
    """LOAD with 100 rows; CDC file 1: 10 I (new), 5 U, 3 D; CDC file 2
    (later folder): U overriding a file-1 I, D deleting a file-1 U,
    I re-inserting a previously deleted id (FIXTURES.md A.3)."""
    t = "customers_cdc"
    load_rows = [customers_row(i) for i in range(100)]
    _write(root, t, "LOAD00000001.parquet", _cols(["I"] * 100, load_rows))

    f1_ops, f1_rows = [], []
    for i in range(100, 110):  # 10 inserts
        f1_ops.append("I")
        f1_rows.append(customers_row(i, bal="99.99"))
    for i in range(5):  # 5 updates of existing
        f1_ops.append("U")
        f1_rows.append(customers_row(i, bal="55.55", score=2.5))
    for i in (7, 8, 9):  # 3 deletes
        f1_ops.append("D")
        f1_rows.append(customers_row(i))
    _write(root, t, "2026/08/01/20260801-100000000.parquet", _cols(f1_ops, f1_rows))

    f2_ops = ["U", "D", "I"]
    f2_rows = [
        customers_row(100, bal="1.23"),  # override file-1 insert
        customers_row(3),  # delete a file-1 update
        customers_row(8, bal="8.88"),  # re-insert a deleted id
    ]
    _write(root, t, "2026/08/02/20260802-090000000.parquet", _cols(f2_ops, f2_rows))

    expected = {r["id"]: r for r in load_rows}
    for ops, rows in ((f1_ops, f1_rows), (f2_ops, f2_rows)):
        for op, r in zip(ops, rows):
            if op == "D":
                expected.pop(r["id"], None)
            else:
                expected[r["id"]] = r
    return {"table": t, "pk": ["id"], "expected": expected}


def write_orders_cdc(root: str) -> dict:
    """Composite PK; two U events for the same key in one file
    (last-writer-wins within a file)."""
    t = "orders_cdc"

    def row(o, ln, status="new", amount="5.00"):
        return {
            "order_id": o,
            "line_no": ln,
            "status": status,
            "amount": Decimal(amount),
        }

    load_rows = [row(o, ln) for o in range(1, 11) for ln in (1, 2)]
    _write(root, t, "LOAD00000001.parquet", _cols(["I"] * len(load_rows), load_rows))

    f1_ops = ["U", "U", "D", "I", "U"]
    f1_rows = [
        row(1, 1, "shipped", "7.00"),
        row(1, 1, "delivered", "9.00"),  # same key again — later row wins
        row(2, 2),
        row(11, 1, "new", "11.00"),
        row(3, 2, "returned", "0.50"),
    ]
    _write(root, t, "2026/08/01/20260801-110000000.parquet", _cols(f1_ops, f1_rows))

    expected = {(r["order_id"], r["line_no"]): r for r in load_rows}
    for op, r in zip(f1_ops, f1_rows):
        k = (r["order_id"], r["line_no"])
        if op == "D":
            expected.pop(k, None)
        else:
            expected[k] = r
    return {"table": t, "pk": ["order_id", "line_no"], "expected": expected}


def write_geo_cdc(root: str) -> dict:
    """Geometry sniff fixture: MULTIPOLYGON values rewritten, POINT decoy
    not rewritten (postgres_geometry_type_tests.rs:12-15)."""
    t = "geo_cdc"
    rows = [
        {"id": 1, "name": "a", "area": "MULTIPOLYGON(((0 0,1 0,1 1,0 0)))"},
        {"id": 2, "name": "b", "area": "POINT(1 1)"},
        {"id": 3, "name": "c", "area": "plain text"},
    ]
    _write(root, t, "LOAD00000001.parquet", _cols(["I"] * 3, rows))
    return {"table": t, "pk": ["id"], "expected": {r["id"]: r for r in rows}}


def write_no_pk_cdc(root: str) -> dict:
    """No primary key: LOAD-only scenario (FullLoadOnly mode)."""
    t = "no_pk_cdc"
    rows = [{"event": f"e{i}", "payload": f"p{i}"} for i in range(10)]
    _write(root, t, "LOAD00000001.parquet", _cols(["I"] * 10, rows))
    _write(root, t, "LOAD00000002.parquet", _cols(["I"] * 10, rows))
    return {"table": t, "pk": [], "expected_rows": 20}


def write_schema_drift(root: str) -> dict:
    """customers_cdc CDC file with an extra column — replay must fail
    (reference panics, cdc_operator.rs:177-185)."""
    t = "drift_cdc"
    rows = [dict(customers_row(1), unexpected_col="boom")]
    _write(root, t, "LOAD00000001.parquet", _cols(["I"], [customers_row(1)]))
    _write(root, t, "2026/08/01/20260801-120000000.parquet", _cols(["I"], rows))
    return {"table": t, "pk": ["id"]}


@contextmanager
def group_job_ids(sc, group: str):
    """Run the block under Spark job group ``group``; on exit, the
    yielded list holds the ids of the jobs it launched."""
    ids: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    ids.extend(sc.statusTracker().getJobIdsForGroup(group))


@contextmanager
def stage_task_counts(sc, group: str):
    """Run the block under Spark job group ``group``; on exit, the
    yielded list holds the task count of every stage its jobs ran."""
    counts: list[int] = []
    with group_job_ids(sc, group) as jobs:
        yield counts
    tracker = sc.statusTracker()
    for j in jobs:
        for s in tracker.getJobInfo(j).stageIds:
            if (info := tracker.getStageInfo(s)) is not None:
                counts.append(info.numTasks)
