"""Streaming CDC apply: multi-batch replay must equal batch compaction."""

from __future__ import annotations

import json
import os
from collections import Counter
from datetime import datetime
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rust_dms_cdc_operator_spark.operators.compact import compact_cdc
from rust_dms_cdc_operator_spark.streaming.cdc_stream import (
    BucketedParquetState,
    drain,
    entry_rels,
    stream_replay_bucketed,
)
from rust_dms_cdc_operator_spark.streaming.ivm import IncrementalAggView
from tests.cdc_fixtures import stage_task_counts

SCHEMA = T.StructType(
    [
        T.StructField("Op", T.StringType()),
        T.StructField("id", T.LongType()),
        T.StructField("val", T.StringType()),
        T.StructField("seq", T.LongType()),
    ]
)


def _write(path: str, rows: list[tuple[str, int, str, int]], mtime: int) -> None:
    ops, ids, vals, seqs = zip(*rows)
    pq.write_table(
        pa.table({"Op": list(ops), "id": list(ids), "val": list(vals),
                  "seq": list(seqs)}),
        path,
    )
    # the file-stream source orders microbatches by modification time;
    # DMS drops have strictly increasing mtimes — reproduce that here
    os.utime(path, (mtime, mtime))


def test_stream_replay_multibatch(spark, tmp_path):
    src = tmp_path / "src"
    state = tmp_path / "state"
    os.makedirs(src)
    # file 1: inserts 1..3 ; file 2: update 2, delete 3, insert 4,
    # then update 4 again (last writer wins within the batch)
    _write(str(src / "f1.parquet"),
           [("I", 1, "a", 1), ("I", 2, "b", 2), ("I", 3, "c", 3)], mtime=1000)
    _write(
        str(src / "f2.parquet"),
        [("U", 2, "b2", 4), ("D", 3, "c", 5), ("I", 4, "d", 6), ("U", 4, "d2", 7)],
        mtime=2000,
    )

    final = stream_replay_bucketed(
        spark,
        str(src),
        SCHEMA,
        pk_cols=["id"],
        order_cols=["seq"],
        state_dir=str(state),
        max_files_per_trigger=1,  # force one microbatch per file
    )
    got = {r.id: r.val for r in final.collect()}
    assert got == {1: "a", 2: "b2", 4: "d2"}


def test_stream_delete_then_reinsert(spark, tmp_path):
    src = tmp_path / "src2"
    state = tmp_path / "state2"
    os.makedirs(src)
    _write(str(src / "f1.parquet"), [("I", 1, "x", 1)], mtime=1000)
    _write(str(src / "f2.parquet"), [("D", 1, "x", 2)], mtime=2000)
    _write(str(src / "f3.parquet"), [("I", 1, "x2", 3)], mtime=3000)
    final = stream_replay_bucketed(
        spark, str(src), SCHEMA, ["id"], ["seq"], str(state),
        max_files_per_trigger=1,
    )
    assert {r.id: r.val for r in final.collect()} == {1: "x2"}


def test_incremental_stream_matches_single_batch_apply(spark, tmp_path):
    """Multi-microbatch incremental replay through the bucketed state
    must equal compacting the whole event log as ONE batch (the batch
    compaction semantics the w1 oracle checks)."""
    src = tmp_path / "src3"
    os.makedirs(src)
    _write(
        str(src / "f1.parquet"),
        [("I", i, f"v{i}", i) for i in range(1, 40)],
        mtime=1000,
    )
    _write(
        str(src / "f2.parquet"),
        [("U", 5, "upd", 100), ("D", 6, "x", 101), ("I", 99, "new", 102)],
        mtime=2000,
    )
    a = compact_cdc(
        spark.read.schema(SCHEMA).parquet(str(src)), ["id"], order_cols=["seq"]
    )
    b = stream_replay_bucketed(
        spark, str(src), SCHEMA, ["id"], ["seq"], str(tmp_path / "sb"),
        num_buckets=8, max_files_per_trigger=1,
    )
    assert {(r.id, r.val) for r in a.collect()} == {
        (r.id, r.val) for r in b.collect()
    }


def test_bucketed_state_rewrites_only_touched_buckets(spark, tmp_path):
    """A small second batch must leave untouched bucket partitions'
    files physically unmodified (per-batch cost O(touched buckets))."""
    import glob as _glob

    from rust_dms_cdc_operator_spark.streaming.cdc_stream import (
        BucketedParquetState,
    )

    store = BucketedParquetState(str(tmp_path / "bstate" / "state"), ["id"], 16)
    base = spark.createDataFrame(
        [("I", i, f"v{i}", i) for i in range(1, 200)], schema=SCHEMA
    )
    store.merge_batch(base, order_cols=["seq"])
    pat = str(tmp_path / "bstate" / "state" / "data" / "*" / "*" / "*.parquet")
    before = {p: os.path.getmtime(p) for p in _glob.glob(pat)}
    delta = spark.createDataFrame([("U", 7, "седем", 1000)], schema=SCHEMA)
    store.merge_batch(delta, order_cols=["seq"])
    after = {p: os.path.getmtime(p) for p in _glob.glob(pat)}
    untouched_same = [p for p in before if p in after and before[p] == after[p]]
    # at 16 buckets, a single-key batch touches exactly one bucket: the
    # other buckets' files must be byte-for-byte the same files (the
    # manifest protocol never rewrites or renames a committed file)
    assert len(untouched_same) >= len(before) - 2, (len(untouched_same), len(before))
    assert {r.val for r in store.read(spark).filter("id = 7").collect()} == {"седем"}


def test_bucketed_merge_is_idempotent_on_replay(spark, tmp_path):
    """Exactly-once contract: the streaming checkpoint replays a batch
    at-least-once after a crash; re-applying the SAME batch (including
    a crash between the two applies having already committed some
    buckets) must leave the state byte-identical in content."""
    from rust_dms_cdc_operator_spark.streaming.cdc_stream import (
        BucketedParquetState,
    )

    store = BucketedParquetState(str(tmp_path / "idem" / "state"), ["id"], 8)
    base = spark.createDataFrame(
        [("I", i, f"v{i}", i) for i in range(1, 60)], schema=SCHEMA
    )
    store.merge_batch(base, order_cols=["seq"])
    delta = spark.createDataFrame(
        [("U", 5, "u5", 100), ("D", 6, "x", 101), ("I", 99, "n", 102)],
        schema=SCHEMA,
    )
    store.merge_batch(delta, order_cols=["seq"])
    first = {(r.id, r.val) for r in store.read(spark).collect()}
    # crash-replay: the same batch applied again
    store.merge_batch(delta, order_cols=["seq"])
    second = {(r.id, r.val) for r in store.read(spark).collect()}
    assert first == second
    assert (5, "u5") in second and not any(i == 6 for i, _ in second)


def test_manifest_crash_before_publish(spark, tmp_path, monkeypatch):
    """Kill the process at the worst commit moment — the staged
    generation dir is fully written but the manifest publish never
    happened. The state must be EXACTLY the previous commit (orphan
    generations are invisible), the replayed batch must converge, and
    the next successful commit must GC the orphan."""
    import pytest as _pytest

    from rust_dms_cdc_operator_spark import fsio
    from rust_dms_cdc_operator_spark.streaming.cdc_stream import (
        BucketedParquetState,
    )

    store = BucketedParquetState(str(tmp_path / "cr" / "state"), ["id"], 4)
    base = spark.createDataFrame(
        [("I", i, f"v{i}", i) for i in range(1, 40)], schema=SCHEMA
    )
    store.merge_batch(base, order_cols=["seq"])
    before = {(r.id, r.val) for r in store.read(spark).collect()}
    data_dir = os.path.join(str(tmp_path / "cr" / "state"), "data")
    gens_before = set(os.listdir(data_dir))

    delta = spark.createDataFrame(
        [("U", 5, "u5", 100), ("I", 99, "n", 101)], schema=SCHEMA
    )

    def boom(*_a, **_k):
        raise RuntimeError("simulated crash before manifest publish")

    monkeypatch.setattr(fsio, "publish_text", boom)
    with _pytest.raises(RuntimeError):
        store.merge_batch(delta, order_cols=["seq"])
    monkeypatch.undo()

    # the orphan generation was written but is NOT visible
    orphans = set(os.listdir(data_dir)) - gens_before
    assert orphans, "staging write should have produced a generation dir"
    assert {(r.id, r.val) for r in store.read(spark).collect()} == before

    # checkpoint replays the same batch: plain re-merge converges
    store.merge_batch(delta, order_cols=["seq"])
    after = {(r.id, r.val) for r in store.read(spark).collect()}
    want = (before - {(5, "v5")}) | {(5, "u5"), (99, "n")}
    assert after == want
    # the successful commit's GC removed the orphan generation
    assert not (orphans & set(os.listdir(data_dir)))


def _log_owner(kind: str, spark, root: str) -> SimpleNamespace:
    """An owner of a manifest log, for the commit-protocol tests that
    hold for both: the bucketed state itself, or an incremental view
    over it (one view commit = one state merge + one refresh).
    ``result()`` is what a reader sees; ``expect(model)`` is what it
    must see for the id -> val ``model`` — the state's rows, or the
    view's full recompute (count of keys per val)."""
    store = BucketedParquetState(os.path.join(root, "state"), ["id"], 4)
    view = IncrementalAggView(
        store, os.path.join(root, "view"), ["val"], {"n": ("count", "*")}
    )

    def commit(rows):
        store.merge_batch(
            spark.createDataFrame(rows, schema=SCHEMA), order_cols=["seq"]
        )
        if kind == "view":
            view.refresh(spark)

    if kind == "state":
        return SimpleNamespace(
            commit=commit, log=store.log, path=store.path,
            data="data", field="buckets",
            result=lambda: {(r.id, r.val) for r in store.read(spark).collect()},
            expect=lambda model: set(model.items()),
        )
    return SimpleNamespace(
        commit=commit, log=view.log, path=view.path,
        data="aggs", field="agg_buckets",
        result=lambda: {(r.val, r.n) for r in view.result(spark).collect()},
        expect=lambda model: set(Counter(model.values()).items()),
    )


@pytest.mark.parametrize("kind", ["state", "view"])
def test_manifest_partial_tmp_files_invisible(spark, tmp_path, kind):
    """A crash mid-manifest-write leaves a ``.tmp-*`` sibling; readers
    must ignore it (only fully renamed ``<epoch>.json`` names count)."""
    o = _log_owner(kind, spark, str(tmp_path / "tm"))
    o.commit([("I", 1, "a", 1), ("I", 2, "b", 2)])
    junk = os.path.join(o.path, "_manifests", f"{99:020d}.json.tmp-dead")
    with open(junk, "w") as fh:
        fh.write("{ partial")
    assert o.log.epochs() == [1]
    assert o.result() == o.expect({1: "a", 2: "b"})
    o.commit([("U", 1, "a2", 10)])
    assert o.result() == o.expect({1: "a2", 2: "b"})


def test_bucketed_state_on_file_uri(spark, tmp_path):
    """The same state protocol over a scheme-qualified URI: every
    metadata operation routes through the JVM Hadoop FileSystem (the
    exact code path an ``s3a://`` deployment takes), not ``os.*``."""
    from rust_dms_cdc_operator_spark.streaming.cdc_stream import (
        BucketedParquetState,
    )

    store = BucketedParquetState(
        "file://" + str(tmp_path / "uri" / "state"), ["id"], 4
    )
    base = spark.createDataFrame(
        [("I", i, f"v{i}", i) for i in range(1, 30)], schema=SCHEMA
    )
    store.merge_batch(base, order_cols=["seq"])
    delta = spark.createDataFrame(
        [("U", 5, "u5", 100), ("D", 6, "x", 101), ("I", 77, "n", 102)],
        schema=SCHEMA,
    )
    store.merge_batch(delta, order_cols=["seq"])
    got = {(r.id, r.val) for r in store.read(spark).collect()}
    assert (5, "u5") in got and (77, "n") in got
    assert not any(i == 6 for i, _ in got)
    assert len(got) == 29  # 28 survivors + 1 insert
    # and the layout on disk is the manifest layout (no POSIX calls hit
    # the URI — this asserts the protocol committed through Hadoop FS)
    local = str(tmp_path / "uri" / "state")
    assert os.path.isdir(os.path.join(local, "_manifests"))
    # Hadoop's checksummed local FS adds .crc sidecars — count manifests
    assert store.log.epochs() == [1, 2]


def test_state_fully_deleted_reads_typed_empty(spark, tmp_path):
    """Deleting EVERY key leaves a committed manifest with zero
    buckets; read() must return a 0-row frame with the data schema
    (not fail parquet schema inference)."""
    from rust_dms_cdc_operator_spark.streaming.cdc_stream import (
        BucketedParquetState,
    )

    store = BucketedParquetState(str(tmp_path / "fd" / "state"), ["id"], 4)
    base = spark.createDataFrame([("I", 1, "a", 1), ("I", 2, "b", 2)], schema=SCHEMA)
    store.merge_batch(base, order_cols=["seq"])
    kill = spark.createDataFrame(
        [("D", 1, "a", 10), ("D", 2, "b", 11)], schema=SCHEMA
    )
    store.merge_batch(kill, order_cols=["seq"])
    out = store.read(spark)
    assert out.count() == 0
    assert set(out.columns) == {"id", "val", "seq"}


def test_bucketed_state_clears_fully_deleted_bucket(spark, tmp_path):
    """Dynamic partition overwrite only writes partitions present in
    the output — a bucket whose every key is deleted must still be
    cleared (regression: stale rows survived)."""
    from rust_dms_cdc_operator_spark.streaming.cdc_stream import (
        BucketedParquetState,
    )

    store = BucketedParquetState(str(tmp_path / "bs2" / "state"), ["id"], 4)
    base = spark.createDataFrame(
        [("I", 1, "a", 1), ("I", 2, "b", 2)], schema=SCHEMA
    )
    store.merge_batch(base, order_cols=["seq"])
    kill = spark.createDataFrame([("D", 1, "a", 10)], schema=SCHEMA)
    store.merge_batch(kill, order_cols=["seq"])
    assert {r.id: r.val for r in store.read(spark).collect()} == {2: "b"}


def test_watermarked_window_agg_matches_batch(spark, tmp_path):
    """Streaming tumbling-window aggregation with a watermark, append
    mode: only windows CLOSED by the final watermark (end <= max seen
    event time - delay) are emitted — the still-open last hour is
    withheld — and every emitted window's count matches the batch
    answer. (Dropping of late rows is best-effort per the Spark
    contract, so it is not asserted.)"""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    src = tmp_path / "evsrc"
    out_dir = tmp_path / "evout"
    os.makedirs(src)
    rows = []
    for h in range(3):
        for i in range(20):
            rows.append((h * 20 + i, f"2026-01-01 {h:02d}:{i:02d}:00", "click" if i % 2 else "view"))
    # second file arrives "late": events for hour 0 after hour 2 was seen
    pq.write_table(
        pa.table({
            "event_id": [r[0] for r in rows],
            "ts": [r[1] for r in rows],
            "event_type": [r[2] for r in rows],
        }),
        str(src / "e1.parquet"),
    )
    late = [(999, "2026-01-01 00:59:00", "late")]
    pq.write_table(
        pa.table({
            "event_id": [r[0] for r in late],
            "ts": [r[1] for r in late],
            "event_type": [r[2] for r in late],
        }),
        str(src / "e2.parquet"),
    )
    os.utime(str(src / "e1.parquet"), (1000, 1000))
    os.utime(str(src / "e2.parquet"), (2000, 2000))

    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.StringType()),
        T.StructField("event_type", T.StringType()),
    ])
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .count()
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(tmp_path / "evck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {
        (r["w"]["start"].isoformat(), r["event_type"]): r["count"]
        for r in spark.read.parquet(str(out_dir)).collect()
    }
    batch = (
        spark.read.schema(schema).parquet(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .count()
    )
    want = {
        (r["w"]["start"].isoformat(), r["event_type"]): r["count"]
        for r in batch.collect()
    }
    # final watermark = 02:19 - 10 min = 02:09: the hour-2 window
    # (end 03:00) is still open -> append mode withholds it
    assert not any(k[0].startswith("2026-01-01T02") for k in got), got
    assert any(k[0].startswith("2026-01-01T02") for k in want)
    # every emitted (closed) window matches the batch count exactly
    for k, v in got.items():
        assert want[k] == v, (k, v, want.get(k))
    # hours 0 and 1 are fully present
    for h in ("2026-01-01T00:00:00", "2026-01-01T01:00:00"):
        for et in ("click", "view"):
            assert (h, et) in got


def test_apply_in_pandas_with_state_running_profile(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState): per-key
    running profiles accumulate across microbatches; the final emit per
    key equals the batch aggregate."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from rust_dms_cdc_operator_spark.streaming.stateful import running_profile

    src = tmp_path / "stsrc"
    os.makedirs(src)
    f1 = [(1, "2026-01-01 00:00:00", 1.0), (2, "2026-01-01 00:01:00", 2.0),
          (1, "2026-01-01 00:02:00", 3.0)]
    f2 = [(1, "2026-01-01 00:03:00", 4.0), (3, "2026-01-01 00:04:00", 5.0)]
    for name, rows, mt in (("a.parquet", f1, 1000), ("b.parquet", f2, 2000)):
        pq.write_table(
            pa.table({
                "user_id": [r[0] for r in rows],
                "ts": [r[1] for r in rows],
                "value": [r[2] for r in rows],
            }),
            str(src / name),
        )
        os.utime(str(src / name), (mt, mt))

    schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ])
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    emitted = []

    def sink(batch, epoch):
        emitted.extend((epoch, r) for r in batch.collect())

    q = (
        running_profile(stream)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "stck"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    final = {}
    for _epoch, r in emitted:
        final[r.key] = (r.events_n, r.value_sum, r.last_ts)
    assert final == {
        1: (3, 8.0, "2026-01-01 00:03:00"),
        2: (1, 2.0, "2026-01-01 00:01:00"),
        3: (1, 5.0, "2026-01-01 00:04:00"),
    }
    # key 1 appeared in both microbatches: its state really accumulated
    key1_emits = [r.events_n for _e, r in emitted if r.key == 1]
    assert key1_emits == [2, 3]


@pytest.mark.parametrize("kind", ["state", "view"])
def test_manifest_publish_collision_raises(spark, tmp_path, kind):
    """Zombie-writer guard: the commit targets a FRESH numbered key;
    if that key already exists (a second writer or a replayed zombie
    committed first), the publish must fail loudly instead of
    silently clobbering the other commit."""
    o = _log_owner(kind, spark, str(tmp_path / "zz"))
    o.commit([("I", 1, "a", 1)])
    # model the race: this writer loaded manifest 1, then a faster
    # writer committed manifest 2 before our publish
    man1 = o.log.load()
    o.log.load = lambda epoch=None: man1
    winner = os.path.join(o.path, "_manifests", f"{2:020d}.json")
    with open(winner, "w") as fh:
        json.dump({"epoch": 2, o.field: {}}, fh)
    with pytest.raises(OSError, match="lost a commit race"):
        o.commit([("U", 1, "a2", 5)])
    with open(winner) as fh:
        assert json.load(fh) == {"epoch": 2, o.field: {}}


def test_manifest_crash_before_publish_on_file_uri(spark, tmp_path, monkeypatch):
    """The pre-publish crash point exercised through the Hadoop-FS
    branch (file:// — the s3a-shaped code path): state unchanged,
    replay converges, orphan generation GC'd."""
    import pytest as _pytest

    from rust_dms_cdc_operator_spark import fsio
    from rust_dms_cdc_operator_spark.streaming.cdc_stream import (
        BucketedParquetState,
    )

    local = str(tmp_path / "ucr" / "state")
    store = BucketedParquetState("file://" + local, ["id"], 4)
    base = spark.createDataFrame(
        [("I", i, f"v{i}", i) for i in range(1, 20)], schema=SCHEMA
    )
    store.merge_batch(base, order_cols=["seq"])
    before = {(r.id, r.val) for r in store.read(spark).collect()}
    gens_before = set(os.listdir(os.path.join(local, "data")))

    delta = spark.createDataFrame([("U", 3, "u3", 99)], schema=SCHEMA)

    def boom(*_a, **_k):
        raise RuntimeError("crash before publish (uri)")

    monkeypatch.setattr(fsio, "publish_text", boom)
    with _pytest.raises(RuntimeError):
        store.merge_batch(delta, order_cols=["seq"])
    monkeypatch.undo()

    orphans = set(os.listdir(os.path.join(local, "data"))) - gens_before
    assert orphans
    assert {(r.id, r.val) for r in store.read(spark).collect()} == before
    store.merge_batch(delta, order_cols=["seq"])
    after = {(r.id, r.val) for r in store.read(spark).collect()}
    assert after == (before - {(3, "v3")}) | {(3, "u3")}
    assert not (orphans & set(os.listdir(os.path.join(local, "data"))))


@pytest.mark.parametrize("kind", ["state", "view"])
def test_manifest_gc_bounds_history(spark, tmp_path, kind):
    """Disk is O(live buckets + retention), not O(history): after N
    commits only the last RETAINED_MANIFESTS manifests survive, and
    every generation dir on disk is referenced by one of them."""
    o = _log_owner(kind, spark, str(tmp_path / "gc"))
    model = {}
    for i in range(1, 5):
        rows = [("I", i * 10 + j, f"v{i}", i * 100 + j) for j in range(3)]
        o.commit(rows)
        model.update({r[1]: r[2] for r in rows})
    assert o.log.epochs() == [3, 4]
    referenced = set()
    for e in (3, 4):
        with open(os.path.join(o.path, "_manifests", f"{e:020d}.json")) as fh:
            for entry in json.load(fh)[o.field].values():
                referenced.update(rel.split("/")[1] for rel in entry_rels(entry))
    on_disk = set(os.listdir(os.path.join(o.path, o.data)))
    assert on_disk == referenced, (on_disk, referenced)
    # and the result is complete despite the pruned history
    assert o.result() == o.expect(model)


def test_stream_schema_drift_raises(spark, tmp_path):
    """P3 parity on the stream: a batch whose data columns differ from
    the committed state schema fails fast with the drift named, before
    any state is staged."""
    import pytest as _pytest
    from pyspark.sql import types as T

    from rust_dms_cdc_operator_spark.streaming.cdc_stream import (
        BucketedParquetState,
    )

    store = BucketedParquetState(str(tmp_path / "dr" / "state"), ["id"], 4)
    store.merge_batch(
        spark.createDataFrame([("I", 1, "a", 1)], schema=SCHEMA),
        order_cols=["seq"],
    )
    drifted = T.StructType(
        [
            T.StructField("Op", T.StringType()),
            T.StructField("id", T.LongType()),
            T.StructField("val", T.StringType()),
            T.StructField("seq", T.LongType()),
            T.StructField("extra", T.StringType()),
        ]
    )
    batch = spark.createDataFrame([("U", 1, "a2", 5, "x")], schema=drifted)
    with _pytest.raises(ValueError, match="schema drift.*extra"):
        store.merge_batch(batch, order_cols=["seq"])
    # state untouched
    assert {r.id: r.val for r in store.read(spark).collect()} == {1: "a"}


def test_read_at_retained_epoch_time_travel(spark, tmp_path):
    """The manifest log is a commit history: a read pinned to a
    retained epoch sees exactly that commit's state, concurrent with
    the newer commit; non-retained epochs refuse."""
    import pytest as _pytest

    from rust_dms_cdc_operator_spark.streaming.cdc_stream import (
        BucketedParquetState,
    )

    store = BucketedParquetState(str(tmp_path / "tt" / "state"), ["id"], 4)
    store.merge_batch(
        spark.createDataFrame(
            [("I", 1, "a", 1), ("I", 2, "b", 2)], schema=SCHEMA
        ),
        order_cols=["seq"],
    )
    store.merge_batch(
        spark.createDataFrame(
            [("U", 1, "a2", 10), ("D", 2, "b", 11)], schema=SCHEMA
        ),
        order_cols=["seq"],
    )
    now = {r.id: r.val for r in store.read(spark).collect()}
    then = {r.id: r.val for r in store.read(spark, epoch=1).collect()}
    assert now == {1: "a2"}
    assert then == {1: "a", 2: "b"}
    store.merge_batch(
        spark.createDataFrame([("I", 3, "c", 20)], schema=SCHEMA),
        order_cols=["seq"],
    )
    assert store.stats(epoch=2)["keys_deleted"] == 1
    # epoch 1 is GC'd out of the retention window: both pinned calls
    # refuse it the same way
    with _pytest.raises(ValueError, match=r"not retained .*\[2, 3\]"):
        store.read(spark, epoch=1)
    with _pytest.raises(ValueError, match=r"not retained .*\[2, 3\]"):
        store.stats(epoch=1)


def test_stream_dedup_drops_redeliveries(spark, tmp_path):
    """Streaming exact-dedup: a key re-delivered in a later microbatch
    within the watermark horizon is emitted exactly once; distinct keys
    all pass."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from rust_dms_cdc_operator_spark.streaming.stateful import stream_dedup

    src = tmp_path / "ddsrc"
    out_dir = tmp_path / "ddout"
    os.makedirs(src)
    f1 = [(1, "2026-01-01 00:00:00", "a"), (2, "2026-01-01 00:01:00", "b")]
    f2 = [(1, "2026-01-01 00:02:00", "a-redelivered"),
          (3, "2026-01-01 00:03:00", "c")]
    for name, rows, mt in (("a.parquet", f1, 1000), ("b.parquet", f2, 2000)):
        pq.write_table(
            pa.table({
                "doc_id": [r[0] for r in rows],
                "ts": [r[1] for r in rows],
                "text": [r[2] for r in rows],
            }),
            str(src / name),
        )
        os.utime(str(src / name), (mt, mt))

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("ts", T.StringType()),
        T.StructField("text", T.StringType()),
    ])
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    q = (
        stream_dedup(stream, ["doc_id"], "ts", delay="1 hour")
        .writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(tmp_path / "ddck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.doc_id: r.text for r in spark.read.parquet(str(out_dir)).collect()}
    assert got == {1: "a", 2: "b", 3: "c"}  # first arrival wins, once each


def test_streaming_session_window_matches_batch(spark, tmp_path):
    """Streaming sessionization (session_window + watermark, append
    mode): sessions CLOSED by the final watermark are emitted and
    match the batch session_window answer; a session still extendable
    at the final watermark is withheld. This is the streaming form of
    the batch `events_sessionize` oracle query."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    src = tmp_path / "sessrc"
    os.makedirs(src)
    # user 1: two bursts 40 min apart (two sessions); user 2: one
    # burst, then a very late final event to push the watermark
    rows = [
        (1, "2026-01-01 00:00:00"),
        (1, "2026-01-01 00:05:00"),
        (1, "2026-01-01 00:45:00"),  # > 30-min gap: new session
        (2, "2026-01-01 00:10:00"),
        (2, "2026-01-01 00:20:00"),
        (2, "2026-01-01 03:00:00"),  # drives watermark far forward
    ]
    pq.write_table(
        pa.table({
            "user_id": [r[0] for r in rows],
            "ts": [r[1] for r in rows],
        }),
        str(src / "s1.parquet"),
    )

    schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.StringType()),
    ])

    def sessions(df):
        return (
            df.withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", "10 minutes")
            .groupBy(
                F.session_window("ts", "30 minutes").alias("w"), "user_id"
            )
            .agg(F.count(F.lit(1)).alias("events_n"))
            .select(
                "user_id",
                F.col("w.start").alias("session_start"),
                "events_n",
            )
        )

    out_dir = tmp_path / "sesout"
    q = (
        sessions(
            spark.readStream.schema(schema).parquet(str(src))
        )
        .writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(tmp_path / "sesck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {
        (r.user_id, r.session_start.isoformat()): r.events_n
        for r in spark.read.parquet(str(out_dir)).collect()
    }
    # batch reference on the same data (watermark is a no-op in batch)
    batch = sessions(spark.read.schema(schema).parquet(str(src)))
    want = {
        (r.user_id, r.session_start.isoformat()): r.events_n
        for r in batch.collect()
    }
    # final watermark = 03:00 - 10 min = 02:50: every session except
    # user 2's 03:00 burst is closed (gap end < watermark) and emitted
    withheld = (2, "2026-01-01T03:00:00")
    assert withheld in want and withheld not in got
    for k, v in got.items():
        assert want[k] == v, (k, v, want.get(k))
    assert (1, "2026-01-01T00:00:00") in got  # 2 events
    assert (1, "2026-01-01T00:45:00") in got  # separate session
    assert (2, "2026-01-01T00:10:00") in got
    assert got[(1, "2026-01-01T00:00:00")] == 2


def test_compact_collapses_generations_and_rebuckets(spark, tmp_path):
    """Maintenance OPTIMIZE: after many small batches the state spans
    many generation dirs; compact() collapses the live state into ONE
    generation (same rows), and new_num_buckets re-buckets — the knob
    otherwise frozen at creation — transparently to later merges."""
    import glob as _glob

    from rust_dms_cdc_operator_spark.streaming.cdc_stream import (
        BucketedParquetState,
    )

    store = BucketedParquetState(
        str(tmp_path / "cstate" / "state"), ["id"], 16
    )
    for i in range(5):  # 5 batches -> up to 5 live generations
        b = spark.createDataFrame(
            [("I", i * 40 + k, f"v{i}-{k}", i) for k in range(40)],
            schema=SCHEMA,
        )
        store.merge_batch(b, order_cols=["seq"])
    want = {(r.id, r.val) for r in store.read(spark).collect()}
    gen_glob = str(tmp_path / "cstate" / "state" / "data" / "*")

    store.compact(spark, new_num_buckets=4)
    got = {(r.id, r.val) for r in store.read(spark).collect()}
    assert got == want
    # the new manifest references exactly one generation, with 4 buckets
    man = store.log.load()
    assert man["num_buckets"] == 4
    rels = [rel for e in man["buckets"].values() for rel in entry_rels(e)]
    gens = {rel.split("/")[1] for rel in rels}
    assert len(gens) == 1 and next(iter(gens)).startswith("e6-compact-")
    assert len({rel.split("=", 1)[1] for rel in rels}) <= 4

    # one more commit pushes pre-compact manifests past retention: GC
    # reaps their generations, leaving compact's + the new one
    store.merge_batch(
        spark.createDataFrame([("U", 3, "bump", 99)], schema=SCHEMA),
        order_cols=["seq"],
    )
    live_gens = {os.path.basename(p) for p in _glob.glob(gen_glob)}
    assert len(live_gens) == 2, live_gens
    # and the re-bucketed state keeps serving merges correctly
    assert {r.val for r in store.read(spark).filter("id = 3").collect()} == {
        "bump"
    }


def test_lookup_reads_only_key_buckets(spark, tmp_path):
    """Point lookup returns exactly the requested keys' current rows
    and lists only the buckets those keys hash to."""
    from rust_dms_cdc_operator_spark.streaming.cdc_stream import (
        BucketedParquetState,
    )

    store = BucketedParquetState(
        str(tmp_path / "lstate" / "state"), ["id"], 16
    )
    base = spark.createDataFrame(
        [("I", i, f"v{i}", i) for i in range(1, 300)], schema=SCHEMA
    )
    store.merge_batch(base, order_cols=["seq"])
    got = {(r.id, r.val) for r in store.lookup(spark, [(7,), (42,), (299,)]).collect()}
    assert got == {(7, "v7"), (42, "v42"), (299, "v299")}
    # a deleted key simply doesn't come back
    store.merge_batch(
        spark.createDataFrame([("D", 42, None, 1000)], schema=SCHEMA),
        order_cols=["seq"],
    )
    got = {r.id for r in store.lookup(spark, [(7,), (42,)]).collect()}
    assert got == {7}
    # unknown keys -> empty, typed
    assert store.lookup(spark, [(100000,)]).count() == 0


def test_stream_auto_compaction(spark, tmp_path):
    """compact_every folds maintenance into the replay loop: the final
    state matches the plain replay, and the generation count stays
    bounded instead of one-per-batch."""
    import glob as _glob

    from rust_dms_cdc_operator_spark.streaming.cdc_stream import (
        stream_replay_bucketed,
    )
    from pyspark.sql import types as T

    compact_every = 2
    src = tmp_path / "acsrc"
    os.makedirs(src)
    for i in range(4):
        _write(
            str(src / f"b{i}.parquet"),
            [("I", i * 10 + k, f"v{i}.{k}", i) for k in range(10)],
            1000 + i,
        )
    schema = T.StructType([
        T.StructField("Op", T.StringType()),
        T.StructField("id", T.LongType()),
        T.StructField("val", T.StringType()),
        T.StructField("seq", T.LongType()),
    ])
    final = stream_replay_bucketed(
        spark, str(src), schema, ["id"], ["seq"],
        str(tmp_path / "acstate"), num_buckets=8,
        max_files_per_trigger=1, compact_every=compact_every,
    )
    assert final.count() == 40
    store = BucketedParquetState(
        str(tmp_path / "acstate" / "state"), ["id"], 8
    )
    # 4 merge epochs + 2 compact epochs, retention 2: nothing on disk
    # outside what the retained manifests reference (no leak) ...
    retained = [store.log.load(e) for e in store.log.epochs()]
    referenced = {
        rel.split("/")[1]
        for man in retained
        for entry in man["buckets"].values()
        for rel in entry_rels(entry)
    }
    gens = {os.path.basename(g) for g in _glob.glob(
        str(tmp_path / "acstate" / "state" / "data" / "*")
    )}
    assert gens == referenced, (gens, referenced)
    # ... the latest commit (a compaction) references ONE generation of
    # bases, and the retained commit before it a compaction's bases plus
    # one delta per merge since: at most 2 + compact_every generations
    latest = retained[-1]
    rels = [r for e in latest["buckets"].values() for r in entry_rels(e)]
    assert len({r.split("/")[1] for r in rels}) == 1, rels
    assert all(not e["deltas"] for e in latest["buckets"].values())
    assert any("-compact-" in g for g in gens), gens
    assert len(gens) <= 2 + compact_every, gens


def test_schema_evolution_additive(spark, tmp_path):
    """Opt-in Delta-style evolution: a batch ADDING a column extends
    the state (pre-evolution rows read NULL), a batch MISSING a column
    fills NULL; the strict default still raises; compact preserves the
    evolved schema across mixed-schema generations."""
    import pytest as _pytest
    from rust_dms_cdc_operator_spark.streaming.cdc_stream import (
        BucketedParquetState,
    )

    store = BucketedParquetState(
        str(tmp_path / "estate" / "state"), ["id"], 8
    )
    store.merge_batch(
        spark.createDataFrame(
            [("I", 1, "a", 1), ("I", 2, "b", 1)], schema=SCHEMA
        ),
        order_cols=["seq"],
    )
    widened = spark.createDataFrame(
        [("U", 2, "b2", 2, "extra2"), ("I", 3, "c", 2, "extra3")],
        "Op string, id long, val string, seq long, extra string",
    )
    # strict default: clear pre-stage error
    with _pytest.raises(ValueError, match="schema drift"):
        store.merge_batch(widened, order_cols=["seq"])
    store.merge_batch(
        widened, order_cols=["seq"], allow_schema_evolution=True
    )
    got = {r.id: (r.val, r.extra) for r in store.read(spark).collect()}
    assert got == {1: ("a", None), 2: ("b2", "extra2"), 3: ("c", "extra3")}

    # a later batch WITHOUT the new column back-fills NULL for its rows
    store.merge_batch(
        spark.createDataFrame([("U", 1, "a9", 3)], schema=SCHEMA),
        order_cols=["seq"],
        allow_schema_evolution=True,
    )
    got = {r.id: (r.val, r.extra) for r in store.read(spark).collect()}
    assert got[1] == ("a9", None) and got[3] == ("c", "extra3")

    # compact across mixed-schema generations keeps the evolved schema
    store.compact(spark)
    got2 = {r.id: (r.val, r.extra) for r in store.read(spark).collect()}
    assert got2 == got


def test_merge_stats_in_manifest(spark, tmp_path):
    """Every commit carries its stats block: merge epochs report keys
    upserted/deleted + buckets touched + wall ms; compact epochs are
    marked as maintenance."""
    from rust_dms_cdc_operator_spark.streaming.cdc_stream import (
        BucketedParquetState,
    )

    store = BucketedParquetState(str(tmp_path / "sstate" / "state"), ["id"], 8)
    store.merge_batch(
        spark.createDataFrame(
            [("I", 1, "a", 1), ("I", 2, "b", 1), ("D", 3, None, 1)],
            schema=SCHEMA,
        ),
        order_cols=["seq"],
    )
    s = store.stats()
    assert s["kind"] == "merge"
    assert s["keys_upserted"] == 2 and s["keys_deleted"] == 1
    assert s["buckets_touched"] >= 1 and s["wall_ms"] >= 0
    store.compact(spark)
    assert store.stats()["kind"] == "compact"


def test_compact_and_lookup_on_file_uri(spark, tmp_path):
    """The round-4 state ops (compact/lookup) must stay on the fsio
    path: driven through a file:// URI root, where any os.* call or
    os.path.join would break (the object-store stand-in)."""
    from rust_dms_cdc_operator_spark.streaming.cdc_stream import (
        BucketedParquetState,
    )

    root = "file://" + str(tmp_path / "ustate" / "state")
    store = BucketedParquetState(root, ["id"], 8)
    for i in range(3):
        store.merge_batch(
            spark.createDataFrame(
                [("I", i * 10 + k, f"v{i}.{k}", i) for k in range(10)],
                schema=SCHEMA,
            ),
            order_cols=["seq"],
        )
    want = {(r.id, r.val) for r in store.read(spark).collect()}
    store.compact(spark, new_num_buckets=4)
    assert {(r.id, r.val) for r in store.read(spark).collect()} == want
    got = {r.id for r in store.lookup(spark, [(5,), (25,)]).collect()}
    assert got == {5, 25}
    assert store.stats()["kind"] == "compact"

def test_schema_evolution_survives_fresh_bucket_batch(spark, tmp_path):
    """Regression: with allow_schema_evolution, a batch whose touched
    buckets have NO live state (all-new keys) must not narrow the
    committed schema to the batch-only columns — a column present only
    in prior state would otherwise vanish from explicit-schema reads
    of the untouched buckets (destructive narrowing from a feature
    documented additive-only)."""
    from pyspark.sql import functions as F
    from rust_dms_cdc_operator_spark.streaming.cdc_stream import (
        BucketedParquetState,
    )

    nb = 8
    store = BucketedParquetState(str(tmp_path / "nstate" / "state"), ["id"], nb)
    store.merge_batch(
        spark.createDataFrame(
            [("I", 1, "a", 1, "x1")],
            "Op string, id long, val string, seq long, extra string",
        ),
        order_cols=["seq"],
    )

    def bucket_of(key: int) -> int:
        return (
            spark.range(1)
            .select(
                F.pmod(F.xxhash64(F.lit(key).cast("long")), F.lit(nb))
                .cast("int")
                .alias("b")
            )
            .first()
            .b
        )
    other = next(k for k in range(2, 200) if bucket_of(k) != bucket_of(1))

    # batch MISSING `extra`, landing in a bucket with no live state
    store.merge_batch(
        spark.createDataFrame([("I", other, "b", 2)], schema=SCHEMA),
        order_cols=["seq"],
        allow_schema_evolution=True,
    )
    got = {r.id: (r.val, r.extra) for r in store.read(spark).collect()}
    assert got == {1: ("a", "x1"), other: ("b", None)}


def test_lookup_composite_pk_follows_pk_cols_order(spark, tmp_path):
    """Regression: lookup key tuples follow pk_cols order as passed to
    the constructor — NOT committed-schema field order. With a
    composite PK whose pk_cols order differs from column order and
    whose types coincide, binding by field order silently returns the
    wrong (empty) result."""
    from rust_dms_cdc_operator_spark.streaming.cdc_stream import (
        BucketedParquetState,
    )

    store = BucketedParquetState(
        str(tmp_path / "cstate" / "state"), ["b", "a"], 8
    )
    store.merge_batch(
        spark.createDataFrame(
            [("I", 1, 100, "r1", 1), ("I", 2, 200, "r2", 1)],
            "Op string, a long, b long, val string, seq long",
        ),
        order_cols=["seq"],
    )
    # tuples in pk_cols order: (b, a)
    got = {r.val for r in store.lookup(spark, [(100, 1)]).collect()}
    assert got == {"r1"}
    # schema-field order (a, b) must NOT match anything
    assert store.lookup(spark, [(1, 100)]).count() == 0


def test_merge_batch_reports_commit(spark, tmp_path):
    """merge_batch returns True only when it commits an epoch; an
    empty microbatch is a no-op (no manifest, no state) — the guard
    that keeps compact_every from scheduling compact() before any
    manifest exists."""
    from rust_dms_cdc_operator_spark.streaming.cdc_stream import (
        BucketedParquetState,
    )

    store = BucketedParquetState(str(tmp_path / "gstate" / "state"), ["id"], 4)
    empty = spark.createDataFrame([], schema=SCHEMA)
    assert store.merge_batch(empty, order_cols=["seq"]) is False
    assert not store.exists()
    assert store.merge_batch(
        spark.createDataFrame([("I", 1, "a", 1)], schema=SCHEMA),
        order_cols=["seq"],
    ) is True
    assert store.exists()


def test_stateful_sessionize_multibatch_converges(spark, tmp_path):
    """A session that SPANS two microbatches must emerge merged: the
    provisional open-session row from batch 0 is superseded by the
    extended row from batch 1 (upsert on (user_id, session_start)),
    and a gap >= 30 min across the batch boundary closes the first
    session exactly once."""
    import pandas as pd
    from pyspark.sql import Window

    from rust_dms_cdc_operator_spark.streaming.stateful import (
        sessionize_stateful,
    )

    src = tmp_path / "src"
    out = tmp_path / "out"
    ck = tmp_path / "ck"
    os.makedirs(src)

    def _ts(minute):
        return datetime(2024, 1, 1, 10, 0) + pd.Timedelta(minutes=minute)

    # user 1: events at t0, t10 (batch A) and t20, t70 (batch B):
    #   t20 extends the open session (gap 10 < 30); t70 starts a new one
    # user 2: single event in batch A only
    fa = str(src / "a.parquet")
    pq.write_table(
        pa.table({
            "user_id": [1, 1, 2],
            "ts": [_ts(0), _ts(10), _ts(5)],
        }),
        fa,
    )
    os.utime(fa, (1000, 1000))
    fb = str(src / "b.parquet")
    pq.write_table(
        pa.table({"user_id": [1, 1], "ts": [_ts(20), _ts(70)]}),
        fb,
    )
    os.utime(fb, (2000, 2000))

    schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
    ])
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    sessions = sessionize_stateful(stream, gap_seconds=1800.0)

    def sink(batch_df, bid):
        batch_df.withColumn("_bid", F.lit(bid)).write.mode("append").parquet(
            str(out)
        )

    q = (
        sessions.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", str(ck))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    res = spark.read.parquet(str(out))
    w = Window.partitionBy("user_id", "session_start").orderBy(
        F.col("_bid").desc()
    )
    final = (
        res.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "session_start", "session_end", "events_n")
    )
    rows = {
        (r.user_id, r.session_start, r.session_end): r.events_n
        for r in final.collect()
    }
    assert rows == {
        (1, _ts(0), _ts(20)): 3,   # spans the batch boundary, merged
        (1, _ts(70), _ts(70)): 1,  # opened by the 50-min gap
        (2, _ts(5), _ts(5)): 1,
    }, rows
    # the closed span-session emitted exactly once as closed=True
    closed = res.filter(
        (F.col("user_id") == 1) & F.col("closed")
    ).collect()
    assert len(closed) == 1 and closed[0].events_n == 3


def test_streaming_cms_merge_across_batches(spark, tmp_path):
    """Two microbatches, each building a partial sketch, merged
    bucket-wise — the accumulated sketch must be IDENTICAL to the
    one-shot batch sketch over all rows (lossless mergeability is the
    sketch's defining property)."""
    from rust_dms_cdc_operator_spark.operators.sketch import cms_build

    src = tmp_path / "src"
    acc = tmp_path / "acc"
    ck = tmp_path / "ck"
    os.makedirs(src)

    rows_a = [(f"w{i % 20}",) for i in range(300)]
    rows_b = [(f"w{i % 35}",) for i in range(200)]
    fa = str(src / "a.parquet")
    pq.write_table(pa.table({"word": [r[0] for r in rows_a]}), fa)
    os.utime(fa, (1000, 1000))
    fb = str(src / "b.parquet")
    pq.write_table(pa.table({"word": [r[0] for r in rows_b]}), fb)
    os.utime(fb, (2000, 2000))

    schema = T.StructType([T.StructField("word", T.StringType())])
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )

    n_batches = []

    def sink(batch_df, bid):
        n_batches.append(bid)
        part = cms_build(batch_df, "word", width=64)
        sess = batch_df.sparkSession
        try:
            prev = sess.read.parquet(str(acc))
            merged = (
                part.unionByName(prev)
                .groupBy("cms_row", "cms_bucket")
                .agg(F.sum("total").cast("long").alias("total"))
            )
        except Exception:
            merged = part
        rows = merged.collect()
        sess.createDataFrame(rows, part.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(acc))

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(ck))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(n_batches) == 2  # genuinely merged across two batches

    streamed = spark.read.parquet(str(acc))
    full = cms_build(
        spark.createDataFrame(rows_a + rows_b, "word string"), "word", width=64
    )
    assert streamed.exceptAll(full).count() == 0
    assert full.exceptAll(streamed).count() == 0


def test_stream_stream_join_across_batches(spark, tmp_path):
    """Clicks arriving in batch A must still join purchases arriving
    in batch B (the click is buffered in join state until the
    watermark provably passes its joinable horizon)."""
    src = tmp_path / "src"
    out = tmp_path / "out"
    ck = tmp_path / "ck"
    os.makedirs(src)

    t0 = datetime(2024, 1, 1, 10, 0)
    fa = str(src / "a.parquet")
    pq.write_table(
        pa.table({
            "event_id": [1, 2],
            "user_id": [7, 8],
            "event_type": ["click", "click"],
            "ts": [t0, t0],
        }),
        fa,
    )
    os.utime(fa, (1000, 1000))
    fb = str(src / "b.parquet")
    from datetime import timedelta
    pq.write_table(
        pa.table({
            "event_id": [3, 4],
            "user_id": [7, 8],
            "event_type": ["purchase", "purchase"],
            # user 7 inside the 1h bound, user 8 outside it
            "ts": [t0 + timedelta(minutes=30), t0 + timedelta(hours=2)],
        }),
        fb,
    )
    os.utime(fb, (2000, 2000))

    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    clicks = raw.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    ).withWatermark("c_ts", "1 hour")
    purchases = raw.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    ).withWatermark("p_ts", "1 hour")
    j = clicks.join(
        purchases,
        F.expr("c_user = p_user AND p_ts >= c_ts"
               " AND p_ts <= c_ts + interval 1 hour"),
    ).select("click_id", "purchase_id")
    q = (
        j.writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ck))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = [(r.click_id, r.purchase_id) for r in spark.read.parquet(str(out)).collect()]
    assert got == [(1, 3)], got  # cross-batch pair joined; out-of-bound pair not


def test_cms_accumulate_corrupt_accumulator_fails_loudly(spark, tmp_path):
    """The streaming CMS accumulator's first-batch detection is an
    explicit existence probe, never try/except-as-control-flow (r6
    verdict): a healthy run merges batches exactly (2+3 occurrences of
    'a' estimate as 5), and a CORRUPT accumulator part file fails the
    microbatch loudly — silently resetting the sketch would undercount
    every key seen before the crash."""
    import pytest

    from rust_dms_cdc_operator_spark.operators.sketch import (
        cms_accumulate,
        cms_estimate,
    )

    acc = str(tmp_path / "acc")
    b1 = spark.createDataFrame([("a",), ("a",), ("b",)], "word string")
    b2 = spark.createDataFrame([("a",), ("a",), ("a",)], "word string")
    cms_accumulate(b1, acc, "word", width=64)
    cms_accumulate(b2, acc, "word", width=64)
    probes = spark.createDataFrame([("a",), ("b",)], "word string")
    est = {
        r.word: r.cms_count
        for r in cms_estimate(
            spark.read.parquet(acc), probes, "word", width=64
        ).collect()
    }
    assert est["a"] == 5 and est["b"] == 1  # merged, not reset

    # corrupt the accumulator: the next microbatch must raise, and the
    # (corrupt) accumulator must NOT be silently overwritten
    import os

    part = next(
        os.path.join(acc, n)
        for n in os.listdir(acc)
        if n.startswith("part-")
    )
    with open(part, "wb") as fh:
        fh.write(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet|footer|magic"):
        cms_accumulate(b1, acc, "word", width=64)
    with open(part, "rb") as fh:
        assert fh.read() == b"not a parquet file"  # left for forensics


def test_neardup_accumulate_batching_invariance_and_crash(spark, tmp_path):
    """Streaming SimHash near-dup: the accumulated output after an
    id-ordered multi-batch replay equals the batch rule 'shares a band
    with any smaller-id doc' AND equals a single-batch run (state
    merge is batching-invariant for ordered arrival); a corrupt state
    dir fails loudly (cms_accumulate contract)."""
    import os

    import pytest

    from rust_dms_cdc_operator_spark.operators.dedup import (
        neardup_accumulate,
        simhash_bits,
    )

    docs = []
    for i in range(30):
        t = i % 5
        docs.append((i, f"template {t} shared body text common tail w{t}"))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    # ground truth: smaller-id band-share rule over the full corpus
    width, mask = 15, (1 << 15) - 1
    sig = {
        r.doc_id: r.simhash
        for r in simhash_bits(df, "doc_id", "text", 60).collect()
    }
    def bandset(s):
        return {(i, (s >> (i * width)) & mask) for i in range(4)}
    want = {
        i: any(
            bandset(sig[i]) & bandset(sig[j]) for j in sig if j < i
        )
        for i in sig
    }

    def run(batches, tag):
        acc = str(tmp_path / f"acc_{tag}")
        out = str(tmp_path / f"out_{tag}")
        for lo, hi in batches:
            b = df.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            )
            neardup_accumulate(b, acc, out)
        return {
            r.doc_id: r.is_neardup
            for r in spark.read.parquet(out).collect()
        }

    got_multi = run([(0, 10), (10, 20), (20, 30)], "multi")
    got_single = run([(0, 30)], "single")
    assert got_multi == want
    assert got_single == want

    # corrupt state: loud failure, state not silently replaced.
    # State lives as epoch subdirs (round 8) — corrupt the part file
    # inside the newest committed epoch.
    acc = str(tmp_path / "acc_multi")
    epoch = max(
        os.path.join(acc, n) for n in os.listdir(acc)
        if n.startswith("state-")
    )
    part = next(
        os.path.join(epoch, n)
        for n in os.listdir(epoch)
        if n.startswith("part-")
    )
    with open(part, "wb") as fh:
        fh.write(b"junk not parquet")
    with pytest.raises(Exception, match="(?i)parquet|footer|magic"):
        neardup_accumulate(df, acc, str(tmp_path / "out_crash"))
    with open(part, "rb") as fh:
        assert fh.read() == b"junk not parquet"

    # a flat pre-epoch state layout is refused loudly, never silently
    # reset to "first batch"
    flat = str(tmp_path / "acc_flat")
    os.makedirs(flat)
    with open(os.path.join(flat, "part-00000"), "wb") as fh:
        fh.write(b"legacy")
    with pytest.raises(OSError, match="pre-epoch"):
        neardup_accumulate(df, flat, str(tmp_path / "out_flat"))


def test_neardup_accumulate_crash_replay_idempotent(spark, tmp_path):
    """Crash semantics of the epoch-state protocol: (a) an
    uncommitted epoch (no _SUCCESS) is ignored and the previous
    committed state drives the replay; (b) replaying a batch with the
    same batch_id after BOTH writes landed double-appends nothing
    (dynamic per-batch partition overwrite); (c) replay after the
    state committed but the output write was lost produces the same
    flags the first attempt would have."""
    import os
    import shutil

    from rust_dms_cdc_operator_spark.operators.dedup import (
        neardup_accumulate,
    )

    docs = [
        (i, f"template {i % 3} shared body text common tail w{i % 3}")
        for i in range(20)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    b1 = df.filter(F.col("doc_id") < 10)
    b2 = df.filter(F.col("doc_id") >= 10)
    acc, out = str(tmp_path / "acc"), str(tmp_path / "out")

    neardup_accumulate(b1, acc, out, batch_id=0)
    neardup_accumulate(b2, acc, out, batch_id=1)
    want = {
        r.doc_id: r.is_neardup for r in spark.read.parquet(out).collect()
    }
    assert len(want) == 20

    # (b) full replay of batch 1 with the same id: no duplicate rows
    neardup_accumulate(b2, acc, out, batch_id=1)
    again = [r.doc_id for r in spark.read.parquet(out).collect()]
    assert sorted(again) == list(range(20))

    # (a) an uncommitted (crashed) epoch write is invisible to readers
    epochs = sorted(n for n in os.listdir(acc) if n.startswith("state-"))
    crashed = os.path.join(acc, "state-99")
    shutil.copytree(os.path.join(acc, epochs[-1]), crashed)
    os.remove(os.path.join(crashed, "_SUCCESS"))
    with open(os.path.join(crashed, "part-corrupt"), "wb") as fh:
        fh.write(b"torn write")
    # (c) replay batch 1 once more — crashed epoch ignored, flags equal
    neardup_accumulate(b2, acc, out, batch_id=1)
    got = {
        r.doc_id: r.is_neardup for r in spark.read.parquet(out).collect()
    }
    assert got == want


def _parquet_files(d: str) -> list[str]:
    return [f for f in os.listdir(d) if f.endswith(".parquet")]


def test_bucket_writes_one_file_per_bucket_above_parallelism(spark, tmp_path):
    """More buckets touched than defaultParallelism: the write runs
    fewer tasks than buckets, yet every committed bucket dir (merge,
    re-bucketing compact, view refresh) holds exactly one file."""
    from rust_dms_cdc_operator_spark.streaming.cdc_stream import (
        BucketedParquetState,
    )
    from rust_dms_cdc_operator_spark.streaming.ivm import IncrementalAggView

    nb = 16
    assert spark.sparkContext.defaultParallelism < nb
    root = tmp_path / "wstate"
    store = BucketedParquetState(str(root / "state"), ["id"], nb)
    view = IncrementalAggView(
        store, str(root / "view"), ["val"], {"n": ("count", "*")}
    )

    def one_file_per_bucket(base, entries):
        for rel in (r for e in entries for r in entry_rels(e)):
            files = _parquet_files(os.path.join(base, rel))
            assert len(files) == 1, (rel, files)

    # first commit (no live state), then one that merges live buckets
    for i in range(2):
        batch = spark.createDataFrame(
            [("U", k, f"g{k % 3}", i) for k in range(i * 100, i * 100 + 400)],
            schema=SCHEMA,
        )
        with stage_task_counts(spark.sparkContext, f"bucket-merge-{i}") as stage_tasks:
            store.merge_batch(batch, order_cols=["seq"])
        # no stage runs one task per bucket
        assert stage_tasks and nb not in stage_tasks, stage_tasks
        man = store.log.load()
        assert store.stats()["buckets_touched"] == nb
        one_file_per_bucket(store.path, man["buckets"].values())
        view.refresh(spark)
        one_file_per_bucket(view.path, view.log.load()["agg_buckets"].values())
    assert store.read(spark).count() == 500

    store.compact(spark, new_num_buckets=24)
    man = store.log.load()
    assert man["num_buckets"] == 24 and len(man["buckets"]) == 24
    one_file_per_bucket(store.path, man["buckets"].values())
    assert store.read(spark).count() == 500
    view.refresh(spark)
    vman = view.log.load()
    assert len(vman["agg_buckets"]) == 24
    one_file_per_bucket(view.path, vman["agg_buckets"].values())
    assert {(r.val, r.n) for r in view.result(spark).collect()} == {
        (r.val, r["count"]) for r in store.read(spark).groupBy("val").count().collect()
    }


def test_lookup_keys_frame_is_a_local_relation(spark, tmp_path):
    """The lookup's keys frame is JVM-side: no RDD scan (the pickled
    slices of ``createDataFrame(list)``) anywhere in its plan."""
    from rust_dms_cdc_operator_spark.streaming.cdc_stream import (
        BucketedParquetState,
    )

    store = BucketedParquetState(str(tmp_path / "kstate" / "state"), ["id"], 8)
    store.merge_batch(
        spark.createDataFrame(
            [("I", i, f"v{i}", 1) for i in range(50)], schema=SCHEMA
        ),
        order_cols=["seq"],
    )
    df = store.lookup(spark, [(3,), (17,), (49,)])
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "ExistingRDD" not in plan and "LogicalRDD" not in plan, plan
    assert {(r.id, r.val) for r in df.collect()} == {
        (3, "v3"), (17, "v17"), (49, "v49")
    }


def test_lookup_matches_full_state_filter(spark, tmp_path):
    """Single-PK and mixed-type composite-PK lookups return exactly the
    rows a semi-join of the full state against the same keys returns,
    including keys that were deleted or never existed."""
    from rust_dms_cdc_operator_spark.streaming.cdc_stream import (
        BucketedParquetState,
    )

    rows = [("I", f"a{i % 7}", i, f"v{i}", 1) for i in range(200)]
    schema = "Op string, acct string, line long, val string, seq long"
    for pk in (["line"], ["acct", "line"], ["line", "acct"]):
        store = BucketedParquetState(
            str(tmp_path / "_".join(pk) / "state"), pk, 8
        )
        store.merge_batch(spark.createDataFrame(rows, schema), order_cols=["seq"])
        store.merge_batch(
            spark.createDataFrame([("D", "a3", 3, None, 2)], schema),
            order_cols=["seq"],
        )
        by_col = {"acct": lambda i: f"a{i % 7}", "line": lambda i: i}
        keys = [tuple(by_col[c](i) for c in pk) for i in (0, 3, 64, 199, 500)]
        want = {
            r.val
            for r in store.read(spark)
            .join(spark.createDataFrame(keys, ", ".join(
                f"{c} {'string' if c == 'acct' else 'long'}" for c in pk
            )), pk, "left_semi")
            .collect()
        }
        assert want == {"v0", "v64", "v199"}
        assert {r.val for r in store.lookup(spark, keys).collect()} == want


def test_lookup_timestamp_key_matches_full_state_filter(spark, tmp_path):
    """Timestamp primary keys, as PySpark hands them back (naive
    datetimes in the host's time zone), look up exactly the rows a
    full-state semi-join against the same keys returns, on a host whose
    time zone is not the session's (UTC)."""
    import datetime as dt
    import time

    from rust_dms_cdc_operator_spark.streaming.cdc_stream import (
        BucketedParquetState,
    )

    schema = "Op string, acct string, ts timestamp, val string, seq long"
    base = dt.datetime(2024, 1, 15, tzinfo=dt.timezone.utc)
    rows = [
        ("I", f"a{i % 3}", base + dt.timedelta(hours=i), f"v{i}", 1)
        for i in range(48)
    ]
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        for pk in (["ts"], ["acct", "ts"]):
            store = BucketedParquetState(
                str(tmp_path / "_".join(pk) / "state"), pk, 8
            )
            store.merge_batch(
                spark.createDataFrame(rows, schema), order_cols=["seq"]
            )
            state = store.read(spark)
            by_val = {r.val: tuple(r[c] for c in pk) for r in state.collect()}
            keys = [by_val[v] for v in ("v0", "v5", "v47")]
            keys.append(tuple(
                dt.datetime(2030, 1, 1) if c == "ts" else "a0" for c in pk
            ))
            keys_df = spark.createDataFrame(keys, ", ".join(
                f"{c} {'timestamp' if c == 'ts' else 'string'}" for c in pk
            ))
            want = {
                r.val for r in state.join(keys_df, pk, "left_semi").collect()
            }
            assert want == {"v0", "v5", "v47"}
            assert {r.val for r in store.lookup(spark, keys).collect()} == want
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()


def _state_rows(df) -> set:
    return {(r.id, r.val, r.seq) for r in df.collect()}


def _apply(model: dict, rows) -> dict:
    """Last-writer-wins over one batch in ``seq`` order: the reference
    semantics merge-on-read has to reproduce."""
    out = dict(model)
    for op, key, val, seq in sorted(rows, key=lambda r: r[3]):
        if op == "D":
            out.pop(key, None)
        else:
            out[key] = (val, seq)
    return out


def test_merge_on_read_matches_last_writer_wins_model(spark, tmp_path, monkeypatch):
    """Commits through deltas and folds read exactly what a sequential
    last-writer-wins replay holds, after every commit and at the
    retained previous epoch: re-insert after delete, deletes of keys
    never seen (in a bucket with and without an entry), a key's last
    batch event winning, and a fold as buckets cross ``FOLD_DELTAS``."""
    from rust_dms_cdc_operator_spark.streaming import cdc_stream

    monkeypatch.setattr(cdc_stream, "FOLD_DELTAS", 2)
    store = BucketedParquetState(str(tmp_path / "mor" / "state"), ["id"], 4)
    batches = [
        [("I", k, f"a{k}", 1) for k in range(20)] + [("D", 500, None, 1)],
        [("D", 3, None, 2), ("D", 4, None, 2), ("D", 99, None, 2), ("U", 5, "b5", 2)],
        [("I", 3, "c3", 3), ("U", 5, "c5", 3), ("D", 6, None, 3)],
        [("U", k, f"d{k}", 4) for k in range(0, 20, 2)]
        + [("D", 5, None, 4), ("I", 5, "d5", 5)],
        [("D", k, None, 6) for k in range(10, 20)],
        [("I", 15, "f15", 7), ("D", 0, None, 7), ("U", 6, "f6", 7)],
    ]
    model: dict = {}
    folded = 0
    for epoch, rows in enumerate(batches, start=1):
        prev = model
        model = _apply(model, rows)
        assert store.merge_batch(
            spark.createDataFrame(rows, schema=SCHEMA), order_cols=["seq"]
        )
        want = {(k, v, s) for k, (v, s) in model.items()}
        assert _state_rows(store.read(spark)) == want, epoch
        if epoch > 1:
            assert _state_rows(store.read(spark, epoch=epoch - 1)) == {
                (k, v, s) for k, (v, s) in prev.items()
            }, epoch
        probes = [3, 5, 6, 15, 99, 500]
        assert _state_rows(store.lookup(spark, [(k,) for k in probes])) == {
            r for r in want if r[0] in probes
        }, epoch
        man = store.log.load()
        assert all(
            len(e["deltas"]) <= cdc_stream.FOLD_DELTAS for e in man["buckets"].values()
        )
        folded += store.stats()["buckets_folded"]
    assert folded > 0
    store.compact(spark)
    assert all(not e["deltas"] for e in store.log.load()["buckets"].values())
    assert _state_rows(store.read(spark)) == {(k, v, s) for k, (v, s) in model.items()}


def test_parent_format_manifest_reads_merges_and_compacts(spark, tmp_path):
    """A state committed with plain string bucket entries and base
    files without the delta columns (the copy-on-write layout) reads,
    merges on top and compacts as base-only buckets."""
    from rust_dms_cdc_operator_spark.streaming.cdc_stream import (
        BUCKET_COL,
        write_buckets,
    )

    root = str(tmp_path / "old" / "state")
    store = BucketedParquetState(root, ["id"], 4)
    rows = spark.createDataFrame(
        [(k, f"v{k}", 1) for k in range(30)], "id long, val string, seq long"
    )
    gen = "e1-0000beef"
    staged = write_buckets(
        rows.withColumn(BUCKET_COL, store._bucket(4)), 4,
        os.path.join(root, "data", gen),
    )
    os.makedirs(os.path.join(root, "_manifests"))
    with open(os.path.join(root, "_manifests", f"{1:020d}.json"), "w") as fh:
        json.dump({
            "epoch": 1,
            "num_buckets": 4,
            "schema": rows.schema.json(),
            "buckets": {b: f"data/{gen}/{BUCKET_COL}={b}" for b in staged},
            "stats": {"kind": "merge", "keys_upserted": 30, "keys_deleted": 0,
                      "buckets_touched": len(staged), "wall_ms": 0},
        }, fh)
    model = {k: (f"v{k}", 1) for k in range(30)}
    assert _state_rows(store.read(spark)) == {(k, v, s) for k, (v, s) in model.items()}

    batch = [("U", 4, "u4", 2), ("D", 5, None, 2), ("I", 40, "n40", 2)]
    store.merge_batch(spark.createDataFrame(batch, schema=SCHEMA), order_cols=["seq"])
    model = _apply(model, batch)
    want = {(k, v, s) for k, (v, s) in model.items()}
    assert _state_rows(store.read(spark)) == want
    assert _state_rows(store.lookup(spark, [(4,), (5,), (40,), (7,)])) == {
        r for r in want if r[0] in (4, 5, 40, 7)
    }
    # the parent's base dirs stay referenced under the new entry format
    entries = store.log.load()["buckets"].values()
    assert {e["base"].split("/")[1] for e in entries if e["base"]} == {gen}
    store.compact(spark, new_num_buckets=2)
    assert _state_rows(store.read(spark)) == want


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def test_small_commit_into_large_state_writes_a_small_delta(spark, tmp_path):
    """A commit costs O(batch), not O(state): 1k events into a 1M-row
    state write under 5% of the state's bytes."""
    root = str(tmp_path / "big" / "state")
    store = BucketedParquetState(root, ["id"], 16)
    store.merge_batch(
        spark.range(1_000_000).select(
            F.lit("I").alias("Op"),
            F.col("id"),
            F.concat(F.lit("v"), F.col("id").cast("string")).alias("val"),
            F.lit(1).cast("long").alias("seq"),
        ),
        order_cols=["seq"],
    )
    data = os.path.join(root, "data")
    state_bytes = _tree_bytes(data)
    before = set(os.listdir(data))
    store.merge_batch(
        spark.range(0, 1_000_000, 1_000).select(
            F.lit("U").alias("Op"),
            F.col("id"),
            F.lit("u").alias("val"),
            F.lit(2).cast("long").alias("seq"),
        ),
        order_cols=["seq"],
    )
    new = set(os.listdir(data)) - before
    written = sum(_tree_bytes(os.path.join(data, g)) for g in new)
    assert store.stats()["keys_upserted"] == 1_000
    assert 0 < written < 0.05 * state_bytes, (written, state_bytes)
    got = {(r.id, r.val) for r in store.lookup(spark, [(0,), (1,), (999_000,)]).collect()}
    assert got == {(0, "u"), (1, "v1"), (999_000, "u")}


def test_lookup_builds_without_a_spark_job(spark, tmp_path):
    """Building a lookup frame launches no Spark job: the keys' bucket
    ids collect from a local relation, and the bucket reads are lazy."""
    from tests.cdc_fixtures import group_job_ids

    store = BucketedParquetState(str(tmp_path / "nj" / "state"), ["id"], 8)
    for seq in (1, 2):
        store.merge_batch(
            spark.createDataFrame(
                [("U", i, f"v{i}.{seq}", seq) for i in range(0, 60, seq)],
                schema=SCHEMA,
            ),
            order_cols=["seq"],
        )
    with group_job_ids(spark.sparkContext, "lookup-build") as jobs:
        df = store.lookup(spark, [(3,), (4,), (17,)])
    assert jobs == []
    assert {(r.id, r.val) for r in df.collect()} == {
        (3, "v3.1"), (4, "v4.2"), (17, "v17.1")
    }


@pytest.mark.parametrize("sf_path", ["absolute", "relative"])
def test_stream_query_scratch_dirs_removed_at_exit(tmp_path, sf_path):
    """A one-shot streaming query makes its source, output and
    checkpoint dirs under the temp dir; none of them is left once the
    process that ran it has exited. A relative ``sf_dir`` (resolved
    against the working dir) reads the same table: its source links
    must not dangle."""
    import subprocess
    import sys

    sf = tmp_path / "sf"
    sf_arg = str(sf) if sf_path == "absolute" else "sf"
    sf.mkdir()
    pq.write_table(
        pa.table({"doc_id": pa.array(range(6), pa.int64()),
                  "text": ["a b", "c d", "a b", "e f", "c d", "g h"]}),
        str(sf / "documents.parquet"),
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    prefixes = ("dedup_stream_src_", "dedup_stream_out_",
                "dedup_stream_ck_")
    script = f"""
import os, sys
sys.path.insert(0, {repo!r})
from rust_dms_cdc_operator_spark.inventory_llm import q_stream_dedup
from rust_dms_cdc_operator_spark.session import get_spark

spark = get_spark(app_name="scratch-dirs", master="local[2]",
                  shuffle_partitions=2)
assert q_stream_dedup(spark, {sf_arg!r}).count() == 4
made = [d for _, ds, _ in os.walk({str(tmp_path)!r}) for d in ds
        if d.startswith({prefixes!r})]
print("MADE", len(made))
"""
    proc = subprocess.run(
        [sys.executable, "-c", script],
        env={**os.environ, "TMPDIR": str(tmp_path)},
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert "MADE 3" in proc.stdout, (proc.stdout[-2000:], proc.stderr[-3000:])
    left = [p for p in tmp_path.rglob("*") if p.name.startswith(prefixes)]
    assert left == []


def test_drain_failing_handler_keeps_committed_batches(spark, tmp_path):
    """A handler that raises fails ``drain`` with a
    StreamingQueryException carrying its message; the batch committed
    before it keeps its effect and no stream is left active."""
    src = tmp_path / "src"
    src.mkdir()
    _write(str(src / "a.parquet"), [("I", 1, "a", 1)], 1_700_000_000)
    _write(str(src / "b.parquet"), [("I", 2, "b", 2)], 1_700_000_010)
    out = str(tmp_path / "out")
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    done: list[int] = []

    def handle(batch, bid):
        if done:
            raise RuntimeError("second batch refused")
        batch.write.parquet(out)
        done.append(bid)

    with pytest.raises(StreamingQueryException, match="second batch refused"):
        drain(stream, handle, str(tmp_path / "ck"))
    assert [r.id for r in spark.read.parquet(out).collect()] == [1]
    assert spark.streams.active == []


def test_check_oracle_stream_queries():
    """`check_oracle.py` on every registered streaming query at
    sf0.001: each stream drain must reproduce its DuckDB oracle."""
    import subprocess
    import sys

    from rust_dms_cdc_operator_spark.inventory import QUERIES
    from tests.test_diff import SF_DIR

    names = sorted(n for n in QUERIES if n.startswith("stream_"))
    assert len(names) == 9, names
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [sys.executable, "tools/check_oracle.py",
         "--sf-dir", SF_DIR, *names],
        capture_output=True, text=True, cwd=repo, timeout=900,
    )
    assert r.returncode == 0, (r.stdout[-3000:], r.stderr[-3000:])
    assert "9/9 queries match" in r.stdout
