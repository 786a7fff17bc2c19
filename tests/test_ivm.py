"""IncrementalAggView: refresh cost bounded by churn (only touched
buckets recompute), carry-forward by reference, dropped-bucket
handling, exact parity with a full recompute at every epoch."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rust_dms_cdc_operator_spark.streaming.cdc_stream import (
    BucketedParquetState,
)
from rust_dms_cdc_operator_spark.streaming.ivm import IncrementalAggView


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "k long, grp string, v long, seq long, Op string"
    )


def _mk(spark, tmp_path, num_buckets=16):
    state = BucketedParquetState(
        str(tmp_path / "state"), ["k"], num_buckets=num_buckets
    )
    view = IncrementalAggView(
        state,
        str(tmp_path / "view"),
        ["grp"],
        {"n": ("count", "*"), "total": ("sum", "v"), "hi": ("max", "v")},
    )
    return state, view


def _expect(state, spark):
    return {
        (r.grp, r.n, r.total, r.hi)
        for r in state.read(spark)
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("v").alias("total"),
            F.max("v").alias("hi"),
        )
        .collect()
    }


def _got(view, spark):
    return {
        (r.grp, r.n, r.total, r.hi)
        for r in view.result(spark).collect()
    }


def test_refresh_parity_and_incrementality(spark, tmp_path):
    state, view = _mk(spark, tmp_path)
    rows1 = [(k, "a" if k % 2 else "b", k * 10, 1, "U") for k in range(40)]
    state.merge_batch(_batch(spark, rows1), order_cols=["seq"])
    s1 = view.refresh(spark)
    assert s1["buckets_recomputed"] > 0
    assert _got(view, spark) == _expect(state, spark)

    # second epoch touches exactly one key -> at most one bucket
    state.merge_batch(
        _batch(spark, [(7, "a", 999, 2, "U")]), order_cols=["seq"]
    )
    s2 = view.refresh(spark)
    assert s2["buckets_recomputed"] == 1
    assert _got(view, spark) == _expect(state, spark)

    # no-op refresh: nothing stale, so no view epoch is published
    epochs = view.log.epochs()
    s3 = view.refresh(spark)
    assert s3["buckets_recomputed"] == 0
    assert view.log.epochs() == epochs
    assert _got(view, spark) == _expect(state, spark)


def test_deletes_and_dropped_buckets(spark, tmp_path):
    state, view = _mk(spark, tmp_path, num_buckets=4)
    rows = [(k, "g", k, 1, "U") for k in range(12)]
    state.merge_batch(_batch(spark, rows), order_cols=["seq"])
    view.refresh(spark)
    # delete every key: buckets vanish from the state manifest
    dels = [(k, "g", k, 2, "D") for k in range(12)]
    state.merge_batch(_batch(spark, dels), order_cols=["seq"])
    stats = view.refresh(spark)
    assert stats["buckets_dropped"] + stats["buckets_recomputed"] > 0
    assert view.result(spark).count() == 0


def test_unsupported_measure_rejected(spark, tmp_path):
    state = BucketedParquetState(str(tmp_path / "s"), ["k"])
    with pytest.raises(ValueError, match="not decomposable"):
        IncrementalAggView(
            state, str(tmp_path / "v"), ["grp"], {"a": ("avg", "v")}
        )


def test_unrefreshed_view_raises(spark, tmp_path):
    state, view = _mk(spark, tmp_path)
    with pytest.raises(FileNotFoundError, match="never been refreshed"):
        view.result(spark)


def test_streaming_materialized_view(spark, tmp_path):
    """The streaming seam: stream_replay_bucketed(after_merge=...)
    refreshes the view after EVERY committed microbatch; the final
    view equals the batch aggregate over the final state, and the
    refreshes were incremental (second one recomputes only touched
    buckets)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from rust_dms_cdc_operator_spark.streaming.cdc_stream import (
        stream_replay_bucketed,
    )

    src = tmp_path / "src"
    src.mkdir()
    # two time-ordered files -> two microbatches (mtime order)
    rows1 = {"k": list(range(30)), "grp": ["a" if k % 3 else "b" for k in range(30)],
             "v": [k * 2 for k in range(30)], "seq": [1] * 30,
             "Op": ["U"] * 30}
    rows2 = {"k": [3, 4], "grp": ["a", "a"], "v": [1000, 2000],
             "seq": [2, 2], "Op": ["U", "D"]}
    for i, rows in enumerate((rows1, rows2)):
        p = src / f"f{i}.parquet"
        pq.write_table(pa.table({k: pa.array(v) for k, v in rows.items()}), str(p))
        os.utime(p, (1000 + i, 1000 + i))

    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("grp", T.StringType()),
        T.StructField("v", T.LongType()),
        T.StructField("seq", T.LongType()),
        T.StructField("Op", T.StringType()),
    ])

    stats = []
    views = {}

    def hook(store, sess):
        if "view" not in views:
            views["view"] = IncrementalAggView(
                store, str(tmp_path / "view"), ["grp"],
                {"n": ("count", "*"), "total": ("sum", "v")},
            )
        stats.append(views["view"].refresh(sess))

    final = stream_replay_bucketed(
        spark, str(src), schema,
        pk_cols=["k"], order_cols=["seq"],
        state_dir=str(tmp_path / "st"), num_buckets=16,
        max_files_per_trigger=1, after_merge=hook,
    )
    assert len(stats) == 2
    # second batch touched <= 2 keys -> <= 2 buckets recomputed
    assert stats[1]["buckets_recomputed"] <= 2
    got = {(r.grp, r.n, r.total)
           for r in views["view"].result(spark).collect()}
    exp = {(r.grp, r.n, r.total)
           for r in final.groupBy("grp").agg(
               F.count(F.lit(1)).cast("long").alias("n"),
               F.sum("v").alias("total")).collect()}
    assert got == exp


def test_orphan_generation_reaped(spark, tmp_path):
    """Crash-safety: a generation dir written but never referenced by
    a committed manifest (crash between stage and publish) is garbage
    the next refresh's GC removes — the state store's own contract,
    inherited by the view."""
    import os

    state, view = _mk(spark, tmp_path, num_buckets=4)
    state.merge_batch(
        _batch(spark, [(k, "g", k, 1, "U") for k in range(8)]),
        order_cols=["seq"],
    )
    view.refresh(spark)
    # simulate a crashed refresh: an orphan generation dir
    orphan = tmp_path / "view" / "aggs" / "vdeadbeef"
    orphan.mkdir(parents=True)
    (orphan / "junk").write_text("crashed stage")
    # churn one key -> next refresh commits + GCs
    state.merge_batch(
        _batch(spark, [(1, "g", 99, 2, "U")]), order_cols=["seq"]
    )
    view.refresh(spark)
    view.refresh(spark)  # second commit pushes retention past the orphan
    assert not orphan.exists()
    assert _got(view, spark) == _expect(state, spark)
