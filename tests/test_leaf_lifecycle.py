"""Leaf/cache lifecycle at the public-API layer: a materialize_leaf
block set lives as long as its frame — a caller that drops the frame
gets the blocks back from the ContextCleaner, with no release call and
no whole-session sweep — and the harness sweep still frees live leaves
at once. materialize_cache keeps lineage, so its blocks must survive
eviction semantics (recomputable) and clearCache() must fully release
them."""

from __future__ import annotations

import gc
import time

from pyspark.sql import functions as F

from rust_dms_cdc_operator_spark.session import (
    materialize_cache,
    materialize_leaf,
    release_persistent_rdds,
)


def _n_persistent(spark) -> int:
    # RDDInfo holds no RDD reference. getPersistentRDDs() would return
    # a map that pins every persisted RDD until py4j's finalizer thread
    # releases the handle, so polling it would itself keep a dropped
    # leaf alive across the next GC.
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def _clean(spark) -> None:
    spark.catalog.clearCache()
    release_persistent_rdds(spark)


def _reclaimed_within(spark, timeout_s: float = 60.0) -> bool:
    """Poll until no RDD is persisted: each round collects Python
    garbage (py4j then drops its JVM handles) and requests a JVM GC,
    after which the ContextCleaner unpersists unreachable RDDs."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        gc.collect()
        spark._jvm.java.lang.System.gc()
        if _n_persistent(spark) == 0:
            return True
        time.sleep(0.5)
    return False


def test_leaf_blocks_released_by_caller(spark):
    _clean(spark)
    assert _n_persistent(spark) == 0
    leaf = materialize_leaf(spark.range(500).selectExpr("id", "id % 3 as k"))
    assert leaf.count() == 500
    # the checkpoint's block set is live while the frame is...
    assert _n_persistent(spark) >= 1
    # ...and dropping the frame is the release: nothing else pins it
    del leaf
    assert _reclaimed_within(spark)


def test_harness_sweep_frees_live_leaves(spark):
    _clean(spark)
    leaf = materialize_leaf(spark.range(100))
    assert leaf.count() == 100
    assert release_persistent_rdds(spark) >= 1
    assert _n_persistent(spark) == 0


def test_query_action_leaves_no_persistent_rdds(spark, tmp_path):
    """Public-API contract: run a capped graph query end-to-end (it
    routes its pair stream through materialize_leaf), then clearCache
    plus dropping the frames restores a clean session without a
    harness sweep."""
    from rust_dms_cdc_operator_spark.operators.dedup import minhash_lsh_pairs
    from rust_dms_cdc_operator_spark.operators.graph import pagerank_undirected

    _clean(spark)
    docs = spark.createDataFrame(
        [(i, f"text {i % 7} shared tokens between documents") for i in range(64)],
        "doc_id long, text string",
    )
    pairs = materialize_leaf(
        minhash_lsh_pairs(docs, "doc_id", "text", num_hashes=16, bands=2)
    )
    pr = pagerank_undirected(pairs, iters=2, assume_distinct=True)
    pr.write.format("noop").mode("overwrite").save()
    assert _n_persistent(spark) >= 1
    spark.catalog.clearCache()  # operator-owned persists (adjacency, deg)
    del pairs, pr  # the leaf's blocks go with the frames
    assert _reclaimed_within(spark)


def test_cache_keeps_lineage_and_clears(spark):
    _clean(spark)
    df = spark.range(200).selectExpr("id", "id % 5 as k")
    c = materialize_cache(df)
    # eager: materialized before any consumer
    assert c.storageLevel.useMemory
    assert c.groupBy("k").agg(F.count("*")).count() == 5
    spark.catalog.clearCache()
    assert _n_persistent(spark) == 0
    # lineage kept: the frame still computes after release
    assert c.count() == 200


def test_release_persistent_rdds_refuses_active_streams(spark, tmp_path, caplog):
    """Under a live stream the sweep warns, releases nothing and
    returns 0: a checkpointed frame (truncated lineage, so it could
    not recompute) stays readable. Once the stream stops, the sweep
    runs again."""
    _clean(spark)
    leaf = materialize_leaf(spark.range(100).selectExpr("id", "id % 7 as k"))
    src = tmp_path / "src"
    src.mkdir()
    spark.range(5).write.mode("overwrite").parquet(str(src))
    stream = (
        spark.readStream.schema("id long")
        .parquet(str(src))
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        with caplog.at_level("WARNING"):
            assert release_persistent_rdds(spark) == 0
        assert "skipping the sweep" in caplog.text
        assert _n_persistent(spark) >= 1
        assert leaf.count() == 100
    finally:
        stream.stop()
        stream.awaitTermination()
    assert release_persistent_rdds(spark) >= 1  # sweeps once stopped
    assert _n_persistent(spark) == 0
