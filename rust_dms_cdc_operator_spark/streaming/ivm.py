"""Incremental view maintenance (IVM) over a ``BucketedParquetState``.

A materialized aggregate whose refresh cost is bounded by the CDC
churn, not the table size: the state table is hash-bucketed by PK and
every merge epoch appends a delta ONLY to the buckets its batch wrote
(`cdc_stream.py`), so a bucket's manifest entry — its
``{"base", "deltas"}`` dirs — doubles as a change vector: if the entry
recorded at the last refresh still matches, every row in the bucket
is unchanged and its per-bucket partial aggregate carries forward BY
REFERENCE. Refresh therefore:

1. diffs the state manifest's bucket → entry map against the snapshot
   recorded in the view's own manifest (driver-side, O(buckets)); a
   refresh that finds no stale or dropped bucket commits nothing;
2. recomputes partial aggregates for the stale buckets only — one
   merged read of those buckets' base and deltas, one (bucket, group)
   aggregation;
3. commits a new view manifest through the state's commit log
   (``cdc_stream._ManifestLog``, data subdir ``aggs``, manifest field
   ``agg_buckets``) — atomic on local/HDFS/s3a, crash-safe, GC by
   manifest retention.

`result()` re-aggregates the per-bucket partials — O(buckets x
groups) rows, never O(state). Only decomposable aggregates are
supported (count/sum/min/max), because their partials re-aggregate
EXACTLY: count re-aggregates as sum, sum as sum, min as min, max as
max. (avg = sum/count at read time; distinct counts need a sketch —
see operators/sketch.py KMV/CMS.)

This is the materialized-view story the reference's validate-loop
hints at (recompute everything, compare) done incrementally: at
100 TB with 1% daily churn, refresh touches ~1% of buckets.
"""

from __future__ import annotations

import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rust_dms_cdc_operator_spark import fsio
from rust_dms_cdc_operator_spark.session import local_relation
from rust_dms_cdc_operator_spark.streaming.cdc_stream import (
    BUCKET_COL,
    BucketedParquetState,
    _ManifestLog,
    bucket_entry,
    committed_schema,
    write_buckets,
)

#: measure -> (partial expr builder, re-agg fn name)
_SUPPORTED = {"count", "sum", "min", "max"}
_REAGG = {"count": "sum", "sum": "sum", "min": "min", "max": "max"}


class IncrementalAggView:
    """Materialized ``group_cols`` aggregate over a bucketed state.

    ``measures`` maps output alias -> (fn, col) with fn in
    count/sum/min/max; for count the col is ignored.
    """

    def __init__(
        self,
        state: BucketedParquetState,
        path: str,
        group_cols: Sequence[str],
        measures: dict[str, tuple[str, str]],
    ):
        for alias, (fn, _col) in measures.items():
            if fn not in _SUPPORTED:
                raise ValueError(
                    f"measure {alias!r}: {fn!r} is not decomposable "
                    f"(supported: {sorted(_SUPPORTED)}); express avg as "
                    "sum/count and distinct via a sketch"
                )
        self.state = state
        self.path = path
        self.group_cols = list(group_cols)
        self.measures = dict(measures)
        self.log = _ManifestLog(path, "aggs", "agg_buckets")

    # -- partial-aggregate expressions -------------------------------
    def _partial_exprs(self) -> list:
        out = []
        for alias, (fn, col) in self.measures.items():
            if fn == "count":
                out.append(F.count(F.lit(1)).cast("long").alias(alias))
            else:
                out.append(getattr(F, fn)(F.col(col)).alias(alias))
        return out

    def _reagg_exprs(self) -> list:
        out = []
        for alias, (fn, _col) in self.measures.items():
            expr = getattr(F, _REAGG[fn])(F.col(alias))
            if fn == "count":
                expr = expr.cast("long")
            out.append(expr.alias(alias))
        return out

    # -- the IVM core ------------------------------------------------
    def refresh(self, spark: SparkSession) -> dict:
        """Bring the view up to the state's current epoch. Returns
        stats: buckets recomputed / carried / dropped. A refresh with
        nothing stale or dropped publishes no view epoch."""
        sman = self.state.log.load()
        if sman is None:
            raise FileNotFoundError(
                f"state at {self.state.path} has no committed manifest"
            )
        vman = self.log.load()
        prev_map = {
            b: bucket_entry(e)
            for b, e in (vman["state_buckets"] if vman else {}).items()
        }
        cur_map = {b: bucket_entry(e) for b, e in sman["buckets"].items()}
        agg_dirs: dict = dict(vman["agg_buckets"]) if vman else {}

        # change vector: a bucket whose entry moved (a new delta, base
        # or fold) is stale; a bucket absent from the state lost its
        # every key
        stale = sorted(b for b, e in cur_map.items() if prev_map.get(b) != e)
        dropped = sorted(b for b in agg_dirs if b not in cur_map)
        stats = {
            "state_epoch": sman["epoch"],
            "buckets_recomputed": len(stale),
            "buckets_carried": len(agg_dirs) - len(dropped) - len(
                {b for b in stale if b in agg_dirs}
            ),
            "buckets_dropped": len(dropped),
        }
        if vman is not None and not stale and not dropped:
            return stats
        # a stale bucket whose keys are all deleted stages no partials,
        # so its old ones must not carry forward
        for b in dropped + stale:
            agg_dirs.pop(b, None)

        if stale:
            df = self.state._live(spark, sman, [cur_map[b] for b in stale])
            # recompute the bucket id from the PK (the state's own
            # expression) — partition dirs don't carry the column
            df = df.withColumn(
                BUCKET_COL, self.state._bucket(sman["num_buckets"])
            )
            partials = df.groupBy(BUCKET_COL, *self.group_cols).agg(
                *self._partial_exprs()
            )
            gen = f"v{uuid.uuid4().hex[:8]}"
            gen_dir = fsio.join(self.path, "aggs", gen)
            for b in write_buckets(partials, len(stale), gen_dir):
                agg_dirs[b] = f"aggs/{gen}/{BUCKET_COL}={b}"

        self.log.commit(
            {
                "epoch": (vman["epoch"] + 1) if vman else 1,
                "state_epoch": sman["epoch"],
                "state_buckets": cur_map,
                "agg_buckets": agg_dirs,
            }
        )
        return stats

    def result(self, spark: SparkSession) -> DataFrame:
        """The materialized aggregate: re-aggregate the per-bucket
        partials (O(buckets x groups) input rows, never O(state))."""
        vman = self.log.load()
        if vman is None:
            raise FileNotFoundError(
                f"view at {self.path} has never been refreshed"
            )
        if not vman["agg_buckets"]:
            # state is empty: an empty frame with the result schema
            return local_relation(spark, [], self._result_schema(spark))
        dirs = [
            fsio.join(self.path, rel)
            for rel in sorted(set(vman["agg_buckets"].values()))
        ]
        partials = spark.read.parquet(*dirs)
        return partials.groupBy(*self.group_cols).agg(*self._reagg_exprs())

    def _result_schema(self, spark: SparkSession):
        schema = committed_schema(self.state.log.load())
        fields = [schema[c] for c in self.group_cols]
        for alias, (fn, col) in self.measures.items():
            if fn == "count":
                fields.append(T.StructField(alias, T.LongType()))
            else:
                fields.append(T.StructField(alias, schema[col].dataType))
        return T.StructType(fields)
