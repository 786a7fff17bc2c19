"""Manifest → DataFrame: one vectorized Parquet scan with replay order.

Covers SURVEY §2.1 S1 (parity: /root/reference/src/dataframe/
dataframe_ops.rs:48-87) — but scale-first: where the reference GETs
whole objects into RAM one file at a time, we hand the *entire*
manifest to a single ``spark.read.parquet(*paths)`` so the scan is
one distributed job (vectorized reader, row-group splits, predicate
pushdown), and recover per-file replay order from Spark's hidden
``_metadata`` columns instead of looping:

- ``_cdc_file_seq``: the file's rank in the manifest order (LOAD
  first, then CDC in key order) — joined in from a broadcast map of
  path → rank, so no shuffle of the fact data.
- ``_cdc_row_seq``: ``_metadata.row_index``, the row's position within
  its file — reproduces the reference's row-by-row apply order.
- ``_cdc_is_load``: LOAD/CDC classification (S5).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rust_dms_cdc_operator_spark import fsio
from rust_dms_cdc_operator_spark.session import conf_bytes, local_relation
from rust_dms_cdc_operator_spark.sources.manifest import ParquetFile

FILE_SEQ_COL = "_cdc_file_seq"
ROW_SEQ_COL = "_cdc_row_seq"
IS_LOAD_COL = "_cdc_is_load"


def _absolute(root: str, key: str) -> str:
    if fsio.is_uri(key) or key.startswith("/"):
        return key
    return fsio.join(root, key)


def _norm_path(p: str) -> str:
    """The exact normalization applied to ``_metadata.file_path`` on
    the Spark side, so the python-side rank map joins against it:
    ``file:`` URIs collapse to plain absolute paths, other URI schemes
    pass through verbatim, relative local paths become absolute."""
    if p.startswith("file:"):
        return re.sub("^file:/+", "/", p)
    if fsio.is_uri(p):
        return p
    return os.path.abspath(p)


def _conf_bytes(spark: SparkSession, jgetter: str, key: str, default: int) -> int:
    """A byte-size SQL conf as Spark resolves it (the JVM getter), or,
    where the getter is unavailable, the conf string parsed by
    :func:`session.conf_bytes`."""
    try:
        return int(getattr(spark._jsparkSession.sessionState().conf(), jgetter)())
    except Exception:  # noqa: BLE001 - getter missing on this Spark build
        return conf_bytes(spark.conf.get(key, str(default)), default)


def _effective_max_split_bytes(spark: SparkSession, sizes: list[int]) -> int:
    """Reproduce FilePartition.maxSplitBytes: splits are NOT simply
    bounded by maxPartitionBytes — a small scan on a parallel cluster
    splits at max(openCostInBytes, totalBytes/defaultParallelism), so
    a 10 MB file on local[8] with defaults splits at 4 MB."""
    max_part = _conf_bytes(
        spark, "filesMaxPartitionBytes",
        "spark.sql.files.maxPartitionBytes", 134_217_728,
    )
    open_cost = _conf_bytes(
        spark, "filesOpenCostInBytes",
        "spark.sql.files.openCostInBytes", 4_194_304,
    )
    total = sum(s + open_cost for s in sizes)
    parallelism = max(1, spark.sparkContext.defaultParallelism)
    bytes_per_core = total // parallelism
    return min(max_part, max(open_cost, bytes_per_core))


def _check_csv_unsplit(spark: SparkSession, paths: list[str]) -> None:
    """Enforce the CSV replay-order precondition instead of documenting
    it: ``monotonically_increasing_id`` is only monotone with a file's
    row order if the file maps to ONE input split (Spark orders splits
    by size, not offset, so a split file scrambles ``_cdc_row_seq`` and
    with it last-writer-wins compaction). Gzipped CSV is unsplittable;
    plain CSV must fit in the EFFECTIVE split size Spark will actually
    use (min(maxPartitionBytes, max(openCost, bytesPerCore))), not
    just maxPartitionBytes. Sizes resolve through :mod:`fsio`, so
    remote (s3a/hdfs) drops are enforced too, not skipped."""
    sizes = [
        fsio.getsize(p)
        for p in paths
        if not p.endswith(".gz") and fsio.exists(p)
    ]
    if not sizes:
        return
    limit = _effective_max_split_bytes(spark, sizes)
    for p in paths:
        if p.endswith(".gz") or not fsio.exists(p):
            continue  # unsplittable / not yet visible
        size = fsio.getsize(p)
        if size > limit:
            raise ValueError(
                f"CSV file {p} is {size} bytes > effective maxSplitBytes="
                f"{limit}: Spark would split it and scramble replay order. "
                "Raise spark.sql.files.maxPartitionBytes/openCostInBytes "
                "so one split covers the largest CSV (or gzip the drop)."
            )


def read_manifest(
    spark: SparkSession,
    root: str,
    files: list[ParquetFile],
    merge_schema: bool = False,
    fmt: str = "parquet",
    schema=None,
    csv_options: dict[str, str] | None = None,
) -> DataFrame:
    """Read an ordered manifest as ONE scan, annotated with replay order.

    The (path → rank) map is tiny (one row per file) and broadcast, so
    sequencing adds no shuffle regardless of data size. A session from
    :func:`session.get_spark` in local mode lists the paths on the
    driver; a cluster session lists more than 32 paths with a
    distributed Spark job.

    ``fmt="csv"`` supports DMS's CSV target format (a drop the
    reference's parquet-only reader cannot replay). CSV needs an
    explicit ``schema`` (DMS CSV files are headerless by default —
    pass ``csv_options={"header": "true"}`` otherwise) and has no
    ``_metadata.row_index``; the intra-file row sequence falls back to
    ``monotonically_increasing_id``, which is monotone within a file
    only when each CSV file maps to one input split — ENFORCED here:
    an uncompressed CSV larger than
    ``spark.sql.files.maxPartitionBytes`` raises instead of silently
    scrambling replay order (DMS CDC files are small; the default
    128 MB comfortably covers them).
    """
    if not files:
        raise ValueError("empty manifest")
    paths = [_absolute(root, f.key) for f in files]
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    # normalize "file:///x" and "file:/x" to "/x" so the python-side map
    # (plain absolute paths) joins against it; object-store URIs pass through
    # materialize both hidden-metadata projections BEFORE any join —
    # `_metadata` is only resolvable directly against the file relation
    if fmt == "csv":
        if schema is None:
            raise ValueError("csv manifests require an explicit schema")
        _check_csv_unsplit(spark, paths)
        for k, v in (csv_options or {}).items():
            reader = reader.option(k, v)
        df = reader.schema(schema).csv(list(paths)).withColumns(
            {
                "_file_path": F.regexp_replace(
                    F.col("_metadata.file_path"), "^file:/+", "/"
                ),
                ROW_SEQ_COL: F.monotonically_increasing_id(),
            }
        )
    elif fmt == "parquet":
        df = reader.parquet(*paths).withColumns(
            {
                "_file_path": F.regexp_replace(
                    F.col("_metadata.file_path"), "^file:/+", "/"
                ),
                ROW_SEQ_COL: F.col("_metadata.row_index"),
            }
        )
    else:
        raise ValueError(f"unsupported manifest format: {fmt!r}")

    rank_rows = [
        (_norm_path(p), i, files[i].is_load_file()) for i, p in enumerate(paths)
    ]
    # Arrow local relation: this broadcast build side is evaluated
    # JVM-side in every manifest-reading query, with no Python-worker
    # hop per evaluation (see session.local_relation)
    rank_df = local_relation(
        spark,
        rank_rows,
        f"_file_path string, {FILE_SEQ_COL} long, {IS_LOAD_COL} boolean",
    )
    return df.join(F.broadcast(rank_df), "_file_path", "left").drop("_file_path")
