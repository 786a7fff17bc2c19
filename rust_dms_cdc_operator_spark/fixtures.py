"""Drift-tolerant readers for the driver-generated testdata fixtures.

Round-3 lesson: the driver regenerated ``events.parquet`` with ``ts``
as ``timestamp[us]`` where earlier rounds wrote int64 epoch-nanos, and
every reader that hard-coded the nanos assumption broke at once (four
oracle queries, the flagship smoke query, and the bench run). All
type-sensitive fixture reads now go through this module: probe the
schema Spark actually resolves for the file, then branch — so the next
encoding drift degrades to one failing pre-flight assertion
(``tests/test_fixture_contract.py``) instead of a cascade.

The normalization target is the round-2-proven output type:
``TimestampType`` with the session timezone pinned to UTC, which
renders identically to DuckDB's naive ``TIMESTAMP`` read of the same
parquet (the oracle side needs no conversion in either encoding).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: fixture column contract this engine depends on (names only; dtypes
#: are normalized at read time). Checked by tests/test_fixture_contract.
EXPECTED_COLUMNS: dict[str, list[str]] = {
    "region": ["r_regionkey", "r_name"],
    "nation": ["n_nationkey", "n_name", "n_regionkey"],
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    "supplier": ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    "part": ["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"],
    "orders": [
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    ],
    "lineitem": [
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate",
    ],
    "events": ["event_id", "ts", "user_id", "event_type", "value", "props"],
    "documents": ["doc_id", "text", "lang", "source", "n_chars"],
    "embeddings": ["vec_id", "embedding", "label"],
}


def _enable_nanos_as_long(spark: SparkSession) -> None:
    """Required to even *read* the legacy int64-nanos encoding (Spark's
    parquet reader otherwise rejects TIMESTAMP(NANOS)); a no-op for
    files already written with microsecond timestamps. Guarded in case
    a future Spark drops the legacy conf entirely."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:  # noqa: BLE001 - conf removed upstream
        pass


def normalized_ts(df: DataFrame, col: str = "ts") -> Column:
    """Expression turning whichever physical ``ts`` encoding the fixture
    carries into a ``TimestampType`` (session TZ pinned UTC by callers):

    - int64 epoch-nanos (legacy fixture): integer-div to micros —
      double division of ns epochs drifts 1 us, and truncation matches
      DuckDB's ns→us coercion;
    - ``timestamp[us]`` (current fixture, read as TIMESTAMP_NTZ):
      cast to session-TZ timestamp so the output type is stable across
      fixture encodings.
    """
    dt = df.schema[col].dataType
    if isinstance(dt, T.LongType):
        return F.timestamp_micros(F.expr(f"{col} div 1000"))
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return F.col(col).cast("timestamp")
    raise TypeError(
        f"fixture column {col!r} has unsupported dtype {dt}; "
        "extend fixtures.normalized_ts for the new encoding"
    )


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table with ``ts`` normalized per :func:`normalized_ts`.

    Pins the session timezone to UTC first: string timestamp literals
    and NTZ→TZ casts are session-TZ-sensitive, and the DuckDB oracle
    reads the same parquet UTC-naive.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    _enable_nanos_as_long(spark)
    # round 12: schema-memoized read (metadata only; session.read_table)
    from rust_dms_cdc_operator_spark.session import read_table  # noqa: PLC0415

    ev = read_table(spark, sf_dir, "events")
    return ev.withColumn("ts", normalized_ts(ev, "ts"))


def events_stream_schema(spark: SparkSession, sf_dir: str) -> T.StructType:
    """Explicit schema for a ``readStream`` over the events fixture,
    derived from a batch-read probe of the same file instead of a
    hard-coded literal (the round-3 streaming reader declared
    ``ts: long`` and only survived the drift by accident)."""
    _enable_nanos_as_long(spark)
    # round 12: schema-memoized probe (metadata only; session.read_table)
    from rust_dms_cdc_operator_spark.session import read_table  # noqa: PLC0415

    return read_table(spark, sf_dir, "events").schema
