"""SparkSession construction tuned for the CDC engine.

Local-mode defaults mirror what we would set on a real cluster:
AQE on (runtime re-planning, skew-join splitting, partition
coalescing), UTC session timezone (required for oracle parity and for
the DMS `_dms_ingestion_timestamp` semantics), Arrow enabled for the
Pandas-UDF slow path.

The generated-code class cache (``spark.sql.codegen.cache.maxEntries``)
holds :data:`CODEGEN_CACHE_ENTRIES` classes instead of Spark's 100.
The engine repeats the same plans within one session (``snapshot`` and
``validate`` per table, one CDC merge per microbatch, every rep of a
registered query), and one pass of them generates more than 100
distinct classes; with the default LRU every class is evicted before
it is reused, so every repeat recompiles them all and the JIT warms the
new classes again. The setting is static: a session this module did
not build keeps Spark's default, and its effect on cluster executors
is unmeasured.
"""

from __future__ import annotations

import logging
import os
import re
from datetime import timezone

from pyspark.sql import SparkSession

#: The directory holding the ``rust_dms_cdc_operator_spark`` package.
_PACKAGE_PARENT = os.path.dirname(
    os.path.dirname(os.path.abspath(__file__))
)

#: Entries in Spark's generated-code class cache. About 5x the largest
#: per-pass working set measured on the engine's benchmark workloads
#: (about 190-220 classes in a dedup-panel warm-up pass). One pass of
#: every registered query generates more (about 3,700 classes), so a
#: second such pass still recompiles most of them.
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "rust-dms-cdc-operator-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a
    real cluster it is left to spark-submit. ``shuffle_partitions``
    defaults to the core count locally — on a 1000-executor cluster
    you would set this to ~2-3x total cores (AQE coalesces down).
    A ``local[...]`` session also lists input paths on the driver and
    puts the package's parent dir on the Python workers' path; cluster
    sessions keep Spark's parallel listing and ship the package with
    ``--py-files``. Every session caches :data:`CODEGEN_CACHE_ENTRIES`
    generated classes (Spark's default is 100), so repeated operations
    reuse their compiled code instead of recompiling it. That conf is
    static: it applies only when this call creates the session, not to
    a session that is already running (e.g. one handed to
    ``__spark_entry__.entry``), and what it does on cluster executors
    is unmeasured. ``extra_conf`` is applied last, so its values win.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "4")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # round 12 (guide §2.2 "fewer, larger reduce partitions"):
        # let AQE re-plan the OUTPUT partitioning of persisted plans.
        # Off (the default), a persisted salted LSH pair stream
        # materializes with every skew-split/salt reducer partition
        # intact (measured: 256 cache partitions of ~100 KB at sf0.1),
        # and every downstream pass over the cache — CC labeling,
        # contraction joins, verify attaches — schedules one task per
        # tiny partition. On, AQE coalesces the cached plan's tail
        # exchange to advisoryPartitionSizeInBytes like any other
        # exchange; the setting is scale-independent (on a cluster it
        # produces the same ~target-sized cache blocks).
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.scheduler.mode", "FAIR")  # per-table pools share fairly
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config(
            "spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES)
        )
    )
    if master.startswith("local"):
        # Driver and executors share one machine here, so two settings
        # hold only in local mode. Path listing stays on the driver: a
        # distributed listing job runs on the same cores and only adds
        # one task per path. Python workers import the package from its
        # parent dir, whatever the driver's working directory is.
        builder = builder.config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(2**31 - 1),
        ).config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compiles(spark) -> int:
    """Janino compiles so far in this JVM: the sample count of Spark's
    ``CodegenMetrics`` compilation-time histogram. The difference
    across a repeated operation is 0 when every generated class it
    needs is still in the class cache."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def jit_compile_s(spark) -> float:
    """Seconds the driver JVM's JIT compilers have spent so far, summed
    over compiler threads (``CompilationMXBean.getTotalCompilationTime``).
    Most of a cold iteration's CPU can be JIT, not Spark work, so read
    it next to job and plan counts before blaming the engine."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0


_BYTE_SHIFT = {"": 0, "k": 10, "m": 20, "g": 30, "t": 40, "p": 50}


def conf_bytes(value: str, default: int = 64 << 20) -> int:
    """Parse a Spark byte-size conf string: an integer with an optional
    ``k``/``m``/``g``/``t``/``p`` unit, each optionally followed by
    ``b`` ('64MB', '256m', '1t', '134217728b'). A bare number is
    bytes. An unparsable value returns ``default`` instead of
    raising, so a conf the parser does not know never fails a query."""
    m = re.fullmatch(r"(\d+)([kmgtp]?)b?", value.strip().lower())
    if m is None:
        return default
    return int(m.group(1)) << _BYTE_SHIFT[m.group(2)]


#: Per-process memo of fixture table schemas, keyed by (dir, table).
#: METADATA only — never rows, never results: each query still scans,
#: plans and computes from the parquet inputs on every invocation.
#: Inferring a parquet schema costs a footer-read + py4j round trip
#: (~0.1 s warm, measured) and the bench pays it 1-3x per query
#: construction; an explicit schema read (~0.02 s) is also exactly
#: what a production job does — tables have declared schemas. Fixture
#: schemas are immutable for the life of a process, so the memo can
#: never serve a stale schema.
_TABLE_SCHEMA_MEMO: dict = {}


def read_table(spark, data_dir: str, name: str):
    """Read ``{data_dir}/{name}.parquet`` with a memoized explicit
    schema (round 12, guide §1.2 driver-side fixed costs; see
    ``_TABLE_SCHEMA_MEMO``). First read per (dir, table) infers and
    memoizes; later reads skip footer-based schema inference."""
    path = f"{data_dir}/{name}.parquet"
    schema = _TABLE_SCHEMA_MEMO.get((data_dir, name))
    if schema is None:
        df = spark.read.parquet(path)
        _TABLE_SCHEMA_MEMO[(data_dir, name)] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def local_relation(spark, rows, schema):
    """Driver rows → DataFrame via pandas/Arrow (guide §6 "Arrow for
    driver transfers"): ``createDataFrame(list)`` parallelizes the rows
    into ``defaultParallelism`` pickled slices, and EVERY later
    evaluation of the frame pays one Python-worker round trip per slice
    — ~0.15 s each, serialized when a consumer (e.g. ``coalesce(1)``)
    reads them in one task (measured: a 4096-row write cost 5-7 s
    through the list form, 0.3 s through Arrow). The pandas/Arrow form
    lands as an Arrow-backed local relation evaluated entirely
    JVM-side; columns are built by :func:`_pandas_frame`.

    No rows build an empty Arrow table, which plans as ``LocalRelation
    <empty>``: the optimizer sees the frame is empty and prunes the
    joins and scans above it. (An empty list or pandas frame plans as
    a ``LogicalRDD`` it cannot see into.)

    Private-API note: the string-schema convenience rides
    ``T._parse_datatype_string``, pinned to the vendored pyspark
    (4.1.x); callers that must outlive a pyspark upgrade can pass a
    ``StructType`` directly."""
    from pyspark.sql import types as T  # noqa: PLC0415

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    if not rows:
        import pyarrow as pa  # noqa: PLC0415
        from pyspark.sql.pandas.types import to_arrow_schema  # noqa: PLC0415

        empty = pa.Table.from_pylist([], schema=to_arrow_schema(schema))
        return spark.createDataFrame(empty, schema)
    return spark.createDataFrame(_pandas_frame(rows, schema), schema)


def _pandas_frame(rows, schema):
    """Row tuples in ``schema`` field order → a pandas frame that Arrow
    converts to ``schema`` exactly.

    Integer columns are built as pandas NULLABLE integer arrays: a bare
    ``pd.DataFrame`` coerces an int column containing ``None`` to
    float64 (7 → 7.0, and the Arrow cast back to long can raise or
    null); with the masked dtype, nulls stay nulls and values stay
    exact.

    Naive ``datetime`` values of ``TimestampType`` columns are read in
    the host's time zone, as ``createDataFrame(list)`` and ``collect()``
    read them; left naive, pandas/Arrow would read them in the session
    time zone instead, and a key collected on a non-UTC host would name
    a different instant."""
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql import types as T  # noqa: PLC0415

    _pd_int = {
        T.ByteType: "Int8",
        T.ShortType: "Int16",
        T.IntegerType: "Int32",
        T.LongType: "Int64",
    }
    tuples = [tuple(r) for r in rows]
    data = {}
    for i, f in enumerate(schema.fields):
        vals = [t[i] for t in tuples]
        if isinstance(f.dataType, T.TimestampType):
            # naive values read as host-local, like createDataFrame(list)
            vals = [
                None if v is None else v.astimezone(timezone.utc)
                for v in vals
            ]
        dt = _pd_int.get(type(f.dataType))
        data[f.name] = pd.array(vals, dtype=dt) if dt else vals
    return pd.DataFrame(data, columns=[f.name for f in schema.fields])


def materialize_leaf(df):
    """Materialize a heavy BOUNDED intermediate ONCE and hand
    consumers a leaf: ``localCheckpoint`` plus a coalesce to the core
    count. Iterative consumers (CC, PageRank/LPA BSP rounds, k-core
    sweeps) of an expensive pair plan then read a leaf RDD every round
    instead of shipping the whole banded-LSH DAG in each task binary
    and re-planning it per AQE stage. Measured against
    :func:`materialize_cache` on the seven callers at sf0.1 (4 cores,
    4 alternating runs): warm wall 40.2 vs 57.8 s, JVM CPU 83.0 vs
    109.9 s; ``dedup_pagerank_capped`` alone 4.4 vs 9.6 s.

    Bounded streams only: the stream's row count must be bounded by
    construction (hot-bucket caps, probe caps — a few hundred MB at
    any corpus size). An UNBOUNDED stream (the uncapped banded pair
    stream grows with quadratic bucket occupancy — ~200M rows at
    native sf1) must use :func:`materialize_cache`: checkpoint blocks
    are built through the block store, and at that size they OOMed a
    local[32] driver (32 concurrent block builders × ~250 MB > the
    8 GB heap); the ``DISK_ONLY`` form pushes every row through the
    serializer (dedup_pagerank 2326 cpu-s vs 788 with the eager cache,
    32 cores).

    Checkpoints at the plan's NATURAL partitioning and coalesces the
    LEAF afterwards — order matters: ``coalesce(cores)`` BELOW the
    checkpoint squeezes the whole upstream band-join pipeline into
    ``cores`` fat tasks (at native sf1 the per-task sort/aggregation
    state exhausted the execution pool), while ABOVE it is a narrow
    merge of already-materialized blocks (never increased: coalesce
    only shrinks).

    Lifetime: the blocks live as long as the returned frame does.
    Nothing else holds them, so once the caller drops the frame the
    ContextCleaner frees them at the next JVM garbage collection;
    :func:`release_persistent_rdds` frees them at once between
    queries. Do NOT call this per-level inside a recursive operator —
    consecutive LogicalRDD rewrites compound Catalyst's
    stats/constraint propagation exponentially (see
    connected_components' e0 note)."""
    spark = df.sparkSession
    return df.localCheckpoint(eager=True).coalesce(
        max(spark.sparkContext.defaultParallelism, 1)
    )


def materialize_cache(df):
    """Materialize a heavy UNBOUNDED intermediate ONCE for fan-out
    consumers — eager ``persist()`` + count, lineage KEPT (round 13,
    r12 verdict items 1-2). This is the unbounded-stream counterpart
    of :func:`materialize_leaf`: the eager count materializes the
    cache BEFORE consumers fan out, killing the AQE concurrent
    cold-cache race (each broadcast-build future otherwise recomputes
    the shared partitions — the round-12 `keyed.count()` finding),
    and for a union-of-two-selects consumer (every symmetric
    adjacency build) it halves the band-join evaluations exactly like
    a checkpoint would (measured at native sf1, 32 cores:
    dedup_pagerank wall 48 → 38 s vs no materialization). Unlike a
    checkpoint it never serializes rows through the block store —
    blocks stay deserialized MEMORY_AND_DISK, LRU-evictable, and
    recomputable through the kept lineage, so storage pressure
    degrades to recomputation instead of an OOM (the 400M-row
    adjacency caches have run this way since round 10). The cost kept
    by NOT cutting lineage: consumers ship the upstream DAG in their
    task binaries (~2 MiB for the banded-LSH plan) and replanning
    stays O(plan); that is driver/codegen latency visible at sf0.1
    (fractions of a second), while the checkpoint alternative costs
    row-serialization cpu proportional to the STREAM (2326 vs 788
    cpu-s at sf1 — see materialize_leaf's docstring). Ownership
    follows the caller-owned cache contract (module docstring of
    inventory_llm): bounded harnesses sweep with ``clearCache()``."""
    d = df.persist()
    d.count()
    return d


def release_persistent_rdds(spark) -> int:
    """Free every persisted RDD — including ``localCheckpoint`` block
    sets, which ``spark.catalog.clearCache()`` does NOT cover (it only
    drops CacheManager entries). Harness-level cleanup between
    independent queries: a dropped leaf's blocks otherwise stay until
    the ContextCleaner sees a JVM garbage collection, and a suite that
    runs hundreds of queries back-to-back accumulates gigabytes of dead
    blocks that evict live working sets (measured: a +58 s regression
    window across the mid-inventory until GC caught up). Returns the
    number of RDDs released. Never call this while a query that still
    references a checkpointed frame is in flight — truncated lineage
    cannot recompute. Never sweeps while streaming queries are active
    (an in-flight stream's state or checkpointed frames would be
    unrecoverable): it logs a warning, releases nothing and returns 0,
    so a harness sweep between queries cannot kill a live stream."""
    active = spark.streams.active
    if active:
        logging.getLogger(__name__).warning(
            "release_persistent_rdds: %d active streaming queries may "
            "hold persisted state; skipping the sweep",
            len(active),
        )
        return 0
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    n = 0
    for jrdd in list(jmap.values()):  # py4j JavaMap view
        jrdd.unpersist(False)
        n += 1
    return n


def scan_parallelism_floor(df, min_parts: int | None = None):
    """Floor the parallelism of an embarrassingly-parallel per-row
    compute stage (round 12; guide §2.5 "input skew" / §6 input
    splits): a dataset that arrives as a single small parquet file —
    or any scan below ``min_parts`` splits — otherwise executes the
    whole downstream row-wise stage (MinHash signatures, SimHash
    votes, shingle digests, image decodes) as ONE task while the rest
    of the machine idles. Round-robin repartition to
    ``defaultParallelism`` only when the current layout is below the
    floor; at scale a real scan already has >= cores splits, so this
    is a no-op and no shuffle is ever added on a cluster. Row-wise
    transforms are placement-independent, so results are unchanged,
    and Spark's sort-before-repartition (on by default) keeps the
    row-to-partition assignment deterministic under task retries.
    The repartition is an explicit REPARTITION_BY_NUM, which AQE
    never re-coalesces back down."""
    sc = df.sparkSession.sparkContext
    target = min_parts or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
