"""Structured-Streaming CDC apply.

The reference processes CDC files as batch (SURVEY §2.7: no streaming
operators anywhere); this module is the engine's streaming-native
equivalent: ``readStream`` over the DMS drop directory, per-microbatch
compaction, and a ``foreachBatch`` MERGE into the target state
table — the incremental form of ``operators.compact``.

Exactly-once: foreachBatch + a manifest-committed bucketed parquet
state table (immutable data files, a numbered manifest file as the
single commit point) — a protocol that is atomic on local disk, HDFS,
and object stores alike. The reference's native habitat is S3
(``/root/reference/src/s3/s3_operator.rs:210-317``), so the commit
protocol deliberately never renames a directory and never overwrites
a file.
"""

from __future__ import annotations

import json
import re
import time
import uuid
from collections.abc import Sequence
from decimal import Decimal

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rust_dms_cdc_operator_spark import fsio
from rust_dms_cdc_operator_spark.functions.dmscols import DMS_OP_COL
from rust_dms_cdc_operator_spark.operators.compact import compact_cdc
from rust_dms_cdc_operator_spark.session import local_relation


BUCKET_COL = "_state_bucket"


def write_buckets(df: DataFrame, buckets_in_play: int, out_dir: str) -> list[str]:
    """Write ``df`` under ``out_dir`` partitioned by ``BUCKET_COL`` and
    return the bucket ids (as strings) that got a directory.

    One task → whole buckets → one file per bucket: hash partitioning
    on the bucket column puts every row of a bucket in the same task,
    and a task writes one file per bucket it holds. The task count is
    ``min(buckets_in_play, defaultParallelism)``, so a commit that
    touches more buckets than there are cores still runs one wave of
    tasks instead of one task per bucket."""
    sc = df.sparkSession.sparkContext
    n = max(1, min(buckets_in_play, sc.defaultParallelism))
    df.repartition(n, BUCKET_COL).write.partitionBy(BUCKET_COL).parquet(out_dir)
    prefix = f"{BUCKET_COL}="
    return [
        d[len(prefix):] for d in fsio.listdir_dirs(out_dir) if d.startswith(prefix)
    ]


#: commits each manifest log keeps; GC never deletes a generation dir
#: that a retained manifest references
RETAINED_MANIFESTS = 2


def bucket_entry(entry) -> dict:
    """A state manifest's bucket entry as ``{"base": rel | None,
    "deltas": [rel, ...]}`` (paths relative to the state root, deltas
    oldest first). A plain string entry, as older manifests and the
    incremental views write, is a base with no deltas."""
    if isinstance(entry, str):
        return {"base": entry, "deltas": []}
    return entry


def entry_rels(entry) -> list[str]:
    """Every bucket dir a manifest entry references."""
    e = bucket_entry(entry)
    return ([e["base"]] if e["base"] else []) + list(e["deltas"])


class _ManifestLog:
    """The commit log of one bucketed table (the CDC state, or an
    incremental view over it)::

        <root>/_manifests/<epoch, 20 digits>.json   # commit log
        <root>/<data_subdir>/<generation>/_state_bucket=<b>/part-*.parquet

    Commit protocol (object-store safe — the design constraint is that
    s3a has no atomic directory rename and no POSIX ``os.*``):

    1. every data file is IMMUTABLE and lives in a generation directory
       with a unique, never-reused name; nothing is ever renamed or
       overwritten under ``data_subdir``;
    2. the COMMIT POINT is publishing manifest ``N+1`` — a single small
       JSON record whose ``paths_field`` maps bucket → its entry (a
       bucket dir, or a ``{"base", "deltas"}`` entry of bucket dirs, see
       :func:`bucket_entry`) — under a fresh monotonically numbered key
       (atomic everywhere: os.rename locally, FileSystem.rename on
       HDFS, single COPY-object PUT on s3a; see
       :func:`fsio.publish_text`);
    3. readers take the highest-numbered manifest; only names matching
       ``_NAME`` count, so a crashed publish's ``.tmp-*`` sibling is
       invisible, and a crash before the publish leaves only invisible
       orphan generation dirs — the streaming checkpoint replays the
       batch and the idempotent merge converges;
    4. GC runs after a successful commit and deletes only generation
       dirs referenced by NO retained manifest (the last
       ``RETAINED_MANIFESTS``), so a reader of the previous manifest
       never loses files mid-scan.

    All filesystem metadata goes through :mod:`fsio`, so a
    ``s3a://bucket/state`` root uses the session's Hadoop connector
    end-to-end.
    """

    _NAME = re.compile(r"^(\d{20})\.json$")

    def __init__(self, root: str, data_subdir: str, paths_field: str):
        self.root = root
        self.dir = fsio.join(root, "_manifests")
        self.data_subdir = data_subdir
        self.paths_field = paths_field

    def _file(self, epoch: int) -> str:
        return fsio.join(self.dir, f"{epoch:020d}.json")

    def _read(self, epoch: int) -> dict:
        return json.loads(fsio.read_text(self._file(epoch)))

    def epochs(self) -> list[int]:
        """Retained commit epochs, oldest first."""
        names = (self._NAME.match(n) for n in fsio.listdir(self.dir))
        return sorted(int(m.group(1)) for m in names if m)

    def load(self, epoch: int | None = None) -> dict | None:
        """The latest committed record (None before the first commit),
        or the record of a retained ``epoch``."""
        retained = self.epochs()
        if epoch is None:
            return self._read(retained[-1]) if retained else None
        if epoch not in retained:
            raise ValueError(
                f"epoch {epoch} not retained at {self.root} "
                f"(retained: {retained})"
            )
        return self._read(epoch)

    def commit(self, record: dict) -> None:
        """Publish ``record`` as epoch ``record["epoch"]`` — raises if
        that epoch already exists (a lost commit race) — then GC."""
        fsio.mkdirs(self.dir)
        fsio.publish_text(
            self._file(record["epoch"]),
            json.dumps(record),
            tmp_suffix=f".tmp-{uuid.uuid4().hex[:8]}",
        )
        self._gc()

    def _gc(self) -> None:
        """Drop manifests beyond the retention window, then any
        generation dir no retained manifest references (replaced
        generations AND orphans from pre-commit crashes). Best-effort —
        a crash mid-GC just leaves garbage for the next commit."""
        epochs = self.epochs()
        referenced = {
            rel.split("/")[1]  # <data_subdir>/<gen>/<bucket>
            for e in epochs[-RETAINED_MANIFESTS:]
            for entry in self._read(e)[self.paths_field].values()
            for rel in entry_rels(entry)
        }
        for e in epochs[:-RETAINED_MANIFESTS]:
            fsio.delete(self._file(e), recursive=False)
        data_dir = fsio.join(self.root, self.data_subdir)
        for gen in fsio.listdir_dirs(data_dir):
            if gen not in referenced:
                fsio.delete(fsio.join(data_dir, gen))


def committed_schema(man: dict) -> T.StructType:
    """The data schema a state manifest commits — the union of every
    column ever merged, so reads under it see columns added by schema
    evolution as NULL in older buckets."""
    return T.StructType.fromJson(json.loads(man["schema"]))


#: columns a delta generation carries besides the data: the op of the
#: key's last batch event (a ``D`` row is a tombstone) and the epoch of
#: the commit that wrote it, the order a read merges by. A base row
#: reads both as NULL: op ``I``, and an epoch below every delta's.
OP_COL = "_state_op"
EPOCH_COL = "_state_epoch"
#: a decimal, not a long: generated code inlines a long literal but
#: references a decimal one, so every commit's plan compiles to the
#: same classes instead of new ones per epoch
_EPOCH_TYPE = T.DecimalType(20, 0)
_LAYER_FIELDS = [
    T.StructField(OP_COL, T.StringType()),
    T.StructField(EPOCH_COL, _EPOCH_TYPE),
]

#: the most deltas a bucket holds: a commit that starts with a bucket at
#: this many folds it into a new base (swept against commit and lookup
#: cost in CHANGES.md)
FOLD_DELTAS = 8


class BucketedParquetState:
    """Incremental state table: parquet hash-bucketed by PK, committed
    through a :class:`_ManifestLog` (data subdir ``data``, manifest
    field ``buckets``), merge-on-read.

    Each bucket's manifest entry is a base dir plus the delta dirs
    committed on top of it (:func:`bucket_entry`). A commit compacts
    the microbatch to the last event per key and writes it as ONE delta
    generation in one Spark query: the batch's op per key (deletes kept
    as tombstones) and the commit epoch ride along as ``OP_COL`` and
    ``EPOCH_COL``. So a delta commit costs O(batch), not O(state).
    Reads (``read``, ``lookup``,
    ``compact`` and the incremental view's stale-bucket scan) merge
    each bucket's base and deltas with :func:`compact_cdc`, the one
    last-writer-wins path: the latest epoch per key wins, a base row
    ranks below every delta, and a winning tombstone drops the key. A
    base-only bucket reads as a plain scan.

    Fold policy: a bucket that holds ``FOLD_DELTAS`` deltas when a
    commit starts is folded by that commit. In the same query, its base
    and deltas are unioned with the batch and compacted into a new base
    without tombstones. A read thus merges at most ``FOLD_DELTAS`` + 1
    layers per bucket, and a bucket is rewritten once per
    ``FOLD_DELTAS`` deltas it received. The amortized commit cost is
    O(batch + touched state / ``FOLD_DELTAS``). With hashed keys every
    commit touches every bucket, so all buckets reach the threshold
    together and every ``FOLD_DELTAS`` + 1-th commit rewrites the whole
    state in its one query (measured in CHANGES.md: 3.7 bytes written
    per event byte on a delta commit, 46 on the fold, 8.4 over the
    cycle). A batch's rows for a bucket with no entry become that
    bucket's base (a delete there deletes nothing). ``compact`` folds
    every bucket.

    Generation dirs are ``data/e<epoch>-<uuid8>`` for merges and
    ``data/e<epoch>-compact-<uuid8>`` for compactions.
    """

    def __init__(self, path: str, pk_cols: Sequence[str], num_buckets: int = 64):
        self.path = path
        self.pk_cols = list(pk_cols)
        self.num_buckets = num_buckets
        self.log = _ManifestLog(path, "data", "buckets")

    def _bucket(self, num_buckets: int) -> F.Column:
        return F.pmod(
            F.xxhash64(*[F.col(c) for c in self.pk_cols]), F.lit(num_buckets)
        ).cast("int")

    def _dirs(self, rels) -> list[str]:
        return [fsio.join(self.path, rel) for rel in rels]

    def _layers(self, spark: SparkSession, schema: T.StructType, entries) -> DataFrame:
        """Every row of the ``entries``' bases and deltas in one scan,
        with ``OP_COL`` and ``EPOCH_COL`` (a base row: op ``I``, epoch
        NULL)."""
        rels = [rel for e in entries for rel in entry_rels(e)]
        rows = spark.read.schema(T.StructType(schema.fields + _LAYER_FIELDS))
        return rows.parquet(*self._dirs(rels)).withColumn(
            OP_COL, F.coalesce(F.col(OP_COL), F.lit("I"))
        )

    def _live(
        self, spark: SparkSession, man: dict, entries, keys: DataFrame | None = None
    ) -> DataFrame:
        """The live rows of the bucket ``entries`` under the committed
        schema: buckets written before an additive evolution read the
        newer columns as NULL (parquet schema clipping) instead of
        failing a mergeSchema union. Base-only buckets are a plain
        scan; buckets with deltas merge through ``compact_cdc``.
        ``keys`` (a frame of the PK columns) semi-joins the rows BEFORE
        the merge, so a point read compacts only the probed keys' rows.
        No dirs (e.g. every key deleted): an empty, typed frame."""
        schema = committed_schema(man)
        entries = [bucket_entry(e) for e in entries]

        def probe(df: DataFrame) -> DataFrame:
            if keys is None:
                return df
            return df.join(F.broadcast(keys), self.pk_cols, "left_semi")

        parts = []
        bases = [e["base"] for e in entries if e["base"] and not e["deltas"]]
        if bases:
            parts.append(probe(spark.read.schema(schema).parquet(*self._dirs(bases))))
        layered = [e for e in entries if e["deltas"]]
        if layered:
            rows = probe(self._layers(spark, schema, layered))
            parts.append(
                compact_cdc(rows, self.pk_cols, [EPOCH_COL], OP_COL).drop(
                    OP_COL, EPOCH_COL
                )
            )
        if not parts:
            return local_relation(spark, [], schema)
        return parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])

    def exists(self) -> bool:
        return bool(self.log.epochs())

    def read(self, spark: SparkSession, epoch: int | None = None) -> DataFrame:
        """Full state (no DMS/bookkeeping columns) at the latest
        commit, or — time travel — at a specific retained ``epoch``
        (the manifest log keeps the last ``RETAINED_MANIFESTS``
        commits; generation dirs referenced by any retained manifest
        are never GC'd, so a pinned read stays consistent)."""
        man = self.log.load(epoch)
        if man is None:
            raise FileNotFoundError(f"no committed state at {self.path}")
        return self._live(spark, man, man["buckets"].values())

    def merge_batch(
        self,
        batch: DataFrame,
        order_cols: Sequence[str],
        op_col: str = DMS_OP_COL,
        allow_schema_evolution: bool = False,
    ) -> bool:
        """Merge one microbatch of CDC events into the state and commit
        a new manifest epoch: the batch's last event per key wins, its
        upserts replace and its deletes remove state rows. Returns True
        if a commit was published, False for an empty microbatch (no
        epoch, no state change).

        One Spark query: compact the batch (with the rows of any bucket
        due for a fold), write it as one generation, and count the
        batch's upserted and deleted keys through an Observation on the
        written frame."""
        spark = batch.sparkSession
        man = self.log.load()
        num_buckets = man["num_buckets"] if man else self.num_buckets
        epoch = (man["epoch"] if man else 0) + 1
        entries = (
            {b: bucket_entry(e) for b, e in man["buckets"].items()} if man else {}
        )
        data_cols = [
            c
            for c in batch.columns
            if c != op_col and not (c in order_cols and c.startswith("_cdc"))
        ]
        keep = set(data_cols)
        if man is not None:
            # P3 parity for the stream (compact.py:161-167): surface
            # drift as a clear error before any state byte is staged,
            # not as a union failure mid-merge. With
            # allow_schema_evolution, drift is instead resolved
            # Delta-style: batch-added columns extend the state (old
            # rows read NULL), and a key the batch writes reads NULL in
            # the columns the batch lacks — the committed manifest
            # schema becomes the union.
            prev_schema = committed_schema(man)
            drift = set(data_cols) ^ set(prev_schema.fieldNames())
            if drift and not allow_schema_evolution:
                raise ValueError(
                    f"schema drift between batch and committed state at "
                    f"{self.path}: differing columns {sorted(drift)} "
                    "(recreate the state, align the source schema, or "
                    "opt in with allow_schema_evolution=True)"
                )
        t0 = time.monotonic()
        fold = [b for b, e in entries.items() if len(e["deltas"]) >= FOLD_DELTAS]
        layered = {int(b) for b in entries if b not in fold}
        this_epoch = F.lit(Decimal(epoch)).cast(_EPOCH_TYPE)
        rows = batch.select(
            *data_cols,
            *[c for c in order_cols if c not in data_cols],
            # a NULL op deletes the key, as in compact_cdc
            F.coalesce(F.col(op_col), F.lit("D")).alias(OP_COL),
            this_epoch.alias(EPOCH_COL),
        )
        if fold:
            rows = rows.unionByName(
                self._layers(spark, prev_schema, [entries[b] for b in fold]),
                allowMissingColumns=True,
            )
            keep |= set(prev_schema.fieldNames())
        # the epoch ranks a batch row above every state row; op_col
        # names no column, so tombstones survive the compaction
        last = compact_cdc(
            rows, self.pk_cols, [EPOCH_COL, *order_cols], op_col="__keep_d__"
        ).withColumn(BUCKET_COL, self._bucket(num_buckets))
        from_batch = F.col(EPOCH_COL) == this_epoch
        counts = Observation()
        last = last.observe(
            counts,
            F.count_if(from_batch).alias("keys"),
            F.count_if(from_batch & (F.col(OP_COL) != "D")).alias("upserts"),
        )
        # a delta keeps op and epoch; a new base (a bucket with no entry,
        # or a fold) drops tombstones and reads op I, epoch NULL. The
        # per-bucket flags are one array literal, which generated code
        # references instead of inlining
        is_delta = F.element_at(
            F.lit([b in layered for b in range(num_buckets)]),
            F.col(BUCKET_COL) + 1,
        )
        written = last.filter(is_delta | (F.col(OP_COL) != "D")).select(
            *[c for c in last.columns if c in keep],
            F.when(is_delta, F.col(OP_COL)).alias(OP_COL),
            F.when(is_delta, F.col(EPOCH_COL)).alias(EPOCH_COL),
            BUCKET_COL,
        )
        gen = f"e{epoch}-{uuid.uuid4().hex[:8]}"
        gen_dir = fsio.join(self.path, "data", gen)
        staged = set(write_buckets(written, num_buckets, gen_dir))
        n_keys, n_upserts = counts.get["keys"], counts.get["upserts"]
        if not n_keys:  # empty microbatch
            fsio.delete(gen_dir)
            return False
        for b in staged:
            rel = f"data/{gen}/{BUCKET_COL}={b}"
            if int(b) in layered:
                e = entries[b]
                entries[b] = {"base": e["base"], "deltas": [*e["deltas"], rel]}
            else:
                entries[b] = {"base": rel, "deltas": []}
        for b in fold:
            if b not in staged:  # the fold left no live key
                entries.pop(b)
        # committed schema = union of the PREVIOUS committed schema and
        # the batch schema: a column present only in the committed
        # state must not vanish from the manifest schema, or explicit-
        # schema reads of the buckets the batch missed would drop that
        # column's data
        out_schema = T.StructType([batch.schema[c] for c in data_cols])
        if man is not None:
            have = set(prev_schema.fieldNames())
            out_schema = T.StructType(
                prev_schema.fields
                + [f for f in out_schema.fields if f.name not in have]
            )
        # per-epoch stats are queryable from the commit log; the
        # counts come from the commit query's observation, never from
        # the state
        self.log.commit(
            {
                "epoch": epoch,
                "num_buckets": num_buckets,
                "schema": out_schema.json(),
                "buckets": entries,
                "stats": {
                    "kind": "merge",
                    "keys_upserted": n_upserts,
                    "keys_deleted": n_keys - n_upserts,
                    "buckets_touched": len(staged),
                    "buckets_folded": len(fold),
                    "wall_ms": int((time.monotonic() - t0) * 1000),
                },
            }
        )
        return True

    def lookup(self, spark: SparkSession, keys: list[tuple]) -> DataFrame:
        """Point lookup: current state rows for the given PK tuples
        (each tuple's values in ``pk_cols`` order as passed to the
        constructor), reading ONLY the buckets those keys hash to. The
        bucket assignment runs through the SAME JVM expression the
        writer uses (xxhash64 — not reimplementable driver-side in
        Python) over a local relation of the keys, which collects
        without a Spark job; the matched buckets' rows are semi-joined
        to the keys before their layers merge. Cost: O(|keys| + their
        buckets), never O(total state) — the state inspection path for
        a 100 TB table.
        """
        man = self.log.load()
        if man is None:
            raise FileNotFoundError(f"no committed state at {self.path}")
        schema = committed_schema(man)
        # key tuples follow self.pk_cols order, so the StructType must
        # too — deriving it from committed-schema FIELD order binds
        # composite-PK values to the wrong fields whenever pk_cols order
        # differs from table column order (silently wrong/empty results
        # when the types happen to coincide)
        pk_fields = [schema[c] for c in self.pk_cols]
        # an Arrow local relation: the keys and their bucket ids are
        # evaluated JVM-side, with no Python worker, and the projection
        # collects as a local scan, with no Spark job. The keys enter
        # the plan as data (a broadcast semi-join), not as literals, so
        # every lookup reuses the same generated classes.
        keys_df = local_relation(spark, keys, T.StructType(pk_fields))
        wanted = {
            r[0] for r in keys_df.select(self._bucket(man["num_buckets"])).collect()
        }
        entries = [e for b, e in man["buckets"].items() if int(b) in wanted]
        return self._live(spark, man, entries, keys=keys_df)

    def compact(
        self, spark: SparkSession, new_num_buckets: int | None = None
    ) -> None:
        """Maintenance OPTIMIZE: fold every bucket's base and deltas
        into ONE fresh generation of bases and commit it as the next
        epoch. Long-running streams scatter state across one generation
        dir per batch; compaction collapses the listing back to a
        single generation (and lets GC reap the old ones at the
        retention horizon), and every read after it is a plain scan.

        ``new_num_buckets`` additionally RE-BUCKETS the state — the
        scale knob that is otherwise frozen at table creation: as state
        grows, re-bucket upward so each bucket stays executor-sized
        (subsequent ``merge_batch`` calls read the bucket count from
        the manifest, so the change is transparent to the stream).

        Same commit protocol as a merge: immutable generation dir
        first, numbered manifest publish as the commit point, GC after
        — a crash mid-compact leaves an invisible orphan generation
        and the old manifest intact.
        """
        man = self.log.load()
        if man is None:
            raise FileNotFoundError(f"no committed state at {self.path}")
        num_buckets = new_num_buckets or man["num_buckets"]
        epoch = man["epoch"]
        buckets: dict[str, dict] = {}
        if man["buckets"]:
            state = self._live(spark, man, man["buckets"].values())
            gen = f"e{epoch + 1}-compact-{uuid.uuid4().hex[:8]}"
            gen_dir = fsio.join(self.path, "data", gen)
            staged = write_buckets(
                state.withColumn(BUCKET_COL, self._bucket(num_buckets)),
                num_buckets,
                gen_dir,
            )
            buckets = {
                b: {"base": f"data/{gen}/{BUCKET_COL}={b}", "deltas": []}
                for b in staged
            }
        self.log.commit(
            {
                "epoch": epoch + 1,
                "num_buckets": num_buckets,
                "schema": man["schema"],
                "buckets": buckets,
                "stats": {"kind": "compact", "buckets": len(buckets)},
            }
        )

    def stats(self, epoch: int | None = None) -> dict | None:
        """The stats block of the latest (or a retained) commit —
        keys upserted/deleted, buckets touched (written) and folded,
        wall ms for merges; kind='compact' for maintenance epochs. None
        for pre-stats manifests. An epoch outside the retention window
        raises ValueError, as in :meth:`read`."""
        return (self.log.load(epoch) or {}).get("stats")


def drain(
    stream: DataFrame,
    handle,
    checkpoint_dir: str,
    output_mode: str | None = None,
) -> None:
    """Run ``handle(batch, batch_id)`` on every microbatch of
    ``stream`` until the source is drained, then return: the
    ``availableNow`` trigger processes whatever exists when the query
    starts and stops. ``output_mode`` is the streaming output mode
    (``"append"``, ``"complete"``, ``"update"``; None keeps Spark's
    default, append). A failing ``handle`` fails the query: this raises
    ``StreamingQueryException`` carrying the handler's error, batches
    committed before it keep their effects, and the query is stopped
    either way, so a long-lived session is left with no active
    stream."""
    writer = stream.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint_dir
    )
    if output_mode is not None:
        writer = writer.outputMode(output_mode)
    q = writer.trigger(availableNow=True).start()
    try:
        q.awaitTermination()
    finally:
        q.stop()


def stream_replay_bucketed(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    pk_cols: Sequence[str],
    order_cols: Sequence[str],
    state_dir: str,
    op_col: str = DMS_OP_COL,
    num_buckets: int = 64,
    max_files_per_trigger: int | None = None,
    transform=None,
    compact_every: int | None = None,
    after_merge=None,
) -> DataFrame:
    """Replay a directory of CDC parquet as a stream into a bucketed
    incremental state table; returns the final state DataFrame.
    A microbatch's commit appends one delta generation, at a cost
    proportional to the batch, except that a bucket's
    ``FOLD_DELTAS`` + 1-th commit folds it into a new base
    (``BucketedParquetState``'s fold policy).

    Runs through :func:`drain`, so the call is synchronous (drains
    whatever exists, then stops) — the 24/7 deployment drops the
    trigger and keeps the query running.

    ``compact_every=N`` folds maintenance into the loop: after every
    N merged batches every bucket is folded into one generation of
    bases (``BucketedParquetState.compact``), bounding the
    generation-dir count a 24/7 stream accretes. Compaction is itself a committed
    epoch, so a crash between merge and compact loses nothing.

    ``after_merge(store, spark)``: optional hook invoked after every
    COMMITTED merge epoch — the streaming-materialized-view seam
    (e.g. ``ivm.IncrementalAggView.refresh``: each microbatch then
    maintains downstream aggregates at O(touched buckets) too)."""
    store = BucketedParquetState(
        fsio.join(state_dir, "state"), pk_cols, num_buckets
    )
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)
    if transform is not None:
        stream = transform(stream)
    merged_count = 0

    def handle(batch: DataFrame, _epoch: int) -> None:
        nonlocal merged_count
        # count only batches that actually committed an epoch: an empty
        # first trigger would otherwise schedule compact() before any
        # manifest exists and kill the stream with FileNotFoundError
        if store.merge_batch(batch, order_cols, op_col):
            merged_count += 1
            if after_merge is not None:
                after_merge(store, batch.sparkSession)
            if compact_every and merged_count % compact_every == 0:
                store.compact(batch.sparkSession)

    drain(stream, handle, fsio.join(state_dir, "_checkpoint"))
    return store.read(spark)

