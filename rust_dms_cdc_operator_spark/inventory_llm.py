"""Query inventory, part 2: training-data pipeline operators
(dedup / similarity / text analysis / multimodal / streaming CDC).

Same contract as ``inventory.py``: each query has a DuckDB oracle
whose SQL reproduces the Spark semantics bit-for-bit. Hash-bearing
queries share the md5 construction between engines; ratio-bearing
queries emit exact integer numerators/denominators where a rounded
float could round differently across engines.

CALLER-OWNED CACHE CONTRACT (round 10, per ADVICE): a handful of
queries (``dedup_group_cohesion``/``_capped``, ``dedup_band_tuning``,
``dedup_semantic_pairs``, ``docs_rareterm_neighbors``, q11 in
inventory_tpch2) ``persist()`` an intermediate that BOTH an in-query
bounded collect AND the returned lazy plan consume — unpersisting
before return would force the pair stream to recompute, so the cache
deliberately outlives the call. Every such cache is bounded
(capped-stream- or dimension-sized) and StorageLevel MEMORY_AND_DISK
(LRU-evictable), so a long-lived session degrades, never breaks.
Callers that invoke many queries in one session (the sweep, bench.py)
MUST call ``spark.catalog.clearCache()`` between queries — both
in-repo harnesses do. Every persist site in the package is
machine-registered: tests/test_plan_lint.py::test_persist_sites_registered
fails on any new unreleased persist/cache/localCheckpoint until it is
deliberately added to the registry with a justification.
"""

from __future__ import annotations

import atexit
import contextlib
import functools
import itertools
import os
import shutil
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor, as_completed

import pandas as pd
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from rust_dms_cdc_operator_spark.fixtures import (
    events_stream_schema,
    read_events,
)
from rust_dms_cdc_operator_spark.functions.multimodal import (
    extract_media_features,
    with_media_columns,
)
from rust_dms_cdc_operator_spark.functions.text import (
    STOPWORDS,
    fingerprint_expr,
    langid_expr,
    punct_count,
    quality_score_expr,
    regex_token_count,
    repetition_ratio_expr,
    stopword_hits,
    whitespace_token_count,
)
from rust_dms_cdc_operator_spark.operators.dedup import (
    _pair_overlap,
    band_key_cols,
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signature_cols,
    ngram_jaccard_pairs,
    simhash16,
)
from rust_dms_cdc_operator_spark.operators.similarity import (
    cosine_topk,
    embedding_neardup_pairs,
    ivf_topk,
    lsh_bucket_topk,
)
from rust_dms_cdc_operator_spark.session import (
    conf_bytes as _conf_bytes,
    materialize_cache,
    materialize_leaf,
    read_table,
)
from rust_dms_cdc_operator_spark.streaming.cdc_stream import (
    drain,
    stream_replay_bucketed,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Fixture table ``name`` under a UTC session (schema-memoized
    through ``session.read_table``). No scan-parallelism floor here: a
    floor costs cheap-scan, wide-agg queries their map-side
    pre-aggregation, so it lives in the operators whose stage is
    compute-bound (``session.scan_parallelism_floor``)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return read_table(spark, sf_dir, name)


def _link_stream_src(sf_dir: str, table: str, src_dir: str) -> None:
    """Expose a dataset to readStream inside ``src_dir``: a single-file
    dataset is linked directly; a Spark-written directory dataset gets
    one link per part file, because FileStreamSource does not recurse
    through a directory symlink. A drain with no rate limit replays
    all linked parts as one batch, so part order never affects the
    result. Links point at the absolute path: a relative target would
    resolve against ``src_dir``, not the working dir."""
    src = os.path.abspath(os.path.join(sf_dir, f"{table}.parquet"))
    if os.path.isdir(src):
        parts = sorted(
            f for f in os.listdir(src) if f.endswith(".parquet")
        )
        for i, pf in enumerate(parts):
            os.symlink(
                os.path.join(src, pf),
                os.path.join(src_dir, f"{table}_{i:05d}.parquet"),
            )
    else:
        os.symlink(src, os.path.join(src_dir, f"{table}.parquet"))


#: Setup wall (scratch dirs, source links, slice pre-writes) of the
#: most recent run of each streaming query, keyed by registry name.
#: bench.py pops it after every query and reports it apart from the
#: query's wall: a deployed stream pays this setup once, for the life
#: of its source dir and checkpoint, not per drain.
STREAM_SETUP_SECS: dict[str, float] = {}


@functools.cache
def _scratch_root() -> str:
    """This process's one parent dir for every query's scratch dirs,
    removed at interpreter exit — not earlier: a returned frame reads
    its output dir lazily, and state-store maintenance may still
    touch a checkpoint after the stream stops."""
    root = tempfile.mkdtemp(prefix="cdc_engine_scratch_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


@contextlib.contextmanager
def _scratch(setup_of: str | None = None):
    """Yields ``mkdir(prefix)``, which makes a fresh dir under
    :func:`_scratch_root`. With ``setup_of``, the block's wall is
    recorded as ``STREAM_SETUP_SECS[setup_of]``."""
    t0 = time.time()
    yield lambda prefix: tempfile.mkdtemp(prefix=prefix, dir=_scratch_root())
    if setup_of is not None:
        STREAM_SETUP_SECS[setup_of] = round(time.time() - t0, 3)


class _stream_state_scope:
    """Source-sized shuffle partition count for a stateful stream
    started inside the scope. AQE does not re-plan stateful streaming
    exchanges, so every stateful operator keeps
    ``spark.sql.shuffle.partitions`` state-store instances, each with
    its own provider init, commit and maintenance. Inside the scope
    that count is the rule AQE applies to batch exchanges:
    ``ceil(source bytes / advisoryPartitionSizeInBytes)``, at least 1
    and at most the session's configured value; on exit the session's
    value is restored. Results are unchanged (hash partitioning
    decides where a key's state lives, never its value). The count
    is recorded in the checkpoint, so the scope suits a fresh
    checkpoint only."""

    def __init__(self, spark: SparkSession, src_dir: str):
        self.spark, self.src_dir = spark, src_dir

    def __enter__(self):
        conf = self.spark.conf
        self.old = conf.get("spark.sql.shuffle.partitions")
        try:
            nbytes = sum(
                os.path.getsize(os.path.join(self.src_dir, f))
                for f in os.listdir(self.src_dir)
            )
        except OSError:
            return self
        advisory = _conf_bytes(
            conf.get(
                "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"
            )
        )
        target = min(
            int(self.old), max(1, -(-nbytes // advisory))
        )
        conf.set("spark.sql.shuffle.partitions", str(target))
        return self

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.old)
        return False


def _stream_dirs(
    name: str, sf_dir: str, table: str, prefix: str, *extra: str
) -> dict[str, str]:
    """A streaming query's scratch dirs, made under ``_scratch(name)``:
    ``{prefix}_src_`` with ``table`` linked in (key ``"src"``), and
    one ``{prefix}_{x}_`` dir per extra name ``x`` (key ``x``)."""
    with _scratch(name) as mkdir:
        dirs = {"src": mkdir(f"{prefix}_src_")}
        _link_stream_src(sf_dir, table, dirs["src"])
        dirs.update((x, mkdir(f"{prefix}_{x}_")) for x in extra)
    return dirs


def _linked_stream(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    table: str,
    prefix: str,
    *extra: str,
) -> tuple[DataFrame, dict[str, str]]:
    """``readStream`` over ``table``: the stream and its
    :func:`_stream_dirs`, a ``"ck"`` checkpoint dir included. The
    schema comes from a batch-read probe of the same table, so the
    stream and batch paths cannot drift apart (events through
    ``events_stream_schema``, which also lets the legacy int64-nanos
    encoding be read)."""
    schema = (
        events_stream_schema(spark, sf_dir)
        if table == "events"
        else read_table(spark, sf_dir, table).schema
    )
    dirs = _stream_dirs(name, sf_dir, table, prefix, *extra, "ck")
    return spark.readStream.schema(schema).parquet(dirs["src"]), dirs


def _parquet_drain(
    stream: DataFrame, out_dir: str, ck_dir: str, output_mode: str
) -> DataFrame:
    """:func:`drain` ``stream`` into parquet at ``out_dir`` and read it
    back. Complete mode overwrites (each batch carries the whole result
    table, so the last one is the answer); append mode appends (each
    batch carries only rows no later batch revises)."""
    write_mode = {"complete": "overwrite", "append": "append"}[output_mode]

    def sink(batch_df: DataFrame, _bid: int) -> None:
        batch_df.write.mode(write_mode).parquet(out_dir)

    drain(stream, sink, ck_dir, output_mode)
    return stream.sparkSession.read.parquet(out_dir)


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    """The constant query vector: embedding of vec_id=0 (one driver-side
    row — a constant of the query, not data movement)."""
    row = (
        _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") == 0).head()
    )
    return [float(x) for x in row["embedding"]]


# ------------------------------------------------------------------- dedup
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return exact_dedup(d, "text", "doc_id")


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, "doc_id", "text", num_hashes=16, bands=2)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return simhash16(d, "doc_id", "text")


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    # sources are assigned round-robin with stride == #sources (20), so
    # a gap bound of 25 pairs each doc with its next same-source
    # neighbor — gap 5 could never produce a candidate (r2 verdict #3)
    return ngram_jaccard_pairs(
        d, "doc_id", "text", block_col="source", n=3, max_id_gap=25
    )


def q_dedup_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs(
        e, "vec_id", "embedding", block_col="label", max_id_gap=25
    )


# --------------------------------------------------------------- similarity
def q_sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") > 0)
    return cosine_topk(e, _query_vec(spark, sf_dir), "vec_id", "embedding", k=10)


def q_sim_lsh_bucket_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") > 0)
    return lsh_bucket_topk(
        e, _query_vec(spark, sf_dir), "vec_id", "embedding", k=10, bits=8
    )


def q_sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with fixed centroids (the 8 smallest vec_ids): probe
    the 2 lists nearest the query, exact top-10 within them."""
    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") > 0)
    cents = [
        [float(x) for x in r["embedding"]]
        for r in e.orderBy("vec_id").limit(8).collect()
    ]
    return ivf_topk(
        e, _query_vec(spark, sf_dir), cents, "vec_id", "embedding", k=10, nprobe=2
    )


def q_sim_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with TRAINED centroids (:func:`_trained_ivf_cents`:
    driver-local seeded Lloyd, rounded to 4 digits — deterministic
    across session/partition layouts), probing the 3 nearest lists.
    The oracle embeds the same centroids as literals (the trained/
    registry, regenerated by tools/gen_ivf_centroids.py), so the whole
    train→assign→probe→rank path is hash-checked."""
    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") > 0)
    return ivf_topk(
        e, _query_vec(spark, sf_dir), _trained_ivf_cents(spark, sf_dir),
        "vec_id", "embedding", k=10, nprobe=3,
    )


_ARTIFACTS: dict[tuple[str, str], object] = {}


def _artifact(kind: str, sf_dir: str, build):
    """The one build-once memo of the ANN artifacts — trained
    centroids and codebooks, and the index table: ``build()`` runs on
    the first call per (kind, sf_dir) in this process, so the bench
    measures each query's probe, not a retraining. Every artifact is
    a deterministic function of the sf dir's data."""
    key = (kind, sf_dir)
    if key not in _ARTIFACTS:
        _ARTIFACTS[key] = build()
    return _ARTIFACTS[key]


def _ann_train_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bounded, ordered training prefix (0 < vec_id <= 2048) of
    the shared IVF centroids and PQ codebooks: quality saturates long
    before the full corpus (faiss trains on a sample) and the cap
    keeps training cost flat as sf grows."""
    return _t(spark, sf_dir, "embeddings").filter(
        (F.col("vec_id") > 0) & (F.col("vec_id") <= 2048)
    )


def _trained_ivf_cents(spark: SparkSession, sf_dir: str) -> list:
    """The seed-42, 8-list IVF quantizer every trained IVF query
    deploys."""
    from rust_dms_cdc_operator_spark.operators.similarity import (  # noqa: PLC0415
        train_ivf_centroids,
    )

    return _artifact("ivf", sf_dir, lambda: train_ivf_centroids(
        _ann_train_rows(spark, sf_dir), "embedding", n_lists=8, seed=42
    ))


def _trained_pq_books(spark: SparkSession, sf_dir: str) -> list:
    """The seed-42 PQ codebooks (8 subspaces x 16 codes) of the PQ
    queries."""
    from rust_dms_cdc_operator_spark.operators.pq import (  # noqa: PLC0415
        train_pq_codebooks,
    )

    return _artifact("pq", sf_dir, lambda: train_pq_codebooks(
        _ann_train_rows(spark, sf_dir), "embedding", m=8, n_codes=16, seed=42
    ))


def _ivf_index(spark: SparkSession, sf_dir: str) -> str:
    """Path of the IVF-PQ index of sf_dir's embeddings: the
    list-partitioned table with write-time PQ codes
    (operators/pq.write_ivfpq_partitioned) under the shared trained
    artifacts. Built once per process under :func:`_scratch_root`, so
    no other process, checkout or same-named sf dir reads or
    overwrites it; :func:`prepare_bench` builds it outside the timed
    loop."""
    from rust_dms_cdc_operator_spark.operators.pq import (  # noqa: PLC0415
        write_ivfpq_partitioned,
    )

    def build() -> str:
        path = tempfile.mkdtemp(prefix="ivf_index_", dir=_scratch_root())
        write_ivfpq_partitioned(
            _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") > 0),
            path,
            _trained_ivf_cents(spark, sf_dir),
            _trained_pq_books(spark, sf_dir),
            "embedding",
        )
        return path

    return _artifact("index", sf_dir, build)


def q_sim_ivf_probe_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF probe as deployed: against the pre-materialized
    list-partitioned index (:func:`_ivf_index`), where the list filter
    prunes partitions at the scan. Same ranking semantics — and
    oracle — as sim_ivf_trained; only the physical access path
    differs."""
    return ivf_topk(
        spark.read.parquet(_ivf_index(spark, sf_dir)),
        _query_vec(spark, sf_dir), _trained_ivf_cents(spark, sf_dir),
        "vec_id", "embedding", k=10, nprobe=3,
    )


def prepare_bench(spark: SparkSession, sf_dir: str) -> None:
    """Offline setup a production deployment does once — called by
    bench.py OUTSIDE the timed loop (and harmless to skip: queries
    build what's missing on first use)."""
    _ivf_index(spark, sf_dir)


# --------------------------------------------------------------------- text
def q_docs_unigram_logppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity quality signal from the corpus's own
    unigram distribution (operators/perplexity.py) — the distributed
    stand-in for external-LM perplexity filtering."""
    from rust_dms_cdc_operator_spark.operators.perplexity import (  # noqa: PLC0415
        unigram_logppl,
    )

    d = _t(spark, sf_dir, "documents")
    return unigram_logppl(d, "doc_id", "text")


def q_docs_window_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: split each document into overlapping
    64-token windows with stride 48 (the RAG/embedding preprocessing
    fan-out). One posexplode over the window starts — linear in
    output, no shuffle at all until a downstream op needs one."""
    d = _t(spark, sf_dir, "documents")
    size, stride = 64, 48
    ws = F.split(F.col("text"), " ")
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(ws), F.lit(1)), F.lit(stride)
    )
    ex = d.select(
        "doc_id", ws.alias("ws"), F.posexplode(starts).alias("pos", "start")
    )
    return ex.select(
        "doc_id",
        F.col("pos").cast("long").alias("chunk_idx"),
        F.array_join(F.slice("ws", F.col("start"), size), " ").alias(
            "chunk_text"
        ),
    )


def q_docs_canonical_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical selection policy over near-dup groups: instead of
    keeping the min-id member, keep each group's HIGHEST-QUALITY
    member (ties to the lowest id) — the policy a curation pipeline
    actually wants. Composes minhash pairs → connected components →
    quality argmax per group; singleton docs are their own group."""
    from rust_dms_cdc_operator_spark.operators.graph import (  # noqa: PLC0415
        dedup_groups,
    )

    d = _t(spark, sf_dir, "documents")
    # salt=8: CC swallows the full uncapped pair stream; one hot band
    # bucket otherwise emits its quadratic pair volume from a single
    # task (AQE can't split output-exploding joins — see
    # minhash_lsh_pairs docstring). Same pair set, 8x emission spread.
    pairs = minhash_lsh_pairs(
        d, "doc_id", "text", num_hashes=16, bands=2, salt=8
    )
    # round 12: no materialize_leaf — single CC pass, e0 is the
    # materialization (same measurement as q_dedup_groups)
    groups = dedup_groups(pairs.select("id_a", "id_b"))
    scored = d.select(
        "doc_id", quality_score_expr(F.col("text")).alias("quality")
    )
    joined = scored.join(groups, "doc_id", "left").withColumn(
        "group_id", F.coalesce(F.col("group_id"), F.col("doc_id"))
    )
    w = Window.partitionBy("group_id").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "group_id",
            F.col("doc_id").alias("canonical_id"),
            F.round("quality", 6).alias("quality"),
        )
    )


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", langid_expr(F.col("text")).alias("pred_lang"))


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    sw = (
        stopword_hits(t, "en") + stopword_hits(t, "de") + stopword_hits(t, "fr")
    )
    # longs, not ints: DuckDB len()/length() return BIGINT and the
    # driver's schema compare may be type-sensitive
    return d.select(
        "doc_id",
        whitespace_token_count(t).cast("long").alias("n_tokens"),
        punct_count(t).cast("long").alias("punct_chars"),
        sw.cast("long").alias("stop_hits"),
        quality_score_expr(t).alias("quality"),
    )


def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        whitespace_token_count(F.col("text")).cast("long").alias("ws_tokens"),
        regex_token_count(F.col("text")).cast("long").alias("re_tokens"),
    )


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint_expr(F.col("text")).alias("fingerprint"))


def q_docs_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite curation pipeline — what a training-data run actually
    chains: quality-score every doc → threshold filter → exact dedup
    (smallest doc_id per content wins) → per-source yield stats. One
    declarative plan: scan → window on md5(text) → partial-agg groupBy;
    Catalyst fuses the scoring into the scan stage."""
    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    scored = d.select(
        "doc_id",
        "source",
        "text",
        quality_score_expr(t).alias("quality"),
        whitespace_token_count(t).cast("long").alias("n_tokens"),
    )
    kept = scored.filter(F.col("quality") >= 0.5)
    w = Window.partitionBy(F.md5(F.col("text"))).orderBy("doc_id")
    uniq = kept.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") == 1
    )
    # min/max (order-insensitive) rather than avg: a double SUM's
    # partial-merge order is engine/partitioning dependent
    return uniq.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs_kept"),
        F.sum("n_tokens").alias("tokens_kept"),
        F.round(F.min("quality"), 6).alias("min_quality"),
        F.round(F.max("quality"), 6).alias("max_quality"),
    )


def q_docs_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: the synthetic corpus carries no real PII, so the
    query plants a deterministic email/URL/phone per doc and asserts
    the redaction chain strips them — functions/text.redact_pii_expr."""
    from rust_dms_cdc_operator_spark.functions.text import redact_pii_expr  # noqa: PLC0415

    d = _t(spark, sf_dir, "documents")
    dirty = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or https://ex.com/d/"),
        F.col("doc_id").cast("string"),
        F.lit(" tel +1 (555) 010-"), F.col("doc_id").cast("string"),
    )
    return d.select(
        "doc_id", redact_pii_expr(dirty).alias("clean_text")
    )


def q_sim_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch retrieval eval: exact top-3 neighbors for the first five
    vectors as the query set, every query scored in ONE candidate scan
    (queries broadcast, two-stage shard ranking) —
    operators/similarity.batch_cosine_topk."""
    from rust_dms_cdc_operator_spark.operators.similarity import (  # noqa: PLC0415
        batch_cosine_topk,
    )

    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    return batch_cosine_topk(
        e.filter(F.col("vec_id") >= 5), queries, k=3
    )


def q_sim_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantized MIPS top-10 (operators/similarity.quantized_topk):
    floor-quantize corpus + query with the same rule, rank by the exact
    integer dot product — the 4x-memory-reduction scan path, with no
    floating point after quantization."""
    from rust_dms_cdc_operator_spark.operators.similarity import (  # noqa: PLC0415
        quantized_topk,
    )

    e = _t(spark, sf_dir, "embeddings")
    return quantized_topk(e, _query_vec(spark, sf_dir), k=10)


def q_docs_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP composite: the full training-data curation story in one
    declarative plan — quality gate, repetition gate, benchmark
    contamination removal (docs < 40 stand in for the eval set),
    exact-dedup canonicalization, deterministic train/val/test split,
    then per-(split, lang) doc/token yield. Every stage is one of the
    oracle-proven operators; Catalyst fuses the scalar gates into the
    scan and the only shuffles are the contamination gram join, the
    dedup window, and the final partial-agg groupBy."""
    from rust_dms_cdc_operator_spark.operators.dedup import (  # noqa: PLC0415
        contamination_hits,
    )
    from rust_dms_cdc_operator_spark.operators.split import with_split  # noqa: PLC0415

    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    base = d.select(
        "doc_id",
        "lang",
        "text",
        quality_score_expr(t).alias("q"),
        repetition_ratio_expr(t, 3).alias("rr"),
        whitespace_token_count(t).cast("long").alias("n_tokens"),
    )
    corpus = base.filter(F.col("doc_id") >= 40)
    bench = d.filter(F.col("doc_id") < 40)
    contaminated = contamination_hits(corpus, bench, n=5).select("doc_id")
    kept = (
        corpus.join(contaminated, "doc_id", "left_anti")
        .filter((F.col("q") >= 0.3) & (F.col("rr") <= 0.2))
    )
    w = Window.partitionBy(F.md5(F.col("text"))).orderBy("doc_id")
    uniq = kept.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") == 1
    )
    sp = with_split(uniq, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05})
    return sp.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("docs_n"),
        F.sum("n_tokens").alias("tokens_sum"),
    )


def q_events_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window event aggregation (the windowed-agg shape the
    streaming path runs with a watermark — see
    tests/test_streaming.py::test_watermarked_window_agg): per
    (hour, event_type) exact counts, distinct users, and an integer
    milli-value sum (double SUM merge order is not engine-portable;
    round(value*1000) is)."""
    e = read_events(spark, sf_dir)
    win = F.window(F.col("ts"), "1 hour")
    return (
        e.select(win.alias("w"), "event_type", "user_id", "value")
        .groupBy(F.col("w.start").alias("window_start"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("events_n"),
            F.countDistinct("user_id").alias("users_n"),
            F.sum(F.round(F.col("value") * 1000).cast("long")).alias(
                "value_milli_sum"
            ),
        )
    )


def q_events_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward AS-OF join (operators/asof.py): every click event is
    enriched with the user's latest purchase AT OR BEFORE the click —
    the point-in-time-correct join (no future leakage) that powers
    event-time dimension enrichment and training-feature joins. The
    right side is pre-compacted to one row per (user, ts) with a
    max-event_id winner so ties are deterministic in both engines;
    the oracle is DuckDB's native ASOF LEFT JOIN, an entirely
    independent implementation of the same semantics (union+window
    carry-forward here vs a dedicated range matcher there)."""
    from rust_dms_cdc_operator_spark.operators.asof import (  # noqa: PLC0415
        asof_join,
    )

    e = read_events(spark, sf_dir)
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("p_event_id"),
            F.max_by("value", "event_id").alias("p_value"),
        )
    )
    out = asof_join(
        clicks, purchases, on=["user_id"], left_ts="ts", right_ts="ts",
        value_cols=["p_event_id", "p_value"], suffix="",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("p_event_id").alias("purchase_event_id"),
        # raw copied doubles — no arithmetic, so cross-engine equality
        # is exact without rounding
        F.col("p_value").alias("purchase_value"),
    )


def q_events_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history (operators/scd2.py): every non-delete CDC
    event becomes a versioned row valid [its ts, next event's ts); a
    delete (error event) closes the interval and emits nothing —
    event-time time travel, the history the reference's in-place
    replay destroys. event_id tie-breaks same-instant events so the
    intervals are deterministic in both engines."""
    from rust_dms_cdc_operator_spark.operators.scd2 import (  # noqa: PLC0415
        build_history,
    )

    ev = read_events(spark, sf_dir).withColumn(
        "Op",
        F.when(F.col("event_type") == "error", "D").otherwise("U"),
    )
    hist = build_history(
        ev, ["user_id"], order_col="ts", tiebreak_cols=["event_id"]
    )
    return hist.select(
        "event_id", "user_id", "event_type", "value",
        "valid_from", "valid_to", "is_current",
    )


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessionization with a 30-minute inactivity gap —
    ``F.session_window`` (the streaming-native session operator, run in
    batch mode). Spark's session interval is half-open: an event at
    exactly previous_ts + gap starts a NEW session; the DuckDB
    gaps-and-islands oracle mirrors that with ``diff >= gap``."""
    e = read_events(spark, sf_dir)
    return (
        e.select("user_id", "ts")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("events_n"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .select("user_id", "session_start", "session_end", "events_n")
    )


# --------------------------------------------------------------- multimodal
def q_mm_binary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    media = with_media_columns(d, "doc_id", "text", kind="blob")
    return extract_media_features(media)


def q_mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling through the Arrow-batched
    `sample_frames` fan-out (one blob → N stride-64 frame rows, capped
    at 8): the sampler stub is deterministic byte slicing, so the
    whole mapInPandas path — schema, fan-out arithmetic, batch shape —
    is oracle-checkable. Frames are emitted as md5 + length (the
    fixture text is pure ASCII, so DuckDB's VARCHAR substring sees the
    identical bytes)."""
    from rust_dms_cdc_operator_spark.functions.multimodal import (  # noqa: PLC0415
        sample_frames,
    )

    d = _t(spark, sf_dir, "documents")
    media = with_media_columns(d, "doc_id", "text", kind="blob")
    frames = sample_frames(media, every_n_bytes=64, max_frames=8)
    return frames.select(
        "media_id",
        "frame_idx",
        F.md5(F.col("frame")).alias("frame_md5"),
        F.octet_length(F.col("frame")).cast("long").alias("frame_bytes"),
    )


def q_mm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode through functions/mediacodec.py: synthesize
    well-formed PPM images (even doc_id) and RIFF/WAV audio (odd
    doc_id) entirely JVM-side — format_string for the netpbm ASCII
    header, hex byte-swapping + unhex for WAV's little-endian fields —
    then run the Arrow-batched `decode_media_features` and emit what
    the PYTHON BYTE PARSER extracted. The oracle computes the same
    geometry/audio facts directly from doc_id arithmetic, so the
    synth (JVM) and the parse (Python struct) are independent paths
    that must agree bit-for-bit; a parser regression (endianness, chunk
    walk, comment handling) breaks the match. duration_ms uses floor
    division — the engine-portable convention."""
    from rust_dms_cdc_operator_spark.functions.multimodal import (  # noqa: PLC0415
        decode_media_features,
    )

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    # image params (even ids): PPM w×h with a comment line in the header
    ppm = F.encode(
        F.format_string(
            "P6\n# synthetic\n%d %d\n255\n",
            (F.lit(1) + did % 64).cast("int"),
            (F.lit(1) + did % 48).cast("int"),
        ),
        "UTF-8",
    )
    # audio params (odd ids): 16-bit PCM, varying channels/rate/length
    ch = (F.lit(1) + F.floor((did % 4) / 2)).cast("int")
    rate = (F.lit(8000) + (did % 8) * 1000).cast("int")
    n_samp = (F.lit(100) + did % 50).cast("int")
    block = ch * 2
    data_sz = n_samp * block

    def le(x: F.Column, nbytes: int) -> F.Column:
        h = F.lpad(F.hex(x), 2 * nbytes, "0")
        return F.unhex(
            F.concat(
                *[
                    F.substring(h, 2 * i + 1, 2)
                    for i in reversed(range(nbytes))
                ]
            )
        )

    wav = F.concat(
        F.encode(F.lit("RIFF"), "UTF-8"),
        le(data_sz + 36, 4),
        F.encode(F.lit("WAVEfmt "), "UTF-8"),
        le(F.lit(16), 4),
        le(F.lit(1), 2),          # PCM
        le(ch, 2),
        le(rate, 4),
        le(rate * block, 4),      # byte rate
        le(block, 2),
        le(F.lit(16), 2),         # bits per sample
        F.encode(F.lit("data"), "UTF-8"),
        le(data_sz, 4),
        F.unhex(F.repeat(F.lit("00"), data_sz)),  # silent PCM body
    )
    media = d.select(
        did.alias("media_id"),
        F.when(did % 2 == 0, ppm).otherwise(wav).alias("payload"),
        F.struct(
            F.when(did % 2 == 0, "image").otherwise("audio").alias("kind"),
            F.lit(None).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )
    return decode_media_features(media)


def q_mm_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL JPEG header decode (functions/mediacodec.parse_jpeg — the
    format every production multimodal corpus actually contains):
    synthesize well-formed JPEG byte streams entirely JVM-side — SOI,
    a constant JFIF APP0, a VARIABLE-LENGTH comment segment (so the
    marker-segment length walk is exercised, not just a fixed
    offset), then SOF0 (even ids) or SOF2/progressive (odd ids) with
    big-endian geometry derived from doc_id, and EOI — and run the
    Arrow-batched `decode_media_features`. Emitted geometry comes
    from the PYTHON SEGMENT WALKER; the oracle recomputes it from
    doc_id arithmetic, so the JVM synth and the struct-level parse
    are independent paths that must agree bit-for-bit (a wrong
    endianness, a length field off by the 2 bytes it includes, or a
    mis-skipped COM segment all break the match)."""
    from rust_dms_cdc_operator_spark.functions.multimodal import (  # noqa: PLC0415
        decode_media_features,
    )

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    width = (F.lit(16) + did % 624).cast("int")
    height = (F.lit(16) + did % 464).cast("int")
    is_rgb = did % 3 != 0
    ncomp = F.when(is_rgb, F.lit(3)).otherwise(F.lit(1)).cast("int")

    def be(x: F.Column, nbytes: int) -> F.Column:
        # JPEG fields are big-endian: hex + zero-pad is the byte order
        return F.unhex(F.lpad(F.hex(x), 2 * nbytes, "0"))

    app0 = F.unhex(  # constant JFIF unit-density APP0 segment
        F.lit("FFE00010" + "4A46494600" + "0101" + "00"
              + "0001" + "0001" + "0000")
    )
    com_len = (F.lit(1) + did % 17).cast("int")
    com = F.concat(
        F.unhex(F.lit("FFFE")),
        be(com_len + 2, 2),  # segment length INCLUDES its own 2 bytes
        F.unhex(F.repeat(F.lit("41"), com_len)),
    )
    sof_marker = F.when(did % 2 == 0, F.lit("FFC0")).otherwise(
        F.lit("FFC2")
    )
    comps = F.when(
        is_rgb, F.lit("011100" + "021101" + "031101")
    ).otherwise(F.lit("011100"))
    sof = F.concat(
        F.unhex(sof_marker),
        be(F.lit(8) + ncomp * 3, 2),
        F.unhex(F.lit("08")),  # 8-bit precision
        be(height, 2),
        be(width, 2),
        be(ncomp, 1),
        F.unhex(comps),
    )
    payload = F.concat(
        F.unhex(F.lit("FFD8")), app0, com, sof, F.unhex(F.lit("FFD9"))
    )
    media = d.select(
        did.alias("media_id"),
        payload.alias("payload"),
        F.struct(
            F.lit("image").alias("kind"),
            F.lit(None).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )
    return decode_media_features(media)


def q_mm_decode_mp3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MP3 header decode (functions/mediacodec.parse_mp3 — with
    JPEG, the other format every production multimodal corpus
    actually contains): synthesize well-formed MPEG-1 Layer III
    streams entirely JVM-side — an optional ID3v2 tag (doc_id % 4 ==
    0, so the syncsafe skip is exercised), then 2-4 CBR frames whose
    4-byte headers pack a doc_id-derived bitrate index (1-14),
    sample-rate index (0-2) and channel mode, each followed by
    exactly floor(144 * bitrate / rate) - 4 zero body bytes — and run
    the Arrow-batched `decode_media_features`. Emitted stream facts
    come from the PYTHON FRAME WALKER (it must step frame to frame by
    the computed length to count them all); the oracle recomputes
    sample count/rate/duration from doc_id arithmetic, so the JVM
    synth and the struct-level walk are independent paths that must
    agree bit-for-bit (a wrong bitrate table entry, a mis-sized
    ID3v2 skip, or an off-by-padding frame step all break the
    match)."""
    from rust_dms_cdc_operator_spark.functions.multimodal import (  # noqa: PLC0415
        decode_media_features,
    )

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    br_i = (F.lit(1) + did % 14).cast("int")  # 1..14: never free/bad
    sr_i = (did % 3).cast("int")
    mono = did % 2 == 0
    nframes = (F.lit(2) + did % 3).cast("int")
    bitrate_kbps = F.element_at(
        F.array(*[F.lit(x) for x in (32, 40, 48, 56, 64, 80, 96, 112,
                                     128, 160, 192, 224, 256, 320)]),
        br_i,
    )
    rate = F.element_at(
        F.array(F.lit(44100), F.lit(48000), F.lit(32000)), sr_i + 1
    )
    # MPEG-1 Layer III frame length, padding 0: exact integer floor
    # (values ≤ 144*320000 — double-safe, but floor keeps it honest)
    frame_len = F.floor(F.lit(144) * bitrate_kbps * 1000 / rate).cast("int")
    frame_hex = F.concat(
        F.lit("FFFB"),  # sync + MPEG-1 + Layer III + no CRC
        F.lpad(F.hex(br_i * 16 + sr_i * 4), 2, "0"),
        F.when(mono, F.lit("C0")).otherwise(F.lit("00")),
        F.repeat(F.lit("00"), frame_len - 4),
    )
    # ID3v2.4 tag, no footer, syncsafe size 10, zeroed body
    id3_hex = F.lit("494433" + "0400" + "00" + "0000000A" + "00" * 10)
    payload = F.unhex(
        F.concat(
            F.when(did % 4 == 0, id3_hex).otherwise(F.lit("")),
            F.repeat(frame_hex, nframes),
        )
    )
    media = d.select(
        did.alias("media_id"),
        payload.alias("payload"),
        F.struct(
            F.lit("audio").alias("kind"),
            F.lit(None).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )
    return decode_media_features(media)


def q_docs_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: corpus docs (doc_id >= 40)
    sharing any word 5-gram with the 'benchmark' docs (doc_id < 40 as
    the stand-in eval set); benchmark grams broadcast, corpus side is
    one linear explode — operators/dedup.contamination_hits."""
    from rust_dms_cdc_operator_spark.operators.dedup import (  # noqa: PLC0415
        contamination_hits,
    )

    d = _t(spark, sf_dir, "documents")
    return contamination_hits(
        d.filter(F.col("doc_id") >= 40), d.filter(F.col("doc_id") < 40), n=5
    )


def q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash pair edges → connected components → duplicate groups
    (operators/graph.py): the step that turns pairwise near-dup
    evidence into keep-one-per-group decisions. CC must swallow the
    FULL uncapped pair stream (the oracle's recursive closure is over
    every candidate pair), so emission is salted 8 ways — one hot
    band bucket otherwise emits its entire quadratic pair volume from
    a single task (AQE can't split it: the skew is in join OUTPUT,
    not shuffle-read size). Same output set, 8x emission
    parallelism."""
    from rust_dms_cdc_operator_spark.operators.graph import dedup_groups  # noqa: PLC0415

    d = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        d, "doc_id", "text", num_hashes=16, bands=2, salt=8
    )
    # round 12: NO materialize_leaf here, deliberately — the salted
    # stream feeds ONE connected-components pass whose e0 cache is
    # already the materialization; an extra leaf copy measured net
    # slower (build 3.5 -> 4.2-4.9 s)
    return dedup_groups(pairs.select("id_a", "id_b"))


def q_docs_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-distribution drift, KL(P_source ‖ P_corpus)
    (operators/perplexity.source_token_drift): the corpus-health scan
    that flags a source whose token mix diverges before per-doc
    scoring runs."""
    from rust_dms_cdc_operator_spark.operators.perplexity import (  # noqa: PLC0415
        source_token_drift,
    )

    d = _t(spark, sf_dir, "documents")
    return source_token_drift(d, "source", "text")


def q_docs_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-incremental exact dedup (operators/dedup.incremental_dedup):
    a 'new ingest batch' (doc_id % 4 == 0 here) deduped against the
    already-ingested corpus (the rest) — corpus reduces to distinct
    digests, batch anti-joins then keeps min-id per digest. The corpus
    text payload never shuffles."""
    from rust_dms_cdc_operator_spark.operators.dedup import (  # noqa: PLC0415
        incremental_dedup,
    )

    d = _t(spark, sf_dir, "documents")
    return incremental_dedup(
        d.filter(F.col("doc_id") % 4 == 0),
        d.filter(F.col("doc_id") % 4 != 0),
        "doc_id",
        "text",
    )


def q_docs_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-20 word 3-grams by occurrence
    (operators/dedup.top_ngrams): boilerplate/template detection. One
    explode + one gram shuffle + TakeOrderedAndProject; deterministic
    cut via (count desc, gram asc) total order."""
    from rust_dms_cdc_operator_spark.operators.dedup import top_ngrams  # noqa: PLC0415

    d = _t(spark, sf_dir, "documents")
    return top_ngrams(d, "text", n=3, k=20)


def q_docs_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global permutation for training order
    (operators/split.deterministic_shuffle): rank by md5(seed:id) via
    the no-single-partition-window global rank."""
    from rust_dms_cdc_operator_spark.operators.split import (  # noqa: PLC0415
        deterministic_shuffle,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id")
    return deterministic_shuffle(d, "doc_id", seed="42").select(
        "doc_id", "shuffle_rank"
    )


# ------------------------------------------------------- split / sampling
def q_docs_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment: md5-bucket
    arithmetic, reproducible across engines/partitionings (rand() is
    not) — operators/split.py."""
    from rust_dms_cdc_operator_spark.operators.split import with_split  # noqa: PLC0415

    d = _t(spark, sf_dir, "documents")
    return with_split(
        d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    ).select("doc_id", "split")


def q_docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic downsampling (e.g. rebalance a
    multilingual corpus): keep 50% of en, 25% of de, 100% of fr,
    drop the rest — a literal CASE rate map, no join, no shuffle."""
    from rust_dms_cdc_operator_spark.operators.split import (  # noqa: PLC0415
        stratified_sample,
    )

    d = _t(spark, sf_dir, "documents")
    return stratified_sample(
        d, "doc_id", "lang",
        {"en": 0.5, "de": 0.25, "fr": 1.0},
        default_rate=0.0,
    ).select("doc_id", "lang")


def q_docs_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: concatenate docs in doc_id order, slice every
    2048 tokens → (pack_id, pack_offset) per doc. Exact global prefix
    sum via the weighted rank machinery (one shuffle, no
    single-partition window) — operators/split.pack_sequences."""
    from rust_dms_cdc_operator_spark.operators.split import pack_sequences  # noqa: PLC0415

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        whitespace_token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    return pack_sequences(d, "doc_id", "n_tokens", budget=2048)


def q_docs_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repeated 3-gram ratio (boilerplate/looped-text
    quality signal) — functions/text.repetition_ratio_expr."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", repetition_ratio_expr(F.col("text"), 3).alias("rep_ratio")
    )


def q_docs_token_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language exact token-count percentiles (corpus length
    profile): F.percentile (exact, linear interpolation — matches
    DuckDB quantile_cont bit-for-bit after rounding)."""
    d = _t(spark, sf_dir, "documents").select(
        "lang",
        whitespace_token_count(F.col("text")).cast("double").alias("n_tokens"),
    )
    pct = F.percentile(F.col("n_tokens"), F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)))
    return d.groupBy("lang").agg(
        F.round(F.element_at(pct, 1), 4).alias("p50"),
        F.round(F.element_at(pct, 2), 4).alias("p90"),
        F.round(F.element_at(pct, 3), 4).alias("p99"),
    )


def q_docs_rebalance_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data mixing: downsample sources toward target token shares
    (src0 3% / src1 2% / src2 5% of the total corpus tokens — each
    source holds ~5%, so src0/src1 genuinely downsample and src2 caps
    at keep-all; other sources dropped) — operators/split.rebalance_mix. Emits the
    surviving docs' ids + tokens so the oracle audits the exact kept
    set."""
    from rust_dms_cdc_operator_spark.operators.split import rebalance_mix  # noqa: PLC0415

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        whitespace_token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    return rebalance_mix(
        d, "doc_id", "source", "n_tokens",
        {"src0": 0.03, "src1": 0.02, "src2": 0.05},
    )


# ---------------------------------------------------------------- streaming
def q_stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming replay of the events table (availableNow →
    foreachBatch merge into the bucketed incremental state table, so a
    microbatch costs O(touched buckets), never O(total state)); result
    must equal the batch W1 compaction, so it shares the w1 oracle."""
    # the stream's explicit schema comes from a batch-read probe of the
    # same file, so both paths agree on the ts encoding
    schema = events_stream_schema(spark, sf_dir)

    def add_op(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "Op", F.when(F.col("event_type") == "error", "D").otherwise("U")
        )

    dirs = _stream_dirs(
        "stream_cdc_apply", sf_dir, "events", "cdc_stream", "state"
    )
    final = stream_replay_bucketed(
        spark,
        dirs["src"],
        schema,
        pk_cols=["user_id"],
        order_cols=["ts", "event_id"],
        state_dir=dirs["state"],
        transform=add_op,
        # buckets sized to the state (~hundreds of keys here); the
        # 100 TB deployment raises this so a bucket stays executor-sized
        num_buckets=8,
    )
    return final.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


def q_docs_length_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile length filter (winsorize-style curation gate): keep
    documents whose token count lies within [p05, p95] of the corpus
    distribution. The two cut points are ONE tiny aggregate collected
    as driver scalars (the literal-lookup pattern every bounded
    `.collect()` in this repo follows), then the filter is a pure
    row-local predicate — scan-shaped, pushdown-friendly, no join."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        whitespace_token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    lo, hi = d.agg(
        F.percentile("n_tokens", 0.05), F.percentile("n_tokens", 0.95)
    ).first()
    return d.filter(
        (F.col("n_tokens") >= F.lit(float(lo)))
        & (F.col("n_tokens") <= F.lit(float(hi)))
    )


def q_dedup_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production two-stage near-dup census: pairs that banded
    MinHash-LSH (2 bands x 8 rows) proposes AND whose exact Jaccard
    reaches the standard dedup threshold 0.8. For a positive
    threshold that set is the exact prefix-filter join at 0.8
    (operators/dedup.prefix_jaccard_join, 32-bit-hashed shingles)
    restricted to pairs that share a band key
    (operators/dedup.lsh_band_filter) — so no candidate stream is
    enumerated: the synthetic corpus's tiny vocabulary makes LSH
    collide on ~16% of ALL pairs, while the prefix join only reaches
    threshold-feasible pairs through each doc's rarest shingles."""
    from rust_dms_cdc_operator_spark.operators.dedup import (  # noqa: PLC0415
        lsh_band_filter,
        prefix_jaccard_join,
    )

    d = _t(spark, sf_dir, "documents")
    return lsh_band_filter(
        prefix_jaccard_join(
            d, "doc_id", "text", n=3, min_jaccard=0.8, hash_shingles=True
        ),
        d, "doc_id", "text", num_hashes=16, bands=2,
    )


def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted fact-dim join (operators/skew.salted_join — the explicit
    fallback for hot keys AQE's sort-merge-only skew split can't fix)
    feeding a rollup: the salt must vanish from the result, so the
    oracle is the PLAIN join — correctness of the rewrite is exactly
    'salted == unsalted'. Exact integer-cent money sum, per the
    engine's cross-engine arithmetic rules."""
    from rust_dms_cdc_operator_spark.operators.skew import salted_join  # noqa: PLC0415

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"), "o_totalprice"
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = salted_join(o, c, ["c_custkey"], salt_buckets=8)
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("orders_n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "price_cents_sum"
        ),
    )


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential funnel over the event stream: users who viewed, then
    later clicked, then later purchased — each stage anchored at the
    EARLIEST qualifying event after the previous stage (min over the
    (ts, event_id) total order, so ties are deterministic on every
    engine). Three stage-filtered aggregations joined on user_id: no
    per-user array materialization, so a hot user with millions of
    events costs a bigger agg group, not executor memory."""
    ev = read_events(spark, sf_dir)
    key = F.struct(F.col("ts"), F.col("event_id"))

    def stage(df: DataFrame, etype: str, after: DataFrame | None) -> DataFrame:
        s = df.filter(F.col("event_type") == etype).select(
            "user_id", key.alias("k")
        )
        if after is not None:
            s = s.join(after, "user_id").filter(
                F.col("k") > F.col("prev")
            )
        return s.groupBy("user_id").agg(F.min("k").alias("prev"))

    v = stage(ev, "view", None)
    c = stage(ev, "click", v)
    p = stage(ev, "purchase", c)
    # stage totals combine via a tagged UNION + conditional counts
    # (the count_diff pattern) — no 1-row crossJoins, no BNLJ node
    tag = lambda df, t: df.select(F.lit(t).alias("_s"))  # noqa: E731
    return (
        tag(v, "v").unionByName(tag(c, "c")).unionByName(tag(p, "p"))
        .agg(
            F.count(F.when(F.col("_s") == "v", 1)).alias("users_view"),
            F.count(F.when(F.col("_s") == "c", 1)).alias(
                "users_view_click"
            ),
            F.count(F.when(F.col("_s") == "p", 1)).alias(
                "users_full_funnel"
            ),
        )
    )


def q_docs_top_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group (grouped-window rank): the 3 highest-quality
    docs of every source, quality as the exact integer numerator the
    text pack exposes (quality_score_expr's rounded double would tie
    unpredictably; the md5 of the text breaks residual ties
    deterministically). One hash exchange on the group key."""
    t = F.col("text")
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        # deterministic integer rank key: longer docs with more
        # distinct words first (a simple quality proxy that needs no
        # float rounding), md5 as the total-order tie-break
        F.size(F.array_distinct(F.split(t, " "))).alias("distinct_words"),
        F.length(t).alias("n_chars_live"),
        F.md5(t).alias("tb"),
    )
    w = Window.partitionBy("source").orderBy(
        F.col("distinct_words").desc(),
        F.col("n_chars_live").desc(),
        F.col("tb"),
        F.col("doc_id"),
    )
    return (
        d.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("source", "doc_id", "distinct_words", "rk")
    )


def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohorts: users grouped by first-seen date, counted on
    each later active day as an offset from their cohort date — the
    standard D1/D7/D30 retention matrix. One distinct over (user, day)
    then a user-key join to the per-user minimum; both shuffles on the
    user key."""
    ev = read_events(spark, sf_dir)
    first = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_date")
    )
    active = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    return (
        active.join(first, "user_id")
        .groupBy(
            "cohort_date",
            F.datediff("d", "cohort_date").cast("long").alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("users_n"))
    )


def q_debezium_cdc_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 compaction over a DEBEZIUM-envelope source
    (sources/debezium.py): the events table is rendered to Debezium
    JSONL on disk (op c/u/d from the event type, before-image carries
    deletes, ts_ms from the event time), read back through the
    adapter's schema'd one-pass scan, and compacted. The oracle
    computes the same final state from the events view directly, so
    the round-trip THROUGH the envelope — op mapping, delete
    before-image, ms truncation — is what's being checked."""
    from pyspark.sql import types as T  # noqa: PLC0415

    from rust_dms_cdc_operator_spark.sources.debezium import (  # noqa: PLC0415
        debezium_compact,
    )

    ev = read_events(spark, sf_dir)
    row = F.struct("event_id", "user_id", "event_type", "value")
    op = (
        F.when(F.col("event_type") == "error", "d")
        .when(F.col("event_type") == "click", "u")
        .otherwise("c")
    )
    env = ev.select(
        F.when(op == "d", row).alias("before"),
        F.when(op != "d", row).alias("after"),
        op.alias("op"),
        F.expr("unix_micros(ts) div 1000").alias("ts_ms"),
    )
    with _scratch() as mkdir:
        tmp = mkdir("dbz_jsonl_")

    env.select(
        F.to_json(F.struct("before", "after", "op", "ts_ms")).alias("value")
    ).write.mode("overwrite").text(tmp)

    row_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    return debezium_compact(
        spark, tmp, row_schema, ["user_id"],
        # ms truncation can collide within a key: event_id tie-break
        order_cols=["ts_ms", "event_id"],
    )


def q_stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming form of the tumbling-window aggregation, complete
    output mode (availableNow): the aggregation state after replaying
    every file must equal the batch answer exactly, so it SHARES the
    `events_tumbling_counts` oracle — the same cross-check pattern
    `stream_cdc_apply` uses against the W1 oracle. `countDistinct` is
    unsupported in streaming aggs; `size(collect_set(...))` computes
    the same exact count with state bounded per (window, event_type)
    group."""
    from rust_dms_cdc_operator_spark.fixtures import normalized_ts  # noqa: PLC0415

    stream, dirs = _linked_stream(
        spark, sf_dir, "stream_tumbling_counts", "events", "tumble_stream",
        "out",
    )
    stream = stream.withColumn("ts", normalized_ts(stream, "ts"))
    agg = (
        stream.select(
            F.window("ts", "1 hour").alias("w"),
            "event_type", "user_id", "value",
        )
        .groupBy(F.col("w.start").alias("window_start"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("events_n"),
            F.size(F.collect_set("user_id")).cast("long").alias("users_n"),
            F.sum(F.round(F.col("value") * 1000).cast("long")).alias(
                "value_milli_sum"
            ),
        )
    )
    return _parquet_drain(agg, dirs["out"], dirs["ck"], "complete")


def q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/range join (operators/rangejoin.interval_join): events
    matched to half-open campaign windows [start, end) via the
    bucketized equi-join — a bare range predicate would plan as a
    nested-loop product; bucketization makes it a hash join on the
    day bucket with the exact range as a post-filter. Campaign windows
    are derived deterministically (30 OVERLAPPING 36-hour windows,
    one per day of 2024-01) so both engines build the identical
    interval table — overlap means an event can match two campaigns,
    the multiplicity a range join must preserve."""
    from rust_dms_cdc_operator_spark.operators.rangejoin import (  # noqa: PLC0415
        interval_join,
    )

    e = read_events(spark, sf_dir).select("event_id", "user_id", "ts")
    iv = spark.range(30).select(
        F.col("id").alias("campaign_id"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.expr("make_dt_interval(id)")
        ).alias("c_start"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.expr("make_dt_interval(id, 36)")
        ).alias("c_end"),
    )
    j = interval_join(
        e, iv, "ts", "c_start", "c_end", bucket_width_seconds=86_400
    )
    return j.groupBy("campaign_id").agg(
        F.count(F.lit(1)).alias("events_n"),
        F.countDistinct("user_id").alias("users_n"),
    )


def q_docs_kmv_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch (operators/sketch.kmv_cardinality):
    per-source estimate of distinct document texts next to the exact
    count. Deterministic md5-based sketch, so the ESTIMATE itself is
    oracle-checked — the cross-engine-checkable stand-in for
    approx_count_distinct, and (by union+re-truncate mergeability)
    for distributed set-union cardinality."""
    from rust_dms_cdc_operator_spark.operators.sketch import (  # noqa: PLC0415
        kmv_cardinality,
    )

    d = _t(spark, sf_dir, "documents")
    # k=16 (not the production 64+): the fixture has ~50 distinct
    # texts per source, and the gate must exercise the ESTIMATOR
    # branch, not just the saturated-exact one
    return kmv_cardinality(d, ["source"], "text", k=16)


def q_events_anomaly_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score anomaly detection over the hourly event-count series:
    hours whose count deviates > 2 sigma from their event_type's
    monthly mean. MEMBERSHIP is decided by the exact integer
    cross-multiplication (n*x - S)^2 * (n-1) > 4 * n * (n*Q - S^2)
    (S = sum, Q = sum of squares — algebraically z^2 > 4), so the
    reported set can never flip on float rounding; the reported z
    itself is one fixed sequence of IEEE ops (sqrt is correctly
    rounded by IEEE-754), rounded to 6. Plan: one (type, hour) agg,
    one type-keyed stats agg joined back — no window over the series,
    no driver loop."""
    e = read_events(spark, sf_dir)
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket_ts")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cnt").alias("s"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("q"),
    )
    j = hourly.join(F.broadcast(stats), "event_type")
    nx_s = F.col("n") * F.col("cnt") - F.col("s")
    lhs = nx_s * nx_s * (F.col("n") - 1)
    rhs = 4 * F.col("n") * (F.col("n") * F.col("q") - F.col("s") * F.col("s"))
    mean = F.col("s").cast("double") / F.col("n").cast("double")
    var = (
        (F.col("n") * F.col("q") - F.col("s") * F.col("s")).cast("double")
        / (F.col("n") * (F.col("n") - 1)).cast("double")
    )
    z = (F.col("cnt").cast("double") - mean) / F.sqrt(var)
    return (
        j.filter(lhs > rhs)
        .select("event_type", "bucket_ts", "cnt", F.round(z, 6).alias("z"))
    )


def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked STREAM-STREAM inner join (the stateful join both
    sides buffer for): every click paired with the same user's
    purchases in the hour AFTER the click. Both sides carry 1-hour
    watermarks + the time-bound condition, so Spark provably bounds
    the buffered state (without the bound the join state grows
    forever — the planner rejects append mode). After the availableNow
    replay the pairs must equal the batch time-bounded join, which is
    the oracle."""
    from rust_dms_cdc_operator_spark.fixtures import normalized_ts  # noqa: PLC0415

    raw, dirs = _linked_stream(
        spark, sf_dir, "stream_stream_join", "events", "ssj", "out"
    )
    raw = raw.withColumn("ts", normalized_ts(raw, "ts"))
    clicks = (
        raw.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        raw.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND p_ts >= c_ts"
            " AND p_ts <= c_ts + interval 1 hour"
        ),
    ).select("click_id", "purchase_id")

    # the join keeps 4 state stores, one instance per shuffle
    # partition each: size the partition count from the source bytes
    with _stream_state_scope(spark, dirs["src"]):
        return _parquet_drain(joined, dirs["out"], dirs["ck"], "append")


def q_stream_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming form of the count-min sketch: each microbatch builds
    its own sketch and foreachBatch MERGES it bucket-wise (the
    sketch's defining property) into an accumulator table; after the
    availableNow replay the merged sketch must estimate EXACTLY like
    the one-shot batch sketch, so probes against it share the
    `docs_cms_heavy_hitters` oracle. State is the sketch itself —
    depth x width integers, constant however long the stream runs
    (the reason sketches exist in streaming)."""
    from rust_dms_cdc_operator_spark.operators.sketch import (  # noqa: PLC0415
        cms_accumulate,
    )
    from rust_dms_cdc_operator_spark.session import (  # noqa: PLC0415
        scan_parallelism_floor,
    )

    stream, dirs = _linked_stream(
        spark, sf_dir, "stream_cms_heavy_hitters", "documents", "cms_stream",
        "acc",
    )
    acc_dir = dirs["acc"]

    def sink(batch_df: DataFrame, bid: int) -> None:
        # The word explode and the per-word pre-aggregation run inside
        # the batch body, above a parallelism floor: as a streaming
        # projection before foreachBatch they would run in the file
        # source's single task. Bucket totals are sums, so sketching
        # the vocabulary with count weights is bit-identical to
        # sketching the token stream, with one depth x md5 bucketing
        # per DISTINCT word. cms_accumulate probes the accumulator's
        # existence explicitly, so a corrupt accumulator fails the
        # microbatch loudly (test_streaming.py corrupt case).
        wc = (
            scan_parallelism_floor(batch_df.select("text"))
            .select(F.explode(F.split(F.col("text"), " ")).alias("word"))
            .filter(F.col("word") != "")
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("_n"))
        )
        cms_accumulate(wc, acc_dir, "word", width=1024, count_col="_n")

    drain(stream, sink, dirs["ck"])

    # probes = exact top-30 (batch-side, same as the batch query)
    return _cms_top_words(spark, sf_dir, spark.read.parquet(acc_dir))


def q_dedup_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the near-dup candidate graph
    (operators/graph.triangle_stats): edges, wedges, triangles, and
    the global clustering coefficient — high clustering means the LSH
    pairs form duplicate CLUSTERS (CC will contract them), sparse
    wedges mean pairwise-only noise. The a<b<c ordered two-join
    enumeration counts each triangle once; hub nodes (degree > 32,
    boilerplate docs under this fixture's adversarial vocabulary) are
    dropped first — the deterministic truncation that bounds wedge
    work at cap^2 per node."""
    from rust_dms_cdc_operator_spark.operators.graph import (  # noqa: PLC0415
        triangle_stats,
    )

    d = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(d, "doc_id", "text", num_hashes=16, bands=2)
    # hub cap 32: the adversarial fixture vocabulary makes ~16% of ALL
    # pairs collide, so uncapped wedge enumeration is quadratic in the
    # hub degrees (137 s at sf0.1); the cap keeps the census linear
    # round 12: no materialize_leaf — one enumeration pass over the
    # operator's own persisted adjacency; the extra leaf copy was a
    # measured wash
    return triangle_stats(pairs, max_degree=32, assume_distinct=True)


def q_events_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-sketch quantiles (operators/sketch.hist_build/
    hist_quantiles): p50/p95/p99 of the milli-value distribution from
    a 1024-bucket fixed-grid histogram — the mergeable,
    deterministic-integer stand-in for t-digest/KLL (error bounded by
    the grid step, estimates hash-checkable cross-engine). One
    map-side-combined aggregation over the events; the cumulative
    scan runs over <= 1024 rows (documented bounded single-partition
    window)."""
    from rust_dms_cdc_operator_spark.operators.sketch import (  # noqa: PLC0415
        hist_build,
        hist_quantiles,
    )

    e = read_events(spark, sf_dir).select(
        F.round(F.col("value") * 1000).cast("long").alias("vm")
    )
    hist = hist_build(e, "vm", lo=0, hi=1_000_000, buckets=1024)
    return hist_quantiles(hist, lo=0, hi=1_000_000, buckets=1024)


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup: LSH candidate pairs with
    |A∩B| / min(|A|,|B|) ≥ 0.9 — catches excerpt/quote/boilerplate
    duplication whose Jaccard the union inflation hides. Same route
    as dedup_lsh_verified: the exact prefix containment join at 0.9
    (operators/dedup.prefix_containment_join), then the band filter.
    The prefix join emits the smaller set first; the census reports
    pairs as (least id, greatest id) with sizes following the ids."""
    from rust_dms_cdc_operator_spark.operators.dedup import (  # noqa: PLC0415
        lsh_band_filter,
        prefix_containment_join,
    )

    d = _t(spark, sf_dir, "documents")
    swap = F.col("id_a") > F.col("id_b")
    pairs = prefix_containment_join(
        d, "doc_id", "text", n=3, min_containment=0.9, hash_shingles=True
    ).select(
        F.least("id_a", "id_b").alias("id_a"),
        F.greatest("id_a", "id_b").alias("id_b"),
        "inter_size",
        F.when(swap, F.col("size_b")).otherwise(F.col("size_a")).alias("size_a"),
        F.when(swap, F.col("size_a")).otherwise(F.col("size_b")).alias("size_b"),
    )
    return lsh_band_filter(pairs, d, "doc_id", "text", num_hashes=16, bands=2)


_VERIFY_BUDGET = 5000  # shared by the capped variants and their oracles
_LSH_MAX_BUCKET = 256  # hot-bucket enumeration cap (and oracle replay)


def _lsh_truncation_lits(spark: SparkSession, sf_dir: str) -> tuple[int, int]:
    """Total (n_hot_buckets, n_doc_slots_hot) under the enumeration
    cap — ONE bounded 2*bands-row collect (the chunk-offset pattern),
    stamped onto the capped censuses as constant columns so truncation
    is visible in the result itself, never silent."""
    from rust_dms_cdc_operator_spark.operators.dedup import (  # noqa: PLC0415
        lsh_bucket_truncation_census,
    )

    d = _t(spark, sf_dir, "documents")
    tot = (
        lsh_bucket_truncation_census(
            d, "doc_id", "text", num_hashes=16, bands=2,
            max_bucket=_LSH_MAX_BUCKET,
        )
        .agg(
            F.sum("n_hot_buckets").alias("hb"),
            F.sum("n_doc_slots_hot").alias("ds"),
        )
        .collect()[0]
    )
    return int(tot["hb"] or 0), int(tot["ds"] or 0)


def q_dedup_containment_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_containment with candidate ENUMERATION bounded, not just
    verification (round 8): containment admits NO size prepass by
    definition, so on an adversarial vocabulary this verify shape is
    candidate-volume-bound — and the r7 budget sample only capped the
    shingle reads, while the banded-LSH pair stream still had to be
    fully enumerated and counted (23x wall at 10x data). The
    hot-bucket cap (minhash_lsh_pairs max_bucket=256, the
    triangle_stats max_degree pattern) now bounds the enumeration
    itself: over-cap band buckets never expand into pairs, capping the
    stream at bands*n_docs*cap/2 — linear in the corpus. Truncation
    is COUNTED IN THE OUTPUT (n_hot_buckets / n_doc_slots_truncated
    constant columns from lsh_bucket_truncation_census; both zero at
    the driver scale where the cap does not bind), and the oracle
    replays the same occupancy rule, the same budget count → k →
    keyed 1-in-k sample. The deterministic keyed sample still bounds
    shingle-array reads behind the cap."""
    from rust_dms_cdc_operator_spark.operators.dedup import (  # noqa: PLC0415
        containment_verify_pairs,
    )

    d = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        d, "doc_id", "text", num_hashes=16, bands=2,
        max_bucket=_LSH_MAX_BUCKET,
    )
    hb, ds = _lsh_truncation_lits(spark, sf_dir)
    return containment_verify_pairs(
        pairs, d, "doc_id", "text", n=3, min_containment=0.9,
        hash_shingles=True, max_candidates=_VERIFY_BUDGET,
    ).select(
        "*",
        F.lit(hb).cast("long").alias("n_hot_buckets"),
        F.lit(ds).cast("long").alias("n_doc_slots_truncated"),
    )


def q_dedup_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_lsh_verified under BOTH guardrails (round 8): the
    hot-bucket enumeration cap keeps the banded pair stream linear in
    the corpus (see dedup_containment_capped), then the
    semantics-preserving size prepass kills the cheap majority, then
    the deterministic keyed 1-in-k sample bounds the surviving
    shingle-array reads. Truncation is counted in the output (constant
    census columns); the oracle replays occupancy rule, prepass,
    count → k → hash filter on the identical survivor set."""
    from rust_dms_cdc_operator_spark.operators.dedup import (  # noqa: PLC0415
        jaccard_verify_pairs,
    )

    d = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        d, "doc_id", "text", num_hashes=16, bands=2,
        max_bucket=_LSH_MAX_BUCKET,
    )
    hb, ds = _lsh_truncation_lits(spark, sf_dir)
    return jaccard_verify_pairs(
        pairs, d, "doc_id", "text", n=3, min_jaccard=0.8,
        hash_shingles=True, max_candidates=_VERIFY_BUDGET,
    ).select(
        "*",
        F.lit(hb).cast("long").alias("n_hot_buckets"),
        F.lit(ds).cast("long").alias("n_doc_slots_truncated"),
    )


def q_dedup_lsh_hot_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The enumeration cap's no-silent-drop census as a first-class
    query (operators/dedup.lsh_bucket_truncation_census): per band,
    bucket count, over-cap bucket count, and doc slots inside over-cap
    buckets at the shared cap. The observability half of the capped
    dedup contract — at any scale this is a 2-row result from narrow
    occupancy aggregations, so a 100 TB run can afford to ALWAYS emit
    it next to the capped census."""
    from rust_dms_cdc_operator_spark.operators.dedup import (  # noqa: PLC0415
        lsh_bucket_truncation_census,
    )

    d = _t(spark, sf_dir, "documents")
    return lsh_bucket_truncation_census(
        d, "doc_id", "text", num_hashes=16, bands=2,
        max_bucket=_LSH_MAX_BUCKET,
    )


def q_dedup_containment_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT scale-safe containment census via the prefix filter
    (operators/dedup.prefix_containment_join, PPJoin-style): ALL pairs
    with |A∩B|/min ≥ 0.9 — no LSH proposal stage, so no probabilistic
    misses, and no candidate-volume cliff: each doc probes with only
    its ⌈(1-t)·|A|⌉+1 globally-RAREST shingles, which bounds the
    inverted-index join by the threshold instead of the vocabulary.
    This replaces the budget-capped SAMPLE (dedup_containment_capped)
    as the default exact verify path; its census is a SUPERSET of the
    LSH-based dedup_containment (LSH can miss qualifying pairs). The
    oracle is algorithm-independent — completeness means any exact
    enumeration (DuckDB: token inverted-index + verify) must agree."""
    from rust_dms_cdc_operator_spark.operators.dedup import (  # noqa: PLC0415
        prefix_containment_join,
    )

    d = _t(spark, sf_dir, "documents")
    return prefix_containment_join(
        d, "doc_id", "text", n=3, min_containment=0.9, hash_shingles=True
    )


def q_dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT all-pairs Jaccard census at 0.8 via the symmetric prefix
    filter (operators/dedup.prefix_jaccard_join): size filter +
    positional filter + integer-rational arithmetic make it exact and
    bit-reproducible; completeness makes the oracle algorithm-
    independent. Contrast with dedup_lsh_verified (LSH-proposed,
    probabilistic recall) and dedup_jaccard_capped (sampled census):
    this is the full-recall exact form that survives adversarial
    vocabularies."""
    from rust_dms_cdc_operator_spark.operators.dedup import (  # noqa: PLC0415
        prefix_jaccard_join,
    )

    d = _t(spark, sf_dir, "documents")
    return prefix_jaccard_join(
        d, "doc_id", "text", n=3, min_jaccard=0.8, hash_shingles=True
    )


def q_events_rolling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time RANGE-interval window: per event_type, the trailing
    3-hour rolling sum/count over the hourly series — the
    time-range frame (`rangeBetween` on epoch seconds) that row-count
    frames can't express when hours are missing (a gap must SHRINK
    the window, not slide past it). Exact integer milli-sums; one
    keyed exchange for the hourly agg, the window reuses it."""
    e = read_events(spark, sf_dir)
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket_ts")
    ).agg(
        F.sum(F.round(F.col("value") * 1000).cast("long")).alias("vm"),
        F.count(F.lit(1)).alias("n"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.unix_timestamp("bucket_ts"))
        .rangeBetween(-3 * 3600, 0)
    )
    return hourly.select(
        "event_type",
        "bucket_ts",
        F.sum("vm").over(w).alias("rolling_vm"),
        F.sum("n").over(w).cast("long").alias("rolling_n"),
    )


def q_dedup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the near-dup candidate graph
    (operators/graph.pagerank_undirected, 5 BSP rounds unrolled
    declaratively): centrality in the duplicate graph ranks the most
    template-entangled documents — a curation priority signal. Ranks
    round to 9 digits per iteration, so the whole iterative
    computation hash-checks against the 5-level unrolled SQL."""
    from rust_dms_cdc_operator_spark.operators.graph import (  # noqa: PLC0415
        pagerank_undirected,
    )

    d = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(d, "doc_id", "text", num_hashes=16, bands=2)
    # round 12 materialized a checkpoint leaf here; round 13: the
    # UNCAPPED pair stream is corpus-quadratic (~200M rows at native
    # sf1) and ANY checkpoint of it serializes every row through the
    # block store — deserialized blocks OOMed the r12 local[32]
    # bench, and DISK_ONLY measured 3x the cpu of an eager cache
    # (sf1/32c A/B in materialize_leaf's docstring). The eager cache
    # still halves the band-join evaluations for the symmetric
    # adjacency build and kills the fan-out cold-cache race, without
    # the serialization tax (pagerank sf1: 129 s ckpt / 48 s bare /
    # 38 s cache).
    return pagerank_undirected(
        materialize_cache(pairs), iters=5, assume_distinct=True
    )


def q_docs_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source characteristic terms by TF-IDF: tf = occurrences of
    the term in the source's docs, idf = ln(N_docs / df) with exact
    integer counts, score rounded to 6 (one ln + one multiply per
    term — the perplexity-family portability argument). Top-3 terms
    per source by (score desc, term asc) through a grouped-window
    rank — one (source, term) shuffle + one vocab-keyed df join."""
    d = _t(spark, sf_dir, "documents")
    n_docs = d.count()  # bounded driver scalar (one number)
    words = d.select(
        "source",
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit("[a-z0-9]+"), 0)
        ).alias("term"),
    )
    tf = words.groupBy("source", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_counts = words.select("doc_id", "term").distinct().groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    scored = tf.join(df_counts, "term").select(
        "source",
        "term",
        F.round(
            F.col("tf")
            * F.log(F.lit(float(n_docs)) / F.col("df").cast("double")),
            6,
        ).alias("tfidf"),
    )
    w = Window.partitionBy("source").orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 3)
        .select("source", "term", "tfidf", F.col("_rn").cast("long").alias("rank"))
    )


def q_events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type transition matrix (first-order Markov
    estimate): consecutive event pairs under the (ts, event_id) total
    order, counted per (from, to), with the row-conditional
    probability as exact-integer cross-data (n_from) plus one rounded
    division. One user-keyed window (lead), one (from, to) agg — the
    sequence-model summary of the behavioral stream."""
    e = read_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select(
            "user_id",
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
    )
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    totals = counts.groupBy("from_type").agg(F.sum("n").alias("n_from"))
    return counts.join(totals, "from_type").select(
        "from_type",
        "to_type",
        F.col("n").cast("long").alias("n"),
        F.round(
            F.col("n").cast("double") / F.col("n_from").cast("double"), 6
        ).alias("p"),
    )


def q_docs_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style segment-level dedup (operators/dedup.segment_dedup):
    repeated 10-word segments keep only their first occurrence under
    the (doc_id, position) total order; documents reassemble from
    surviving segments. Emits per-doc counts + the md5 of the cleaned
    text (NULL for fully-boilerplate docs) so the oracle checks the
    exact reassembly without hashing megabytes of text columns."""
    from rust_dms_cdc_operator_spark.operators.dedup import (  # noqa: PLC0415
        segment_dedup,
    )

    d = _t(spark, sf_dir, "documents")
    out = segment_dedup(d, "doc_id", "text", seg_words=10)
    return out.select(
        "doc_id", "n_segs", "n_kept", F.md5("clean_text").alias("clean_md5")
    )


def _ivfpq_topk(spark: SparkSession, sf_dir: str, df: DataFrame) -> DataFrame:
    """IVF-PQ over ``df``: the 3 of 8 trained lists nearest the query
    (similarity.ivf_probe), a 60-row PQ/ADC shortlist within them and
    an exact cosine rerank (pq.pq_topk_rerank)."""
    from rust_dms_cdc_operator_spark.operators.pq import (  # noqa: PLC0415
        pq_topk_rerank,
    )
    from rust_dms_cdc_operator_spark.operators.similarity import (  # noqa: PLC0415
        ivf_probe,
    )

    qv = _query_vec(spark, sf_dir)
    cand = ivf_probe(df, qv, _trained_ivf_cents(spark, sf_dir), nprobe=3)
    return pq_topk_rerank(
        cand, qv, _trained_pq_books(spark, sf_dir), "vec_id", "embedding",
        k=10, shortlist=60,
    )


def q_sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production ANN stack, composed (:func:`_ivfpq_topk`)
    over the raw embeddings: the list filter is the ivf_assign
    expression and the shortlist runs the Arrow ADC kernel. IVF-PQ is
    the faiss deployment default; both trained artifacts (centroids,
    codebooks) are seed-deterministic and embedded in the oracle, so
    the whole composed path hash-checks."""
    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") > 0)
    return _ivfpq_topk(spark, sf_dir, e)


def q_sim_ivfpq_probe_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF-PQ probe as deployed: :func:`_ivfpq_topk` against the
    pre-materialized index (:func:`_ivf_index`). The shortlist scan
    reads ONLY (vec_id, pq_codes) from the 3 probed partitions
    (partition pruning + column pruning — the wide vector column
    never moves), then the exact rerank re-reads vectors for the 60
    shortlist rows. Same semantics — and oracle — as sim_ivfpq_topk;
    only the physical access path differs."""
    return _ivfpq_topk(
        spark, sf_dir, spark.read.parquet(_ivf_index(spark, sf_dir))
    )


def q_docs_bigram_logppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM perplexity
    (operators/perplexity.bigram_logppl): the conditional curation
    signal — templated/shuffled text has typical words in atypical
    order, invisible to the unigram score. Jelinek-Mercer smoothing
    (lam=0.75, exactly binary-representable) keeps unseen bigrams
    finite; one bigram-key shuffle + vocab-keyed pricing joins."""
    from rust_dms_cdc_operator_spark.operators.perplexity import (  # noqa: PLC0415
        bigram_logppl,
    )

    d = _t(spark, sf_dir, "documents")
    return bigram_logppl(d, "doc_id", "text")


def q_sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN, shortlist + exact rerank
    (operators/pq.py): vectors encode to 8 codes (16-centroid
    codebook per 8-dim subspace, int8 grid — 32 bits vs 2048, a ~60x
    smaller candidate payload); ADC against driver-computed integer
    tables shortlists 100 candidates with zero shuffles, then the
    EXACT cosine reranks only those — the standard PQ deployment
    shape (recall from the shortlist width, precision from the
    rerank; recall@10 vs brute force gated in test_pq). The codebooks
    (:func:`_trained_pq_books`) are driver-local seeded Lloyd on the
    int8 grid — deterministic; the oracle embeds them per scale (the
    trained/ registry, tools/gen_pq_codebooks.py) and replays encode →
    integer shortlist → cosine rerank in SQL."""
    from rust_dms_cdc_operator_spark.operators.pq import (  # noqa: PLC0415
        pq_topk_rerank,
    )

    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") > 0)
    return pq_topk_rerank(
        e, _query_vec(spark, sf_dir), _trained_pq_books(spark, sf_dir),
        "vec_id", "embedding", k=10, shortlist=100,
    )


def q_events_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout statistics (operators/zorder.zvalue): events
    mapped to a 2-D (user bucket, hour-of-month) grid, Morton-
    interleaved, then grouped by z-range bucket — each bucket's
    min/max per dimension is the file-stats tightness a z-clustered
    write would give the pruner (the OPTIMIZE ZORDER BY contract).
    Pure integer bit arithmetic, oracle-checked bit-for-bit."""
    from rust_dms_cdc_operator_spark.operators.zorder import zvalue  # noqa: PLC0415

    e = read_events(spark, sf_dir)
    epoch0 = 1_704_067_200  # 2024-01-01 00:00:00 UTC
    d_user = (F.col("user_id") % 1024).cast("long")
    d_hour = F.floor((F.unix_timestamp("ts") - epoch0) / 3600).cast("long")
    z = zvalue([d_user, d_hour], bits=10)
    return (
        e.select(
            d_user.alias("u"), d_hour.alias("h"),
            F.shiftright(z, 10).alias("zbucket"),
        )
        .groupBy("zbucket")
        .agg(
            F.count(F.lit(1)).alias("events_n"),
            F.min("u").alias("u_min"), F.max("u").alias("u_max"),
            F.min("h").alias("h_min"), F.max("h").alias("h_max"),
        )
    )


def q_docs_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimation for the corpus's top-30
    words (operators/sketch.cms_build/cms_estimate, through
    _cms_top_words): the 4x1024 integer sketch is built in one
    map-side-combined pass over the word-frequency table, then the
    probe estimates are broadcast-joined bucket lookups. Pure integer
    arithmetic on md5 slices, so the ESTIMATES are bit-identical
    cross-engine and the oracle checks them next to the exact counts
    (CMS never under-counts; over-count = collision mass)."""
    return _cms_top_words(spark, sf_dir)


def _cms_top_words(
    spark: SparkSession, sf_dir: str, sketch: DataFrame | None = None
) -> DataFrame:
    """(word, exact_n, cms_count) for the corpus's exact top-30 words:
    the word-frequency table, its top-30 as probes, their
    ``cms_estimate`` against ``sketch`` (a 4 x 1024 count-min sketch;
    None builds it from the frequency table), joined back. ONE
    corpus-sized aggregation: the sketch builds from the
    vocabulary-sized frequency table, not a second pass over words."""
    from rust_dms_cdc_operator_spark.operators.sketch import (  # noqa: PLC0415
        cms_build,
        cms_estimate,
    )

    d = _t(spark, sf_dir, "documents")
    words = d.select(
        F.explode(F.split(F.col("text"), " ")).alias("word")
    ).filter(F.col("word") != "")
    freq = words.groupBy("word").agg(F.count(F.lit(1)).alias("exact_n"))
    if sketch is None:
        sketch = cms_build(freq, "word", width=1024, count_col="exact_n")
    probes = freq.orderBy(F.col("exact_n").desc(), "word").limit(30)
    est = cms_estimate(sketch, probes.select("word"), "word", width=1024)
    return probes.join(est, "word").select("word", "exact_n", "cms_count")


def q_events_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style gap-filled hourly rollup with
    last-observation-carried-forward (operators/gapfill.gapfill_locf):
    per event_type, every hour of 2024-01 appears — observed hours
    carry their exact milli-value sum, gap hours repeat the previous
    observation (null before a type's first) and zero-fill the count.
    The facts are pre-aggregated to one row per (type, hour) before
    touching the spine, and the LOCF window is one keyed exchange."""
    from rust_dms_cdc_operator_spark.operators.gapfill import (  # noqa: PLC0415
        gapfill_locf,
    )

    e = read_events(spark, sf_dir)
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket_ts")
    ).agg(
        F.sum(F.round(F.col("value") * 1000).cast("long")).alias("value_milli"),
        F.count(F.lit(1)).alias("events_n"),
    )
    return gapfill_locf(
        hourly,
        ["event_type"],
        "bucket_ts",
        ["value_milli"],
        "2024-01-01 00:00:00",
        "2024-01-31 23:00:00",
        3600,
        zero_cols=["events_n"],
    )


def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization through the CUSTOM stateful operator
    (streaming/stateful.sessionize_stateful, applyInPandasWithState):
    replaying the events table availableNow must converge to the exact
    batch session_window answer, so it SHARES the `events_sessionize`
    oracle. Closed sessions emit once; the per-key open session
    re-emits as it grows, and the upsert sink (last-writer-wins per
    (user_id, session_start) on batch id) resolves provisional rows —
    the state store holds ONE row per active key, the O(keys) shape
    that survives a firehose."""
    from rust_dms_cdc_operator_spark.fixtures import normalized_ts  # noqa: PLC0415
    from rust_dms_cdc_operator_spark.streaming.stateful import (  # noqa: PLC0415
        sessionize_stateful,
    )

    stream, dirs = _linked_stream(
        spark, sf_dir, "stream_sessionize", "events", "sess_stream", "out"
    )
    out_dir = dirs["out"]
    stream = stream.withColumn("ts", normalized_ts(stream, "ts"))
    sessions = sessionize_stateful(
        stream, key_col="user_id", ts_col="ts", gap_seconds=1800.0
    )

    def sink(batch_df: DataFrame, bid: int) -> None:
        batch_df.withColumn("_bid", F.lit(bid)).write.mode("append").parquet(
            out_dir
        )

    drain(sessions, sink, dirs["ck"], "update")
    res = spark.read.parquet(out_dir)
    w = Window.partitionBy("user_id", "session_start").orderBy(
        F.col("_bid").desc()
    )
    return (
        res.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "session_start", "session_end", "events_n")
    )


# =================================================================== oracles
_HEX = "0123456789abcdef"


def _sql_hex_to_long(col: str, chars: int) -> str:
    """DuckDB rendering of dedup.hex_to_long."""
    terms = [
        f"(instr('{_HEX}', substr({col}, {i + 1}, 1)) - 1) * {16 ** (chars - 1 - i)}"
        for i in range(chars)
    ]
    return "(" + " + ".join(terms) + ")"


def _minhash_sql(
    num_hashes: int = 16, bands: int = 2, max_bucket: int | None = None
) -> str:
    """Mirror of dedup.minhash_lsh_pairs: one md5 per distinct word →
    32-bit base hash → linear mixes (A_i*h+B_i) mod 2^31-1. With
    ``max_bucket``, replays the hot-bucket enumeration cap: a (band,
    bucket) with occupancy > cap is excluded from pairing — the
    DISTINCT set then equals Spark's first-KEPT-colliding-band
    emission ("collides in >= 1 under-cap bucket")."""
    from rust_dms_cdc_operator_spark.operators.dedup import (  # noqa: PLC0415
        _MERSENNE,
        _mix_a,
        _mix_b,
    )

    rows = num_hashes // bands
    sigs = ", ".join(
        "list_aggregate(list_transform(wh, "
        f"h -> ({_mix_a(i)} * h + {_mix_b(i)}) % {_MERSENNE}), 'min') AS mh_{i}"
        for i in range(num_hashes)
    )
    band_exprs = [
        " || '|' || ".join(f"mh_{b * rows + r}::VARCHAR" for r in range(rows))
        for b in range(bands)
    ]
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS bk, {i} AS band_idx FROM sigs"
        for i, b in enumerate(band_exprs)
    )
    src = "banded"
    cap_ctes = ""
    if max_bucket is not None:
        cap_ctes = f""",
        occ AS (SELECT band_idx, bk, count(*) AS c
                FROM banded GROUP BY 1, 2),
        kept AS (SELECT band_idx, bk FROM occ WHERE c <= {max_bucket}),
        bkept AS (SELECT b.doc_id, b.bk, b.band_idx
                  FROM banded b JOIN kept k
                    ON b.band_idx = k.band_idx AND b.bk = k.bk)"""
        src = "bkept"
    return f"""
        WITH wh AS (
          SELECT doc_id,
                 list_transform(list_distinct(string_split(text, ' ')),
                                w -> {_sql_hex_to_long('md5(w)', 8)}) AS wh
          FROM documents),
        sigs AS (SELECT doc_id, {sigs} FROM wh),
        banded AS ({band_selects}){cap_ctes}
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM {src} a JOIN {src} b
          ON a.band_idx = b.band_idx AND a.bk = b.bk AND a.doc_id < b.doc_id
    """


def _simhash_sql() -> str:
    votes = ", ".join(
        f"sum(CASE WHEN (h16 >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v_{b}"
        for b in range(16)
    )
    sig = " + ".join(f"(CASE WHEN v_{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(16))
    return f"""
        WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                   FROM documents),
        h AS (SELECT doc_id, {_sql_hex_to_long('md5(word)', 4)} AS h16 FROM w),
        v AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id)
        SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM v
    """


_SHINGLES = """
        words AS (SELECT doc_id, source, string_split(text, ' ') AS w
                  FROM documents),
        sh AS (SELECT doc_id, source,
                      CASE WHEN len(w) < 3
                           THEN list_distinct([array_to_string(w, ' ')])
                           ELSE list_distinct(list_transform(range(len(w) - 2),
                                i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))
                      END AS s
               FROM words)
"""


def _stop_hits_sql(lang: str) -> str:
    lst = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_filter(string_split(text, ' '), w -> w IN ({lst})))"


def _sql_sign_bucket(vec: str, bits: int = 8) -> str:
    """DuckDB rendering of similarity.sign_bucket (bit i weighs
    2^(bits-1-i); verified to round-trip identical values)."""
    terms = [
        f"(CASE WHEN {vec}[{i + 1}] >= 0 THEN {1 << (bits - 1 - i)} ELSE 0 END)"
        for i in range(bits)
    ]
    return "(" + " + ".join(terms) + ")"


# round-6 cosine parity between the Spark fold and DuckDB's
# list_cosine_similarity holds exactly (0/500 mismatches at sf0.01);
# both compute double dot/norms over the same float32 inputs
_COS_Q0 = (
    "round(list_cosine_similarity(embedding::DOUBLE[], "
    "(SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)), 6)"
)

ORACLE_SQL_LLM: dict[str, str] = {
    "sim_cosine_topk": f"""
        SELECT vec_id, {_COS_Q0} AS cos_sim
        FROM embeddings WHERE vec_id > 0
        ORDER BY cos_sim DESC, vec_id LIMIT 10
    """,
    "sim_lsh_bucket_topk": f"""
        SELECT vec_id, {_COS_Q0} AS cos_sim
        FROM embeddings
        WHERE vec_id > 0
          AND {_sql_sign_bucket('embedding')} =
              (SELECT {_sql_sign_bucket('embedding')} FROM embeddings
               WHERE vec_id = 0)
        ORDER BY cos_sim DESC, vec_id LIMIT 10
    """,
    "sim_ivf_topk": """
        WITH cents AS (
          SELECT vec_id AS cid, embedding::DOUBLE[] AS cemb
          FROM embeddings WHERE vec_id > 0 ORDER BY vec_id LIMIT 8
        ),
        q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        probes AS (
          SELECT cid FROM cents, q
          ORDER BY round(list_cosine_similarity(cemb, qv), 6) DESC, cid
          LIMIT 2
        ),
        assign AS (
          SELECT e.vec_id, c.cid,
                 row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY round(list_cosine_similarity(
                       e.embedding::DOUBLE[], c.cemb), 6) DESC, c.cid
                 ) AS rn
          FROM embeddings e CROSS JOIN cents c WHERE e.vec_id > 0
        )
        SELECT e.vec_id,
               round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6)
                 AS cos_sim
        FROM embeddings e
        JOIN assign a ON a.vec_id = e.vec_id AND a.rn = 1
        CROSS JOIN q
        WHERE a.cid IN (SELECT cid FROM probes) AND e.vec_id > 0
        ORDER BY cos_sim DESC, e.vec_id LIMIT 10
    """,
    "docs_rebalance_mix": f"""
        WITH t AS (SELECT doc_id, source,
                          len(string_split(text, ' '))::BIGINT AS n_tokens
                   FROM documents),
        tot AS (SELECT source, sum(n_tokens)::BIGINT AS tok
                FROM t GROUP BY source),
        g AS (SELECT sum(tok)::BIGINT AS grand FROM tot),
        thr AS (SELECT source,
                       CAST(floor(least(1.0,
                         (CASE source WHEN 'src0' THEN 0.03
                                      WHEN 'src1' THEN 0.02
                                      WHEN 'src2' THEN 0.05 END * grand) / tok)
                         * 10000) AS BIGINT) AS th
                FROM tot, g
                WHERE source IN ('src0', 'src1', 'src2') AND tok > 0)
        SELECT t.doc_id, t.source, t.n_tokens
        FROM t JOIN thr USING (source)
        WHERE {_sql_hex_to_long("md5(t.doc_id::VARCHAR || 'mix')", 8)} % 10000
              < thr.th
    """,
    "docs_redact_pii": """
        WITH dirty AS (
          SELECT doc_id,
                 text || ' contact user' || doc_id::VARCHAR
                      || '@example.com or https://ex.com/d/'
                      || doc_id::VARCHAR
                      || ' tel +1 (555) 010-' || doc_id::VARCHAR AS t
          FROM documents)
        SELECT doc_id,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(t,
                     'https?://[A-Za-z0-9./_%+#?&=:@~-]+', '<URL>', 'g'),
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                   '<EMAIL>', 'g'),
                 '\\+?[0-9][0-9()\\- ]{7,}[0-9]', '<PHONE>', 'g')
               AS clean_text
        FROM dirty
    """,
    "sim_batch_topk": """
        WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                   FROM embeddings WHERE vec_id < 5),
        scored AS (
          SELECT q.query_id, e.vec_id,
                 round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6)
                   AS cos_sim
          FROM embeddings e CROSS JOIN q WHERE e.vec_id >= 5),
        ranked AS (
          SELECT *, row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY cos_sim DESC, vec_id) AS rank
          FROM scored)
        SELECT query_id, vec_id, cos_sim, rank::BIGINT AS rank
        FROM ranked WHERE rank <= 3
    """,
    "sim_quantized_topk": """
        WITH q AS (SELECT list_transform(embedding::DOUBLE[], x ->
                     CAST(floor(greatest(least(x, 1.0), -1.0) * 127) AS BIGINT))
                     AS qv
                   FROM embeddings WHERE vec_id = 0),
        c AS (SELECT vec_id, list_transform(embedding::DOUBLE[], x ->
                CAST(floor(greatest(least(x, 1.0), -1.0) * 127) AS BIGINT))
                AS cv
              FROM embeddings)
        SELECT c.vec_id,
               CAST(list_sum(list_transform(range(len(cv)),
                    i -> cv[i+1] * qv[i+1])) AS BIGINT) AS dot_int
        FROM c CROSS JOIN q
        ORDER BY dot_int DESC, vec_id
        LIMIT 10
    """,
    "docs_training_mix": f"""
        WITH s AS (
          SELECT doc_id, lang, text,
                 len(string_split(text, ' ')) AS n_tokens,
                 length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g'))
                   AS punct_chars,
                 {_stop_hits_sql('en')} + {_stop_hits_sql('de')}
                   + {_stop_hits_sql('fr')} AS stop_hits,
                 length(text) AS n_char
          FROM documents),
        scored AS (
          SELECT doc_id, lang, text, CAST(n_tokens AS BIGINT) AS n_tokens,
                 least(greatest(
                   (CAST(stop_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 0.5
                   + least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0) * 0.5
                   - (CAST(punct_chars AS DOUBLE) / CAST(n_char AS DOUBLE)),
                   0.0), 1.0) AS quality
          FROM s),
        words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        g3 AS (SELECT doc_id,
                      list_transform(range(greatest(len(w) - 2, 0)),
                        i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]) AS gs
               FROM words),
        rep AS (SELECT doc_id,
                       CASE WHEN len(gs) <= 0 THEN 0.0
                            ELSE round(1.0 - len(list_distinct(gs))::DOUBLE
                                       / len(gs), 6) END AS rr
                FROM g3),
        g5 AS (SELECT doc_id,
                      list_distinct(list_transform(
                        range(greatest(len(w) - 4, 0)),
                        i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                             || ' ' || w[i+4] || ' ' || w[i+5])) AS gs
               FROM words),
        contam AS (
          SELECT DISTINCT c.doc_id
          FROM (SELECT doc_id, unnest(gs) AS gram FROM g5 WHERE doc_id >= 40) c
          JOIN (SELECT DISTINCT unnest(gs) AS gram FROM g5 WHERE doc_id < 40) b
            USING (gram)),
        kept AS (
          SELECT sc.doc_id, sc.lang, sc.text, sc.n_tokens
          FROM scored sc JOIN rep USING (doc_id)
          WHERE sc.doc_id >= 40 AND sc.quality >= 0.3 AND rep.rr <= 0.2
            AND sc.doc_id NOT IN (SELECT doc_id FROM contam)),
        uniq AS (
          SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id)
                   AS rn
          FROM kept),
        sp AS (
          SELECT doc_id, lang, n_tokens,
                 CASE WHEN {_sql_hex_to_long("md5(doc_id::VARCHAR || 'split')", 8)} % 10000 < 9000
                      THEN 'train'
                      WHEN {_sql_hex_to_long("md5(doc_id::VARCHAR || 'split')", 8)} % 10000 < 9500
                      THEN 'val'
                      ELSE 'test' END AS split
          FROM uniq WHERE rn = 1)
        SELECT split, lang, count(*) AS docs_n,
               CAST(sum(n_tokens) AS BIGINT) AS tokens_sum
        FROM sp GROUP BY split, lang
    """,
    "docs_pack_sequences": """
        WITH t AS (SELECT doc_id,
                          len(string_split(text, ' '))::BIGINT AS n_tokens
                   FROM documents),
        c AS (SELECT doc_id, n_tokens,
                     COALESCE(SUM(n_tokens) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ), 0) AS pre
              FROM t)
        SELECT doc_id, n_tokens,
               (pre // 2048)::BIGINT AS pack_id,
               (pre % 2048)::BIGINT AS pack_offset
        FROM c
    """,
    "docs_repetition": """
        WITH words AS (SELECT doc_id, string_split(text, ' ') AS w
                       FROM documents),
        g AS (SELECT doc_id,
                     list_transform(range(greatest(len(w) - 2, 0)),
                       i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]) AS gs
              FROM words)
        SELECT doc_id,
               CASE WHEN len(gs) <= 0 THEN 0.0
                    ELSE round(1.0 - len(list_distinct(gs))::DOUBLE / len(gs), 6)
               END AS rep_ratio
        FROM g
    """,
    "docs_token_percentiles": """
        WITH t AS (SELECT lang,
                          len(string_split(text, ' '))::DOUBLE AS n_tokens
                   FROM documents)
        SELECT lang,
               round(quantile_cont(n_tokens, 0.5), 4) AS p50,
               round(quantile_cont(n_tokens, 0.9), 4) AS p90,
               round(quantile_cont(n_tokens, 0.99), 4) AS p99
        FROM t GROUP BY lang
    """,
    "docs_contamination": """
        WITH words AS (SELECT doc_id, string_split(text, ' ') AS w
                       FROM documents),
        g AS (SELECT doc_id,
                     list_distinct(list_transform(
                       range(greatest(len(w) - 4, 0)),
                       i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                            || ' ' || w[i+4] || ' ' || w[i+5])) AS gs
              FROM words),
        corpus AS (SELECT doc_id, unnest(gs) AS gram FROM g WHERE doc_id >= 40),
        bench AS (SELECT DISTINCT unnest(gs) AS gram FROM g WHERE doc_id < 40)
        SELECT c.doc_id, count(DISTINCT c.gram) AS n_hits
        FROM corpus c JOIN bench b USING (gram)
        GROUP BY c.doc_id
    """,
    "docs_source_drift": """
        WITH toks AS (
          SELECT source AS grp,
                 unnest(regexp_extract_all(text, '[a-z0-9]+')) AS tok
          FROM documents
        ),
        joint AS (SELECT grp, tok, count(*) AS c_gt
                  FROM toks GROUP BY grp, tok),
        corpus AS (SELECT tok, sum(c_gt) AS c_t FROM joint GROUP BY tok),
        grp_n AS (SELECT grp, sum(c_gt) AS n_g FROM joint GROUP BY grp),
        tot AS (SELECT sum(n_g)::DOUBLE AS total FROM grp_n)
        SELECT j.grp AS source,
               CAST(max(g.n_g) AS BIGINT) AS n_tokens,
               round(sum(
                 (j.c_gt::DOUBLE / g.n_g)
                 * (ln(j.c_gt::DOUBLE) - ln(g.n_g::DOUBLE)
                    - ln(c.c_t::DOUBLE) + ln(tot.total))
               ), 6) AS kl_vs_corpus
        FROM joint j
        JOIN corpus c USING (tok)
        JOIN grp_n g USING (grp)
        CROSS JOIN tot
        GROUP BY j.grp
    """,
    "docs_incremental_dedup": """
        WITH nd AS (SELECT doc_id, md5(text) AS digest
                    FROM documents WHERE doc_id % 4 = 0),
        seen AS (SELECT DISTINCT md5(text) AS digest
                 FROM documents WHERE doc_id % 4 <> 0)
        SELECT min(doc_id) AS doc_id, digest
        FROM nd WHERE digest NOT IN (SELECT digest FROM seen)
        GROUP BY digest
    """,
    "docs_top_ngrams": """
        WITH words AS (SELECT string_split(text, ' ') AS w FROM documents),
        g AS (SELECT unnest(list_transform(
                       range(greatest(len(w) - 2, 0)),
                       i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS gram
              FROM words)
        SELECT gram, count(*) AS n_occurrences
        FROM g GROUP BY gram
        ORDER BY n_occurrences DESC, gram
        LIMIT 20
    """,
    "docs_shuffle": """
        SELECT doc_id,
               row_number() OVER (
                 ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)), doc_id
               ) AS shuffle_rank
        FROM documents
    """,
    "docs_split": f"""
        SELECT doc_id,
               CASE WHEN {_sql_hex_to_long("md5(doc_id::VARCHAR || 'split')", 8)} % 10000 < 8000
                    THEN 'train'
                    WHEN {_sql_hex_to_long("md5(doc_id::VARCHAR || 'split')", 8)} % 10000 < 9000
                    THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    """,
    "docs_stratified_sample": f"""
        SELECT doc_id, lang FROM documents
        WHERE {_sql_hex_to_long("md5(doc_id::VARCHAR || 'sample')", 8)} % 10000 <
              CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2500
                        WHEN 'fr' THEN 10000 ELSE 0 END
    """,
    "dedup_embedding_neardup": """
        SELECT * FROM (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 round(list_cosine_similarity(a.embedding::DOUBLE[],
                                              b.embedding::DOUBLE[]), 6) AS cos_sim
          FROM embeddings a JOIN embeddings b
            ON a.label = b.label AND a.vec_id < b.vec_id
           AND b.vec_id - a.vec_id <= 25)
        WHERE cos_sim >= 0.0
    """,
    "dedup_exact": """
        SELECT md5(text) AS content_md5, min(doc_id) AS kept_doc_id,
               count(*) AS n_copies
        FROM documents GROUP BY md5(text)
    """,
    "dedup_minhash_lsh": _minhash_sql(),
    "dedup_groups": f"""
        WITH RECURSIVE pairs AS MATERIALIZED ({_minhash_sql()}),
        sym AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
        -- frontier min-label propagation, NOT the full transitive
        -- closure: a row (node, comp) only spawns neighbors when comp
        -- improves on the neighbor id, so total rows are the labels a
        -- node ever improves through (small), where the closure is
        -- quadratic per component and never finishes at bench scales
        lbl(node, comp) AS (
          SELECT a, LEAST(a, MIN(b)) FROM sym GROUP BY a
          UNION
          SELECT s.b, l.comp
          FROM lbl l JOIN sym s ON s.a = l.node
          WHERE l.comp < s.b
        )
        SELECT node AS doc_id, MIN(comp) AS group_id
        FROM lbl GROUP BY node
    """,
    "dedup_simhash": _simhash_sql(),
    "dedup_ngram_jaccard": f"""
        WITH {_SHINGLES}
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               len(list_intersect(a.s, b.s)) AS inter_size,
               len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS union_size
        FROM sh a JOIN sh b
          ON a.source = b.source AND a.doc_id < b.doc_id
         AND b.doc_id - a.doc_id <= 25
    """,
    "docs_unigram_logppl": """
        WITH toks AS (
          SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS tok
          FROM documents
        ),
        cnts AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
        tot AS (SELECT sum(cnt)::DOUBLE AS total FROM cnts),
        per AS (
          SELECT t.doc_id, count(*) AS n_tokens,
                 avg(ln(c.cnt::DOUBLE)) AS avg_ln
          FROM toks t JOIN cnts c USING (tok)
          GROUP BY t.doc_id
        )
        SELECT d.doc_id,
               coalesce(p.n_tokens, 0) AS n_tokens,
               round(ln(tot.total) - p.avg_ln, 6) AS log_ppl
        FROM documents d
        LEFT JOIN per p ON d.doc_id = p.doc_id
        CROSS JOIN tot
    """,
    "text_langid": f"""
        WITH s AS (
          SELECT doc_id,
                 {_stop_hits_sql('en')} AS en,
                 {_stop_hits_sql('de')} AS de,
                 {_stop_hits_sql('fr')} AS fr
          FROM documents)
        SELECT doc_id,
               CASE WHEN en + de + fr = 0 THEN 'und'
                    WHEN en >= de AND en >= fr THEN 'en'
                    WHEN de >= fr THEN 'de'
                    ELSE 'fr' END AS pred_lang
        FROM s
    """,
    "text_quality": f"""
        WITH s AS (
          SELECT doc_id,
                 len(string_split(text, ' ')) AS n_tokens,
                 length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g'))
                   AS punct_chars,
                 {_stop_hits_sql('en')} + {_stop_hits_sql('de')}
                   + {_stop_hits_sql('fr')} AS stop_hits,
                 length(text) AS n_char
          FROM documents)
        SELECT doc_id, n_tokens, punct_chars, stop_hits,
               least(greatest(
                 (CAST(stop_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 0.5
                 + least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0) * 0.5
                 - (CAST(punct_chars AS DOUBLE) / CAST(n_char AS DOUBLE)),
                 0.0), 1.0) AS quality
        FROM s
    """,
    "docs_curation_pipeline": f"""
        WITH s AS (
          SELECT doc_id, source, text,
                 len(string_split(text, ' ')) AS n_tokens,
                 length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g'))
                   AS punct_chars,
                 {_stop_hits_sql('en')} + {_stop_hits_sql('de')}
                   + {_stop_hits_sql('fr')} AS stop_hits,
                 length(text) AS n_char
          FROM documents),
        scored AS (
          SELECT doc_id, source, text, CAST(n_tokens AS BIGINT) AS n_tokens,
                 least(greatest(
                   (CAST(stop_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 0.5
                   + least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0) * 0.5
                   - (CAST(punct_chars AS DOUBLE) / CAST(n_char AS DOUBLE)),
                   0.0), 1.0) AS quality
          FROM s),
        kept AS (
          SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id)
                   AS rn
          FROM scored WHERE quality >= 0.5)
        SELECT source, count(*) AS docs_kept,
               CAST(sum(n_tokens) AS BIGINT) AS tokens_kept,
               round(min(quality), 6) AS min_quality,
               round(max(quality), 6) AS max_quality
        FROM kept WHERE rn = 1 GROUP BY source
    """,
    "text_tokens": """
        SELECT doc_id,
               len(string_split(text, ' ')) AS ws_tokens,
               len(regexp_extract_all(text, '[a-z0-9]+')) AS re_tokens
        FROM documents
    """,
    "text_fingerprint": """
        WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS ws
                   FROM documents)
        SELECT doc_id,
               CASE WHEN len(ws) < 4 THEN md5(text)
                    ELSE list_aggregate(list_transform(range(len(ws) - 3),
                         i -> md5(ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
                                  || ' ' || ws[i+4])), 'min')
               END AS fingerprint
        FROM w
    """,
    "events_tumbling_counts": """
        SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
               event_type,
               count(*) AS events_n,
               count(DISTINCT user_id) AS users_n,
               CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT)
                 AS value_milli_sum
        FROM events
        GROUP BY window_start, event_type
    """,
    "events_sessionize": """
        WITH m AS (
          SELECT user_id, ts,
                 CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                        IS NULL
                      OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                        >= INTERVAL '30 minutes'
                 THEN 1 ELSE 0 END AS brk
          FROM events),
        s AS (
          SELECT user_id, ts,
                 sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
          FROM m)
        SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
               count(*) AS events_n
        FROM s GROUP BY user_id, sid
    """,
    "mm_frame_sample": """
        WITH m AS (SELECT doc_id AS media_id, text AS p,
                          least(8, CAST(ceil(length(text) / 64.0) AS BIGINT))
                            AS nf
                   FROM documents),
        f AS (SELECT media_id, p, unnest(range(nf)) AS fi FROM m)
        SELECT media_id,
               CAST(fi AS INTEGER) AS frame_idx,
               md5(substring(p, CAST(fi * 64 + 1 AS BIGINT), 64)) AS frame_md5,
               CAST(length(substring(p, CAST(fi * 64 + 1 AS BIGINT), 64))
                    AS BIGINT) AS frame_bytes
        FROM f
    """,
    "mm_binary_stats": """
        SELECT doc_id AS media_id, 'blob' AS kind,
               octet_length(encode(text)) AS n_bytes,
               ascii(substr(text, 1, 1)) AS first_byte
        FROM documents
    """,
}


def _ivf_trained_oracle_sql(cents=None) -> str:
    """sim_ivf_trained oracle: identical IVF mechanics to the
    sim_ivf_topk oracle, but the centroids are the seed-42 trained
    literals (train_ivf_centroids) instead of the first 8 vectors, and 3
    lists are probed. Default literals are the sf0.01 constants (the
    correctness driver's scale); pass ``cents`` from the trained/
    registry to render the SAME oracle for another scale
    (oracle_sql_overrides) — training is deterministic per scale, so
    each rendering is exact at its own sf."""
    if cents is None:
        from rust_dms_cdc_operator_spark.ivf_constants import (  # noqa: PLC0415
            _IVF_TRAINED_CENTROIDS_SF001 as cents,
        )
    CENTS = cents

    rows = ",\n          ".join(
        f"({i}, {c}::DOUBLE[])" for i, c in enumerate(CENTS)
    )
    return f"""
        WITH cents AS (
          SELECT * FROM (VALUES
          {rows}
          ) AS t(cid, cemb)
        ),
        q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        probes AS (
          SELECT cid FROM cents, q
          ORDER BY round(list_cosine_similarity(cemb, qv), 6) DESC, cid
          LIMIT 3
        ),
        assign AS (
          SELECT e.vec_id, c.cid,
                 row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY round(list_cosine_similarity(
                       e.embedding::DOUBLE[], c.cemb), 6) DESC, c.cid
                 ) AS rn
          FROM embeddings e CROSS JOIN cents c WHERE e.vec_id > 0
        )
        SELECT e.vec_id,
               round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6)
                 AS cos_sim
        FROM embeddings e
        JOIN assign a ON a.vec_id = e.vec_id AND a.rn = 1
        CROSS JOIN q
        WHERE a.cid IN (SELECT cid FROM probes) AND e.vec_id > 0
        ORDER BY cos_sim DESC, e.vec_id LIMIT 10
    """


ORACLE_SQL_LLM["events_scd2"] = """
    WITH t AS (
      SELECT event_id, user_id, event_type, value, ts,
             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
             lead(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS valid_to
      FROM events)
    SELECT event_id, user_id, event_type, value,
           ts AS valid_from, valid_to,
           valid_to IS NULL AS is_current
    FROM t WHERE op <> 'D'
"""

ORACLE_SQL_LLM["events_asof_enrich"] = """
    WITH clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT user_id, ts,
             max(event_id) AS p_event_id,
             max_by(value, event_id) AS p_value
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, ts
    )
    SELECT c.event_id, c.user_id,
           p.p_event_id AS purchase_event_id,
           p.p_value AS purchase_value
    FROM clicks c ASOF LEFT JOIN p
      ON c.user_id = p.user_id AND c.ts >= p.ts
"""

ORACLE_SQL_LLM["mm_decode_features"] = """
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 2 = 0 THEN 'ppm' ELSE 'wav' END AS codec,
           CASE WHEN doc_id % 2 = 0
                THEN CAST(1 + doc_id % 64 AS INTEGER) END AS width,
           CASE WHEN doc_id % 2 = 0
                THEN CAST(1 + doc_id % 48 AS INTEGER) END AS height,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 3
                     ELSE 1 + (doc_id % 4) // 2 END AS INTEGER) AS channels,
           CASE WHEN doc_id % 2 = 1
                THEN CAST(8000 + (doc_id % 8) * 1000 AS INTEGER)
           END AS sample_rate_hz,
           CASE WHEN doc_id % 2 = 1
                THEN CAST(100 + doc_id % 50 AS BIGINT) END AS n_samples,
           CASE WHEN doc_id % 2 = 1
                THEN CAST(((100 + doc_id % 50) * 1000)
                          // (8000 + (doc_id % 8) * 1000) AS BIGINT)
           END AS duration_ms
    FROM documents
"""

ORACLE_SQL_LLM["mm_decode_jpeg"] = """
    SELECT doc_id AS media_id,
           'jpeg' AS codec,
           CAST(16 + doc_id % 624 AS INTEGER) AS width,
           CAST(16 + doc_id % 464 AS INTEGER) AS height,
           CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 3 END
                AS INTEGER) AS channels,
           CAST(NULL AS INTEGER) AS sample_rate_hz,
           CAST(NULL AS BIGINT) AS n_samples,
           CAST(NULL AS BIGINT) AS duration_ms
    FROM documents
"""

ORACLE_SQL_LLM["mm_decode_mp3"] = """
    SELECT doc_id AS media_id,
           'mp3' AS codec,
           CAST(NULL AS INTEGER) AS width,
           CAST(NULL AS INTEGER) AS height,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END
                AS INTEGER) AS channels,
           CAST(([44100, 48000, 32000])[1 + doc_id % 3]
                AS INTEGER) AS sample_rate_hz,
           CAST((2 + doc_id % 3) * 1152 AS BIGINT) AS n_samples,
           CAST(((2 + doc_id % 3) * 1152 * 1000)
                // ([44100, 48000, 32000])[1 + doc_id % 3]
                AS BIGINT) AS duration_ms
    FROM documents
"""

ORACLE_SQL_LLM["docs_window_chunks"] = """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    s AS (SELECT doc_id, ws,
                 unnest(range(1, greatest(len(ws), 1) + 1, 48)) AS start
          FROM w)
    SELECT doc_id,
           ((start - 1) // 48)::BIGINT AS chunk_idx,
           array_to_string(list_slice(ws, start, start + 63), ' ')
             AS chunk_text
    FROM s
"""

# canonical-by-quality: dedup_groups's recursive-CTE closure + the
# text_quality arithmetic (identical operation order on both engines,
# so the unrounded doubles are exactly equal and the argmax ordering
# agrees) + a per-group argmax window
_CANON_QUALITY = f"""least(greatest(
      (CAST({_stop_hits_sql('en')} + {_stop_hits_sql('de')}
            + {_stop_hits_sql('fr')} AS DOUBLE)
        / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 0.5
      + least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 64.0, 1.0) * 0.5
      - (CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g'))
              AS DOUBLE)
         / CAST(length(text) AS DOUBLE)),
      0.0), 1.0)"""

ORACLE_SQL_LLM["docs_canonical_by_quality"] = f"""
    WITH RECURSIVE pairs AS MATERIALIZED ({_minhash_sql()}),
    sym AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
    lbl(node, comp) AS (
      SELECT a, LEAST(a, MIN(b)) FROM sym GROUP BY a
      UNION
      SELECT s.b, l.comp FROM lbl l JOIN sym s ON s.a = l.node
      WHERE l.comp < s.b
    ),
    grp AS (SELECT node AS doc_id, MIN(comp) AS group_id
            FROM lbl GROUP BY node),
    q AS (SELECT doc_id, {_CANON_QUALITY} AS quality FROM documents),
    j AS (SELECT q.doc_id, COALESCE(g.group_id, q.doc_id) AS group_id,
                 q.quality
          FROM q LEFT JOIN grp g ON g.doc_id = q.doc_id),
    r AS (SELECT *, row_number() OVER (
            PARTITION BY group_id ORDER BY quality DESC, doc_id) AS rn
          FROM j)
    SELECT group_id, doc_id AS canonical_id, round(quality, 6) AS quality
    FROM r WHERE rn = 1
"""

ORACLE_SQL_LLM["docs_length_winsorize"] = """
    WITH t AS (SELECT doc_id,
                      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
               FROM documents),
    cuts AS (SELECT quantile_cont(n_tokens::DOUBLE, 0.05) AS lo,
                    quantile_cont(n_tokens::DOUBLE, 0.95) AS hi
             FROM t)
    SELECT t.doc_id, t.n_tokens
    FROM t CROSS JOIN cuts
    WHERE t.n_tokens >= cuts.lo AND t.n_tokens <= cuts.hi
"""

ORACLE_SQL_LLM["dedup_lsh_verified"] = f"""
    WITH pairs AS ({_minhash_sql(16, 2)}), {_SHINGLES.lstrip().rstrip()},
    hsh AS (SELECT doc_id,
                   list_distinct(list_transform(s,
                     x -> {_sql_hex_to_long("md5(x)", 8)})) AS h
            FROM sh)
    SELECT p.id_a, p.id_b,
           len(list_intersect(a.h, b.h)) AS inter_size,
           len(a.h) + len(b.h) - len(list_intersect(a.h, b.h)) AS union_size
    FROM pairs p
    JOIN hsh a ON a.doc_id = p.id_a
    JOIN hsh b ON b.doc_id = p.id_b
    WHERE len(list_intersect(a.h, b.h))
          >= (len(a.h) + len(b.h) - len(list_intersect(a.h, b.h))) * 0.8
"""

ORACLE_SQL_LLM["dedup_containment"] = f"""
    WITH pairs AS ({_minhash_sql(16, 2)}), {_SHINGLES.lstrip().rstrip()},
    hsh AS (SELECT doc_id,
                   list_distinct(list_transform(s,
                     x -> {_sql_hex_to_long("md5(x)", 8)})) AS h
            FROM sh)
    SELECT p.id_a, p.id_b,
           len(list_intersect(a.h, b.h)) AS inter_size,
           len(a.h) AS size_a,
           len(b.h) AS size_b
    FROM pairs p
    JOIN hsh a ON a.doc_id = p.id_a
    JOIN hsh b ON b.doc_id = p.id_b
    WHERE len(list_intersect(a.h, b.h))
          >= least(len(a.h), len(b.h)) * 0.9
"""

# capped variants: hot-bucket enumeration cap (occupancy rule replayed
# in SQL), then count → k = ceil(n/budget) (integer form, exact on
# both engines) → keyed md5 1-in-k sample, replayed verbatim in SQL
_BUDGET_KEY = _sql_hex_to_long(
    "md5(p.id_a::VARCHAR || '|' || p.id_b::VARCHAR)", 8
)


def _lsh_census_sql(
    num_hashes: int = 16, bands: int = 2, max_bucket: int = _LSH_MAX_BUCKET
) -> str:
    """DuckDB rendering of dedup.lsh_bucket_truncation_census:
    (band_idx, n_buckets, n_hot_buckets, n_doc_slots_hot)."""
    from rust_dms_cdc_operator_spark.operators.dedup import (  # noqa: PLC0415
        _MERSENNE,
        _mix_a,
        _mix_b,
    )

    rows = num_hashes // bands
    sigs = ", ".join(
        "list_aggregate(list_transform(wh, "
        f"h -> ({_mix_a(i)} * h + {_mix_b(i)}) % {_MERSENNE}), 'min') AS mh_{i}"
        for i in range(num_hashes)
    )
    band_exprs = [
        " || '|' || ".join(f"mh_{b * rows + r}::VARCHAR" for r in range(rows))
        for b in range(bands)
    ]
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS bk, {i} AS band_idx FROM sigs"
        for i, b in enumerate(band_exprs)
    )
    return f"""
        WITH wh AS (
          SELECT doc_id,
                 list_transform(list_distinct(string_split(text, ' ')),
                                w -> {_sql_hex_to_long('md5(w)', 8)}) AS wh
          FROM documents),
        sigs AS (SELECT doc_id, {sigs} FROM wh),
        banded AS ({band_selects}),
        occ AS (SELECT band_idx, bk, count(*) AS c
                FROM banded GROUP BY 1, 2)
        SELECT band_idx,
               CAST(count(*) AS BIGINT) AS n_buckets,
               CAST(coalesce(sum(CASE WHEN c > {max_bucket} THEN 1
                                      ELSE 0 END), 0) AS BIGINT)
                 AS n_hot_buckets,
               CAST(coalesce(sum(CASE WHEN c > {max_bucket} THEN c
                                      ELSE 0 END), 0) AS BIGINT)
                 AS n_doc_slots_hot
        FROM occ GROUP BY band_idx
    """


_TRUNC_CTE = f"""tr AS (
      SELECT CAST(coalesce(sum(n_hot_buckets), 0) AS BIGINT) AS hb,
             CAST(coalesce(sum(n_doc_slots_hot), 0) AS BIGINT) AS ds
      FROM ({_lsh_census_sql()}) tcen)"""

ORACLE_SQL_LLM["dedup_lsh_hot_buckets"] = _lsh_census_sql()

ORACLE_SQL_LLM["dedup_jaccard_capped"] = f"""
    WITH pairs AS ({_minhash_sql(16, 2, _LSH_MAX_BUCKET)}),
    {_TRUNC_CTE}, {_SHINGLES.lstrip().rstrip()},
    hsh AS (SELECT doc_id,
                   list_distinct(list_transform(s,
                     x -> {_sql_hex_to_long("md5(x)", 8)})) AS h
            FROM sh),
    pre AS (SELECT p.id_a, p.id_b
            FROM pairs p
            JOIN hsh a ON a.doc_id = p.id_a
            JOIN hsh b ON b.doc_id = p.id_b
            WHERE least(len(a.h), len(b.h))
                  >= greatest(len(a.h), len(b.h)) * 0.8),
    kk AS (SELECT greatest(1, (count(*) + {_VERIFY_BUDGET - 1})
                              // {_VERIFY_BUDGET}) AS k
           FROM pre),
    samp AS (SELECT p.id_a, p.id_b FROM pre p, kk
             WHERE {_BUDGET_KEY} % kk.k = 0)
    SELECT p.id_a, p.id_b,
           len(list_intersect(a.h, b.h)) AS inter_size,
           len(a.h) + len(b.h) - len(list_intersect(a.h, b.h)) AS union_size,
           tr.hb AS n_hot_buckets,
           tr.ds AS n_doc_slots_truncated
    FROM samp p
    JOIN hsh a ON a.doc_id = p.id_a
    JOIN hsh b ON b.doc_id = p.id_b
    CROSS JOIN tr
    WHERE len(list_intersect(a.h, b.h))
          >= (len(a.h) + len(b.h) - len(list_intersect(a.h, b.h))) * 0.8
"""

ORACLE_SQL_LLM["dedup_containment_capped"] = f"""
    WITH pairs AS ({_minhash_sql(16, 2, _LSH_MAX_BUCKET)}),
    {_TRUNC_CTE}, {_SHINGLES.lstrip().rstrip()},
    hsh AS (SELECT doc_id,
                   list_distinct(list_transform(s,
                     x -> {_sql_hex_to_long("md5(x)", 8)})) AS h
            FROM sh),
    kk AS (SELECT greatest(1, (count(*) + {_VERIFY_BUDGET - 1})
                              // {_VERIFY_BUDGET}) AS k
           FROM pairs),
    samp AS (SELECT p.id_a, p.id_b FROM pairs p, kk
             WHERE {_BUDGET_KEY} % kk.k = 0)
    SELECT p.id_a, p.id_b,
           len(list_intersect(a.h, b.h)) AS inter_size,
           len(a.h) AS size_a,
           len(b.h) AS size_b,
           tr.hb AS n_hot_buckets,
           tr.ds AS n_doc_slots_truncated
    FROM samp p
    JOIN hsh a ON a.doc_id = p.id_a
    JOIN hsh b ON b.doc_id = p.id_b
    CROSS JOIN tr
    WHERE len(list_intersect(a.h, b.h))
          >= least(len(a.h), len(b.h)) * 0.9
"""

# Prefix-filter censuses: the engine's prefix algorithm is COMPLETE
# (every qualifying pair, proof in operators/dedup.py), so the oracle
# need not replay prefixes at all — any exact enumeration must agree.
# DuckDB twin: token inverted-index candidates (a pair with overlap
# >= 1 shares a token), then the identical integer verify.
ORACLE_SQL_LLM["dedup_containment_prefix"] = f"""
    WITH {_SHINGLES.lstrip().rstrip()},
    hsh AS (SELECT doc_id,
                   list_distinct(list_transform(s,
                     x -> {_sql_hex_to_long("md5(x)", 8)})) AS h
            FROM sh),
    sized AS (SELECT doc_id, h, len(h) AS sz FROM hsh WHERE len(h) > 0),
    tok AS (SELECT doc_id, sz, unnest(h) AS tok FROM sized),
    -- evaluation shape only (r9): per-doc token lists are DISTINCT,
    -- so the equi-join's row count per pair IS |A inter B| — one hash
    -- agg replaces DISTINCT-candidates + a per-pair list_intersect
    -- re-scan (the sf1 oracle fell out of the 1200s budget on the
    -- 200M-candidate fixture in the old shape; identical rows)
    shared AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                      a.sz AS size_a, b.sz AS size_b,
                      count(*) AS inter_size
               FROM tok a JOIN tok b ON a.tok = b.tok
               WHERE (a.sz < b.sz)
                  OR (a.sz = b.sz AND a.doc_id < b.doc_id)
               GROUP BY 1, 2, 3, 4)
    SELECT id_a, id_b, inter_size, size_a, size_b
    FROM shared
    WHERE inter_size * 10 >= least(size_a, size_b) * 9
"""

ORACLE_SQL_LLM["dedup_jaccard_prefix"] = f"""
    WITH {_SHINGLES.lstrip().rstrip()},
    hsh AS (SELECT doc_id,
                   list_distinct(list_transform(s,
                     x -> {_sql_hex_to_long("md5(x)", 8)})) AS h
            FROM sh),
    sized AS (SELECT doc_id, h, len(h) AS sz FROM hsh WHERE len(h) > 0),
    tok AS (SELECT doc_id, sz, unnest(h) AS tok FROM sized),
    -- evaluation shape only (r9): see dedup_containment_prefix — the
    -- join's per-pair row count IS the intersection size
    shared AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                      a.sz AS size_a, b.sz AS size_b,
                      count(*) AS inter_size
               FROM tok a JOIN tok b ON a.tok = b.tok
               WHERE a.doc_id < b.doc_id
                 AND least(a.sz, b.sz) * 5 >= greatest(a.sz, b.sz) * 4
               GROUP BY 1, 2, 3, 4)
    SELECT id_a, id_b, inter_size,
           size_a + size_b - inter_size AS union_size
    FROM shared
    WHERE inter_size * 5 >= (size_a + size_b - inter_size) * 4
"""

ORACLE_SQL_LLM["docs_top_per_source"] = """
    WITH t AS (
      SELECT source, doc_id,
             CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
               AS distinct_words,
             length(text) AS n_chars_live,
             md5(text) AS tb,
             row_number() OVER (
               PARTITION BY source
               ORDER BY len(list_distinct(string_split(text, ' '))) DESC,
                        length(text) DESC, md5(text), doc_id
             ) AS rk
      FROM documents)
    SELECT source, doc_id, distinct_words, CAST(rk AS BIGINT) AS rk
    FROM t WHERE rk <= 3
"""

ORACLE_SQL_LLM["events_retention"] = """
    WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_date
               FROM events GROUP BY user_id),
    a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events)
    SELECT f.cohort_date,
           CAST(date_diff('day', f.cohort_date, a.d) AS BIGINT) AS day_offset,
           count(*) AS users_n
    FROM a JOIN f ON a.user_id = f.user_id
    GROUP BY f.cohort_date, day_offset
"""

ORACLE_SQL_LLM["events_funnel"] = """
    WITH v AS (
      SELECT user_id, min(row(ts, event_id)) AS prev
      FROM events WHERE event_type = 'view' GROUP BY user_id),
    c AS (
      SELECT e.user_id, min(row(e.ts, e.event_id)) AS prev
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND row(e.ts, e.event_id) > v.prev
      GROUP BY e.user_id),
    p AS (
      SELECT e.user_id, min(row(e.ts, e.event_id)) AS prev
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND row(e.ts, e.event_id) > c.prev
      GROUP BY e.user_id)
    SELECT (SELECT count(*) FROM v) AS users_view,
           (SELECT count(*) FROM c) AS users_view_click,
           (SELECT count(*) FROM p) AS users_full_funnel
"""

ORACLE_SQL_LLM["debezium_cdc_compact"] = """
    WITH t AS (
      SELECT event_id, user_id, event_type, value,
             CASE WHEN event_type = 'error' THEN 'D'
                  WHEN event_type = 'click' THEN 'U'
                  ELSE 'I' END AS op,
             row_number() OVER (
               PARTITION BY user_id
               ORDER BY epoch_us(ts) // 1000 DESC, event_id DESC
             ) AS rn
      FROM events)
    SELECT event_id, user_id, event_type, value
    FROM t WHERE rn = 1 AND op <> 'D'
"""

ORACLE_SQL_LLM["skew_salted_join"] = """
    SELECT c.c_mktsegment,
           count(*) AS orders_n,
           CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS price_cents_sum
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
"""

# the streaming tumbling aggregation must equal the batch answer, so it
# shares the batch oracle verbatim (same pattern as stream_cdc_apply/W1)
ORACLE_SQL_LLM["stream_tumbling_counts"] = ORACLE_SQL_LLM[
    "events_tumbling_counts"
]
# the custom stateful streaming sessionizer must converge to the batch
# session_window answer, so it shares the batch oracle verbatim
ORACLE_SQL_LLM["stream_sessionize"] = ORACLE_SQL_LLM["events_sessionize"]
ORACLE_SQL_LLM["stream_stream_join"] = """
    SELECT c.event_id AS click_id, p.event_id AS purchase_id
    FROM events c
    JOIN events p
      ON c.event_type = 'click' AND p.event_type = 'purchase'
     AND c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
"""
def _cms_bucket_sql(word_expr: str, row: int, width: int = 1024) -> str:
    """DuckDB rendering of sketch.cms_bucket: 8-hex md5 slice → long
    → mod width."""
    h = _sql_hex_to_long(f"substr(md5({word_expr}), {row * 8 + 1}, 8)", 8)
    return f"({h} % {width})"


from rust_dms_cdc_operator_spark.operators.zorder import (  # noqa: E402
    zorder_sql,
)

def _pq_oracle_sql(books=None) -> str:
    """sim_pq_topk oracle: quantize → encode (unrolled integer argmin
    per subspace, codebook literals from pq_constants) → integer ADC
    shortlist (top-100 by (pq_dist, vec_id) — all-integer, so
    membership is bit-identical) → exact cosine rerank of the
    shortlist (the same rounded list_cosine_similarity every other
    sim oracle uses). ``books`` defaults to the sf0.01 constants;
    per-sf codebooks from trained/ render the other scales."""
    from rust_dms_cdc_operator_spark.operators.pq import (
        pq_encode_sql,
        pq_quantize_sql,
    )

    if books is None:
        from rust_dms_cdc_operator_spark.pq_constants import (  # noqa: PLC0415
            _PQ_CODEBOOKS_SF001 as books,
        )
    sub_d = len(books[0][0])
    code_exprs = pq_encode_sql("qv", books)
    enc_cols = ", ".join(
        f"{expr} AS c{s}" for s, expr in enumerate(code_exprs)
    )
    dt_lists = []
    for s, book in enumerate(books):
        entries = []
        for c in book:
            terms = [
                f"(qq[{s * sub_d + i + 1}] - ({c[i]}))"
                f" * (qq[{s * sub_d + i + 1}] - ({c[i]}))"
                for i in range(sub_d)
            ]
            entries.append("(" + " + ".join(terms) + ")")
        dt_lists.append("[" + ", ".join(entries) + f"] AS dt{s}")
    dist = " + ".join(f"dt{s}[c{s}]" for s in range(len(books)))
    return f"""
        WITH q AS (
          SELECT {pq_quantize_sql('embedding')} AS qq
          FROM embeddings WHERE vec_id = 0),
        dt AS (SELECT {', '.join(dt_lists)} FROM q),
        enc AS (
          SELECT vec_id, {enc_cols}
          FROM (SELECT vec_id, {pq_quantize_sql('embedding')} AS qv
                FROM embeddings WHERE vec_id > 0)),
        shortlist AS (
          SELECT vec_id
          FROM enc, dt
          ORDER BY CAST({dist} AS BIGINT), vec_id
          LIMIT 100)
        SELECT e.vec_id, {_COS_Q0} AS cos_sim
        FROM embeddings e JOIN shortlist USING (vec_id)
        ORDER BY cos_sim DESC, e.vec_id
        LIMIT 10
    """


ORACLE_SQL_LLM["sim_pq_topk"] = _pq_oracle_sql()


def _ivfpq_oracle_sql(cents=None, books=None) -> str:
    """sim_ivfpq_topk oracle: the sim_ivf_trained probe/assign CTEs
    select the candidate lists, the sim_pq_topk encode/dtable CTEs
    shortlist within them (integer ADC), and the rounded cosine
    reranks — both trained artifacts as literals; defaults are the
    sf0.01 constants, per-sf artifacts render the other scales."""
    from rust_dms_cdc_operator_spark.operators.pq import (
        pq_encode_sql,
        pq_quantize_sql,
    )

    if cents is None:
        from rust_dms_cdc_operator_spark.ivf_constants import (  # noqa: PLC0415
            _IVF_TRAINED_CENTROIDS_SF001 as cents,
        )
    if books is None:
        from rust_dms_cdc_operator_spark.pq_constants import (  # noqa: PLC0415
            _PQ_CODEBOOKS_SF001 as books,
        )
    CENTS = cents

    cent_rows = ",\n          ".join(
        f"({i}, {c}::DOUBLE[])" for i, c in enumerate(CENTS)
    )
    sub_d = len(books[0][0])
    enc_cols = ", ".join(
        f"{expr} AS c{s}" for s, expr in enumerate(pq_encode_sql("qv", books))
    )
    dt_lists = []
    for s, book in enumerate(books):
        entries = []
        for c in book:
            terms = [
                f"(qq[{s * sub_d + i + 1}] - ({c[i]}))"
                f" * (qq[{s * sub_d + i + 1}] - ({c[i]}))"
                for i in range(sub_d)
            ]
            entries.append("(" + " + ".join(terms) + ")")
        dt_lists.append("[" + ", ".join(entries) + f"] AS dt{s}")
    dist = " + ".join(f"dt{s}[c{s}]" for s in range(len(books)))
    return f"""
        WITH cents AS (
          SELECT * FROM (VALUES
          {cent_rows}
          ) AS t(cid, cemb)
        ),
        q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        probes AS (
          SELECT cid FROM cents, q
          ORDER BY round(list_cosine_similarity(cemb, qv), 6) DESC, cid
          LIMIT 3
        ),
        assign AS (
          SELECT e.vec_id, c.cid,
                 row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY round(list_cosine_similarity(
                       e.embedding::DOUBLE[], c.cemb), 6) DESC, c.cid
                 ) AS rn
          FROM embeddings e CROSS JOIN cents c WHERE e.vec_id > 0
        ),
        cand AS (
          SELECT vec_id FROM assign
          WHERE rn = 1 AND cid IN (SELECT cid FROM probes)
        ),
        qp AS (
          SELECT {pq_quantize_sql('embedding')} AS qq
          FROM embeddings WHERE vec_id = 0),
        dt AS (SELECT {', '.join(dt_lists)} FROM qp),
        enc AS (
          SELECT vec_id, {enc_cols}
          FROM (SELECT e.vec_id, {pq_quantize_sql('e.embedding')} AS qv
                FROM embeddings e JOIN cand USING (vec_id))),
        shortlist AS (
          SELECT vec_id
          FROM enc, dt
          ORDER BY CAST({dist} AS BIGINT), vec_id
          LIMIT 60)
        SELECT e.vec_id, {_COS_Q0} AS cos_sim
        FROM embeddings e JOIN shortlist USING (vec_id)
        ORDER BY cos_sim DESC, e.vec_id
        LIMIT 10
    """


ORACLE_SQL_LLM["sim_ivfpq_topk"] = _ivfpq_oracle_sql()
# the materialized-index probe is semantically identical (same trained
# artifacts, same nprobe/shortlist/k) — only the physical access path
# differs, so it shares the oracle; literal-valid at sf0.01 like the rest
ORACLE_SQL_LLM["sim_ivfpq_probe_partitioned"] = _ivfpq_oracle_sql()
def _pagerank_oracle_sql(
    iters: int = 5, max_bucket: int | None = None
) -> str:
    """Unrolled-iteration SQL mirror of graph.pagerank_undirected:
    identical IEEE op sequence ((1.0 - 0.85)/n base, per-iteration
    round to 9)."""
    # MATERIALIZED: bi/deg are referenced in EVERY unrolled iteration
    # and each p{i} twice-over downstream — plain CTEs inline per
    # reference and re-derive the pair block exponentially at native
    # sf1. Pure evaluation hint — identical rows at every scale.
    steps = []
    for i in range(iters):
        prev = f"p{i}"
        steps.append(f"""
    p{i + 1} AS MATERIALIZED (
      SELECT b.dst AS src,
             round((1.0 - 0.85) / nn.n
                   + 0.85 * sum(p.pr / d.deg), 9) AS pr
      FROM bi b
      JOIN {prev} p ON b.src = p.src
      JOIN deg d ON b.src = d.src
      CROSS JOIN nn
      GROUP BY b.dst, nn.n)""")
    return f"""
    WITH e AS MATERIALIZED (
      SELECT DISTINCT id_a, id_b FROM ({_minhash_sql(16, 2, max_bucket)})),
    bi AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM e
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM e),
    deg AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS deg
            FROM bi GROUP BY src),
    nn AS (SELECT count(*)::DOUBLE AS n FROM deg),
    p0 AS MATERIALIZED (
      SELECT src, round(1.0 / nn.n, 9) AS pr FROM deg CROSS JOIN nn),
    {','.join(steps)}
    SELECT src AS v, pr FROM p{iters}
    """


ORACLE_SQL_LLM["dedup_pagerank"] = _pagerank_oracle_sql(5)
ORACLE_SQL_LLM["docs_tfidf_topterms"] = """
    WITH words AS (
      SELECT source, doc_id,
             unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term
      FROM documents),
    nd AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
    tf AS (SELECT source, term, CAST(count(*) AS BIGINT) AS tf
           FROM words GROUP BY source, term),
    dfc AS (SELECT term, CAST(count(*) AS BIGINT) AS df
            FROM (SELECT DISTINCT doc_id, term FROM words) GROUP BY term),
    scored AS (
      SELECT tf.source, tf.term,
             round(tf.tf * ln(nd.n_docs / dfc.df), 6) AS tfidf
      FROM tf JOIN dfc USING (term) CROSS JOIN nd),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY source
                                   ORDER BY tfidf DESC, term) AS rn
      FROM scored)
    SELECT source, term, tfidf, CAST(rn AS BIGINT) AS rank
    FROM ranked WHERE rn <= 3
"""
ORACLE_SQL_LLM["events_markov_transitions"] = """
    WITH pairs AS (
      SELECT user_id, event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      FROM events),
    counts AS (
      SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
      FROM pairs WHERE to_type IS NOT NULL
      GROUP BY from_type, to_type),
    totals AS (
      SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from
      FROM counts GROUP BY from_type)
    SELECT c.from_type, c.to_type, c.n,
           round(CAST(c.n AS DOUBLE) / CAST(t.n_from AS DOUBLE), 6) AS p
    FROM counts c JOIN totals t USING (from_type)
"""
# MATERIALIZED on e0/keep/e: e0 is read three times (degree census
# + both IN-subqueries) and e five times (wedges, the triangle
# two-hop join twice, the EXISTS probe, the edge count) — plain CTEs
# inline per reference and re-derive the pair block at native sf1.
# Pure evaluation hint — identical rows at every scale.
ORACLE_SQL_LLM["dedup_triangle_stats"] = f"""
    WITH e0 AS MATERIALIZED (
      SELECT DISTINCT id_a, id_b FROM ({_minhash_sql(16, 2)})),
    deg0 AS (
      SELECT v, count(*) AS d
      FROM (SELECT id_a AS v FROM e0 UNION ALL SELECT id_b FROM e0)
      GROUP BY v),
    keep AS MATERIALIZED (SELECT v FROM deg0 WHERE d <= 32),
    e AS MATERIALIZED (
      SELECT id_a, id_b FROM e0
      WHERE id_a IN (SELECT v FROM keep)
        AND id_b IN (SELECT v FROM keep)),
    deg AS (
      SELECT v, CAST(count(*) AS BIGINT) AS d
      FROM (SELECT id_a AS v FROM e UNION ALL SELECT id_b FROM e)
      GROUP BY v),
    w AS (SELECT CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_wedges FROM deg),
    t AS (
      SELECT CAST(count(*) AS BIGINT) AS n_triangles
      FROM e ab JOIN e bc ON ab.id_b = bc.id_a
      WHERE EXISTS (SELECT 1 FROM e ac
                    WHERE ac.id_a = ab.id_a AND ac.id_b = bc.id_b)),
    m AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
    SELECT m.n_edges, w.n_wedges, t.n_triangles,
           CASE WHEN w.n_wedges > 0
                THEN round(3.0 * t.n_triangles / w.n_wedges, 6)
           END AS clustering
    FROM m, w, t
"""
ORACLE_SQL_LLM["events_value_quantiles"] = """
    WITH v AS (
      SELECT CAST(round(value * 1000) AS BIGINT) AS vm FROM events),
    h AS (
      SELECT CAST(floor((greatest(least(vm, 999999), 0) - 0) / 977)
                  AS BIGINT) AS hist_bucket,
             CAST(count(*) AS BIGINT) AS total
      FROM v GROUP BY 1),
    c AS (
      SELECT hist_bucket,
             sum(total) OVER (ORDER BY hist_bucket
                              ROWS UNBOUNDED PRECEDING) AS cum,
             sum(total) OVER () AS n
      FROM h)
    SELECT CAST(q AS BIGINT) AS q_micro,
           CAST((SELECT min(hist_bucket) FROM c
                 WHERE cum >= ceil(n * q / 1000000)) * 977 + 0
                AS BIGINT) AS value_est
    FROM (VALUES (500000), (950000), (990000)) t(q)
"""
ORACLE_SQL_LLM["events_rolling_window"] = """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
             CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS vm,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, date_trunc('hour', ts))
    SELECT event_type, bucket_ts,
           CAST(sum(vm) OVER w AS BIGINT) AS rolling_vm,
           CAST(sum(n) OVER w AS BIGINT) AS rolling_n
    FROM hourly
    WINDOW w AS (PARTITION BY event_type
                 ORDER BY epoch(bucket_ts)
                 RANGE BETWEEN 10800 PRECEDING AND CURRENT ROW)
"""
ORACLE_SQL_LLM["events_anomaly_hours"] = """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY event_type, date_trunc('hour', ts)),
    stats AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cnt) AS BIGINT) AS s,
             CAST(sum(cnt * cnt) AS BIGINT) AS q
      FROM hourly GROUP BY event_type)
    SELECT h.event_type, h.bucket_ts, h.cnt,
           round((CAST(h.cnt AS DOUBLE) - CAST(st.s AS DOUBLE) / CAST(st.n AS DOUBLE))
                 / sqrt(CAST(st.n * st.q - st.s * st.s AS DOUBLE)
                        / CAST(st.n * (st.n - 1) AS DOUBLE)), 6) AS z
    FROM hourly h JOIN stats st USING (event_type)
    WHERE (st.n * h.cnt - st.s) * (st.n * h.cnt - st.s) * (st.n - 1)
          > 4 * st.n * (st.n * st.q - st.s * st.s)
"""
ORACLE_SQL_LLM["docs_segment_dedup"] = """
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    s AS (
      SELECT doc_id,
             unnest(list_transform(
               range(CAST(ceil(len(w) / 10.0) AS BIGINT)),
               i -> {'p': i, 't': array_to_string(w[i*10+1 : i*10+10], ' ')}
             )) AS x
      FROM d),
    segs AS (
      SELECT doc_id, CAST(x['p'] AS BIGINT) AS seg_pos, x['t'] AS seg_text
      FROM s),
    r AS (
      SELECT doc_id, seg_pos, seg_text,
             row_number() OVER (PARTITION BY md5(seg_text)
                                ORDER BY doc_id, seg_pos) AS rn
      FROM segs),
    kept AS (SELECT doc_id, seg_pos, seg_text FROM r WHERE rn = 1),
    reb AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
             md5(string_agg(seg_text, ' ' ORDER BY seg_pos)) AS clean_md5
      FROM kept GROUP BY doc_id),
    tot AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segs
      FROM segs GROUP BY doc_id)
    SELECT doc.doc_id,
           CAST(coalesce(tot.n_segs, 0) AS BIGINT) AS n_segs,
           CAST(coalesce(reb.n_kept, 0) AS BIGINT) AS n_kept,
           reb.clean_md5
    FROM documents doc
    LEFT JOIN tot ON doc.doc_id = tot.doc_id
    LEFT JOIN reb ON doc.doc_id = reb.doc_id
"""
ORACLE_SQL_LLM["docs_bigram_logppl"] = """
    WITH toks AS (
      SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS tok
      FROM documents),
    c1 AS (SELECT tok, count(*) AS c_tok FROM toks GROUP BY tok),
    tot AS (SELECT sum(c_tok)::DOUBLE AS total FROM c1),
    words AS (
      SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS w
      FROM documents),
    big AS (
      SELECT doc_id,
             unnest(list_transform(
               range(greatest(len(w) - 1, 0)),
               i -> w[i+1] || ' ' || w[i+2])) AS gram
      FROM words),
    bw AS (
      SELECT doc_id, gram,
             split_part(gram, ' ', 1) AS w1,
             split_part(gram, ' ', 2) AS w2
      FROM big),
    c2 AS (SELECT gram, count(*) AS c_gram FROM bw GROUP BY gram),
    per AS (
      SELECT b.doc_id, count(*) AS n_bigrams,
             round(-avg(ln(
               0.75 * c2.c_gram / u1.c_tok
               + 0.25 * u2.c_tok / tot.total)), 6) AS log_ppl2
      FROM bw b
      JOIN c2 USING (gram)
      JOIN c1 u1 ON b.w1 = u1.tok
      JOIN c1 u2 ON b.w2 = u2.tok
      CROSS JOIN tot
      GROUP BY b.doc_id)
    SELECT d.doc_id,
           CAST(coalesce(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           p.log_ppl2
    FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
"""
ORACLE_SQL_LLM["events_zorder_stats"] = f"""
    WITH g AS (
      SELECT CAST(user_id % 1024 AS BIGINT) AS u,
             CAST(floor((epoch(ts) - 1704067200) / 3600) AS BIGINT) AS h
      FROM events),
    z AS (
      SELECT u, h, ({zorder_sql(['u', 'h'], 10)} >> 10) AS zbucket
      FROM g)
    SELECT zbucket, CAST(count(*) AS BIGINT) AS events_n,
           min(u) AS u_min, max(u) AS u_max,
           min(h) AS h_min, max(h) AS h_max
    FROM z GROUP BY zbucket
"""
ORACLE_SQL_LLM["docs_cms_heavy_hitters"] = f"""
    WITH w AS (
      SELECT word FROM (
        SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      WHERE word <> ''),
    s0 AS (SELECT {_cms_bucket_sql('word', 0)} AS b, count(*) AS t
           FROM w GROUP BY 1),
    s1 AS (SELECT {_cms_bucket_sql('word', 1)} AS b, count(*) AS t
           FROM w GROUP BY 1),
    s2 AS (SELECT {_cms_bucket_sql('word', 2)} AS b, count(*) AS t
           FROM w GROUP BY 1),
    s3 AS (SELECT {_cms_bucket_sql('word', 3)} AS b, count(*) AS t
           FROM w GROUP BY 1),
    probes AS (
      SELECT word, CAST(count(*) AS BIGINT) AS exact_n
      FROM w GROUP BY word
      ORDER BY exact_n DESC, word LIMIT 30)
    SELECT p.word, p.exact_n,
           CAST(least(coalesce(s0.t, 0), coalesce(s1.t, 0),
                      coalesce(s2.t, 0), coalesce(s3.t, 0)) AS BIGINT)
             AS cms_count
    FROM probes p
    LEFT JOIN s0 ON s0.b = {_cms_bucket_sql('p.word', 0)}
    LEFT JOIN s1 ON s1.b = {_cms_bucket_sql('p.word', 1)}
    LEFT JOIN s2 ON s2.b = {_cms_bucket_sql('p.word', 2)}
    LEFT JOIN s3 ON s3.b = {_cms_bucket_sql('p.word', 3)}
"""
# the streamed (batch-wise merged) CMS must estimate exactly like the
# one-shot batch sketch — bucket-wise addition is lossless, so the
# probes share the batch oracle verbatim
ORACLE_SQL_LLM["stream_cms_heavy_hitters"] = ORACLE_SQL_LLM[
    "docs_cms_heavy_hitters"
]
ORACLE_SQL_LLM["docs_kmv_cardinality"] = f"""
    WITH d AS (
      SELECT DISTINCT source,
             {_sql_hex_to_long('md5(text)', 15)} AS h
      FROM documents),
    ranked AS (
      SELECT source, h,
             row_number() OVER (PARTITION BY source ORDER BY h) AS rn
      FROM d),
    g AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS exact_distinct,
             max(CASE WHEN rn = 16 THEN h END) AS kth
      FROM ranked GROUP BY source)
    SELECT source,
           CAST(CASE WHEN kth IS NULL THEN exact_distinct
                ELSE CAST(round(15.0 * 1152921504606846976.0
                                / CAST(kth AS DOUBLE)) AS BIGINT)
                END AS BIGINT) AS kmv_estimate,
           exact_distinct
    FROM g
"""
ORACLE_SQL_LLM["events_gapfill_locf"] = """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
             CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT)
               AS value_milli,
             CAST(count(*) AS BIGINT) AS events_n
      FROM events GROUP BY event_type, date_trunc('hour', ts)),
    spine AS (
      SELECT event_type, g AS bucket_ts
      FROM (SELECT DISTINCT event_type FROM events),
           generate_series(TIMESTAMP '2024-01-01 00:00:00',
                           TIMESTAMP '2024-01-31 23:00:00',
                           INTERVAL 1 HOUR) t(g))
    SELECT s.event_type, s.bucket_ts,
           last_value(h.value_milli IGNORE NULLS)
             OVER (PARTITION BY s.event_type ORDER BY s.bucket_ts
                   ROWS UNBOUNDED PRECEDING) AS value_milli,
           coalesce(h.events_n, 0) AS events_n
    FROM spine s
    LEFT JOIN hourly h
      ON s.event_type = h.event_type AND s.bucket_ts = h.bucket_ts
"""
ORACLE_SQL_LLM["events_range_join"] = """
    WITH iv AS (
      SELECT i AS campaign_id,
             TIMESTAMP '2024-01-01' + INTERVAL (i) DAY AS c_start,
             TIMESTAMP '2024-01-01' + INTERVAL (i * 24 + 36) HOUR AS c_end
      FROM range(30) t(i))
    SELECT campaign_id,
           CAST(count(*) AS BIGINT) AS events_n,
           CAST(count(DISTINCT user_id) AS BIGINT) AS users_n
    FROM events JOIN iv ON ts >= c_start AND ts < c_end
    GROUP BY campaign_id
"""

ORACLE_SQL_LLM["sim_ivf_trained"] = _ivf_trained_oracle_sql()
# the partitioned probe is semantically identical (same trained
# centroids, same nprobe/k) — only the physical access path differs,
# so it shares the oracle; like sim_ivf_trained, literal-valid at sf0.01
ORACLE_SQL_LLM["sim_ivf_probe_partitioned"] = _ivf_trained_oracle_sql()

QUERIES_LLM: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "dedup_exact": q_dedup_exact,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_groups": q_dedup_groups,
    "dedup_simhash": q_dedup_simhash,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_embedding_neardup": q_dedup_embedding_neardup,
    "sim_cosine_topk": q_sim_cosine_topk,
    "sim_lsh_bucket_topk": q_sim_lsh_bucket_topk,
    "sim_ivf_topk": q_sim_ivf_topk,
    "sim_ivf_trained": q_sim_ivf_trained,
    "sim_ivf_probe_partitioned": q_sim_ivf_probe_partitioned,
    "sim_batch_topk": q_sim_batch_topk,
    "text_langid": q_text_langid,
    "text_quality": q_text_quality,
    "docs_curation_pipeline": q_docs_curation_pipeline,
    "docs_training_mix": q_docs_training_mix,
    "events_tumbling_counts": q_events_tumbling_counts,
    "events_sessionize": q_events_sessionize,
    "text_tokens": q_text_tokens,
    "text_fingerprint": q_text_fingerprint,
    "mm_binary_stats": q_mm_binary_stats,
    "mm_frame_sample": q_mm_frame_sample,
    "mm_decode_features": q_mm_decode_features,
    "mm_decode_jpeg": q_mm_decode_jpeg,
    "mm_decode_mp3": q_mm_decode_mp3,
    "events_asof_enrich": q_events_asof_enrich,
    "events_scd2": q_events_scd2,
    "docs_contamination": q_docs_contamination,
    "docs_redact_pii": q_docs_redact_pii,
    "docs_rebalance_mix": q_docs_rebalance_mix,
    "docs_pack_sequences": q_docs_pack_sequences,
    "docs_repetition": q_docs_repetition,
    "docs_token_percentiles": q_docs_token_percentiles,
    "sim_quantized_topk": q_sim_quantized_topk,
    "docs_source_drift": q_docs_source_drift,
    "docs_incremental_dedup": q_docs_incremental_dedup,
    "docs_top_ngrams": q_docs_top_ngrams,
    "docs_shuffle": q_docs_shuffle,
    "docs_split": q_docs_split,
    "docs_stratified_sample": q_docs_stratified_sample,
    "docs_unigram_logppl": q_docs_unigram_logppl,
    "docs_window_chunks": q_docs_window_chunks,
    "docs_canonical_by_quality": q_docs_canonical_by_quality,
    "stream_cdc_apply": q_stream_cdc_apply,
    "stream_tumbling_counts": q_stream_tumbling_counts,
    "stream_sessionize": q_stream_sessionize,
    "events_range_join": q_events_range_join,
    "events_gapfill_locf": q_events_gapfill_locf,
    "docs_kmv_cardinality": q_docs_kmv_cardinality,
    "docs_cms_heavy_hitters": q_docs_cms_heavy_hitters,
    "events_zorder_stats": q_events_zorder_stats,
    "sim_pq_topk": q_sim_pq_topk,
    "docs_bigram_logppl": q_docs_bigram_logppl,
    "sim_ivfpq_topk": q_sim_ivfpq_topk,
    "sim_ivfpq_probe_partitioned": q_sim_ivfpq_probe_partitioned,
    "docs_tfidf_topterms": q_docs_tfidf_topterms,
    "dedup_pagerank": q_dedup_pagerank,
    "events_markov_transitions": q_events_markov_transitions,
    "docs_segment_dedup": q_docs_segment_dedup,
    "events_anomaly_hours": q_events_anomaly_hours,
    "events_rolling_window": q_events_rolling_window,
    "dedup_containment": q_dedup_containment,
    "dedup_containment_capped": q_dedup_containment_capped,
    "dedup_jaccard_capped": q_dedup_jaccard_capped,
    "dedup_containment_prefix": q_dedup_containment_prefix,
    "dedup_jaccard_prefix": q_dedup_jaccard_prefix,
    "events_value_quantiles": q_events_value_quantiles,
    "dedup_triangle_stats": q_dedup_triangle_stats,
    "stream_cms_heavy_hitters": q_stream_cms_heavy_hitters,
    "stream_stream_join": q_stream_stream_join,
    "debezium_cdc_compact": q_debezium_cdc_compact,
    "events_funnel": q_events_funnel,
    "events_retention": q_events_retention,
    "docs_top_per_source": q_docs_top_per_source,
    "skew_salted_join": q_skew_salted_join,
    "dedup_lsh_verified": q_dedup_lsh_verified,
    "docs_length_winsorize": q_docs_length_winsorize,
}


# ---------------------------------------------------------------------------
# round-5 batch: Hamming LSH, minhash kNN, EWMA smoothing, corpus
# version diff, grouping sets, pivot
# ---------------------------------------------------------------------------


def q_dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-index Hamming near-dup (operators/dedup.
    simhash_hamming_pairs): 60-bit SimHash split into 4 disjoint
    15-bit blocks; pigeonhole guarantees every pair within Hamming
    distance 3 agrees on >=1 block, so 4 banded equi-joins (32k-bucket
    keys) enumerate a complete candidate set with no all-pairs stage;
    one integer popcount verifies. The simhash-dedup blocking scheme
    of Manku et al. (WWW'07), declaratively."""
    from rust_dms_cdc_operator_spark.operators.dedup import (  # noqa: PLC0415
        simhash_hamming_pairs,
    )

    d = _t(spark, sf_dir, "documents")
    return simhash_hamming_pairs(
        d, "doc_id", "text", bits=60, bands=4, max_distance=3
    )


def q_sim_minhash_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 nearest neighbors by ESTIMATED Jaccard
    (matching MinHash components / 16) over the banded-LSH candidate
    graph — the doc-level k-NN join a semantic-dedup reviewer reads.
    Built on operators/dedup.minhash_knn_topk: directed salted band
    joins keep every doc's candidates in its own (bucket, salt) shard,
    so the per-doc rank sorts IN PLACE and the quadratic candidate
    stream never crosses an exchange; only <= k rows per doc per band
    reach the global rank. Candidates are the banded-LSH pairs
    (complete under the LSH contract, no all-pairs)."""
    from rust_dms_cdc_operator_spark.operators.dedup import (  # noqa: PLC0415
        minhash_knn_topk,
    )

    d = _t(spark, sf_dir, "documents")
    return minhash_knn_topk(
        d, "doc_id", "text", num_hashes=16, bands=2, k=3, salt=8
    )


def q_events_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted (truncated-kernel) smoothing of the
    daily event-count series per type: weight (7/10)^k for a lag of k
    days over a 14-day window, normalized over the days present. ONE
    corpus shuffle (the daily groupBy); the smoothing join runs on the
    tiny per-(type, day) aggregate — at 100 TB the aggregate is still
    O(types x days), so the kernel join never touches raw events.
    Weights are exact-dyadic ratios pow(7,k)/pow(10,k) (both powers
    exactly representable doubles for k <= 13), so both engines
    compute bit-identical weights; round(6) absorbs summation-order
    jitter (the perplexity-family argument)."""
    e = read_events(spark, sf_dir)
    daily = (
        e.groupBy(
            "event_type", F.to_date("ts").alias("day")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "d", F.datediff("day", F.to_date(F.lit("2024-01-01")))
        )
    )
    cur = daily.select(
        "event_type", F.col("day").alias("day"), F.col("d").alias("d_cur")
    )
    prev = daily.select(
        "event_type", F.col("d").alias("d_prev"), F.col("n").alias("n_prev")
    )
    k = F.col("d_cur") - F.col("d_prev")
    wgt = F.pow(F.lit(7.0), k) / F.pow(F.lit(10.0), k)
    return (
        cur.join(prev, "event_type")
        .filter(k.between(0, 13))
        .groupBy("event_type", "day")
        .agg(
            F.round(
                F.sum(wgt * F.col("n_prev")) / F.sum(wgt), 6
            ).alias("ewma")
        )
    )


def q_docs_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-version diff (the engine's V2/V3 content-diff semantics
    applied to corpora): derive a deterministic v2 (doc_id%7==0
    removed, doc_id%5==0 text-modified, doc_id%13==0 re-added under
    doc_id+1000000), full-outer join v1/v2 on doc_id comparing content
    digests, and report per-status counts — added / removed / changed
    / unchanged. Digest-first: text never crosses the join, only
    md5s (the v2_chunked_hash_diff argument at corpus scale)."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    v2 = d.filter(did % 7 != 0).withColumn(
        "text",
        F.when(
            did % 5 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    adds = d.filter(did % 13 == 0).select(
        (did + 1000000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    v2 = v2.unionByName(adds)
    h1 = d.select("doc_id", F.md5("text").alias("h1"))
    h2 = v2.select("doc_id", F.md5("text").alias("h2"))
    j = h1.join(h2, "doc_id", "full_outer")
    status = (
        F.when(F.col("h1").isNull(), F.lit("added"))
        .when(F.col("h2").isNull(), F.lit("removed"))
        .when(F.col("h1") != F.col("h2"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.groupBy(status.alias("status")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("doc_id").cast("long").alias("min_doc_id"),
        F.max("doc_id").cast("long").alias("max_doc_id"),
    )


def q_docs_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS aggregate ((source, lang), (source), ()) — the
    grouping-sets family member the rollup/cube queries don't cover:
    an explicit, non-prefix-closed set list, disambiguated by
    grouping_id (same bitmask as DuckDB's GROUPING(a, b), the
    orders_rollup precedent)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupingSets(
            [["source", "lang"], ["source"], []],
            "source",
            "lang",
        )
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("chars"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        )
        .select("source", "lang", "gid", "n_docs", "chars", "avg_chars")
    )


def q_events_pivot_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long->wide): daily counts with one column per event
    type, expressed as conditional aggregation rather than
    ``DataFrame.pivot`` — same result, ONE exchange on the day key
    (pivot() plans groupBy(day, type) + a second pivotfirst shuffle,
    and its no-values form adds a distinct-discovery job: both are
    scale antipatterns when the value set is known)."""
    types = ["click", "error", "purchase", "signup", "view"]
    e = read_events(spark, sf_dir)
    return e.groupBy(F.to_date("ts").alias("day")).agg(
        *[
            F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
            .cast("long")
            .alias(t)
            for t in types
        ]
    )


def _simhash_hamming_oracle_sql(
    bits: int = 60, bands: int = 4, max_distance: int = 3
) -> str:
    width = bits // bands
    mask = (1 << width) - 1
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v_{b}"
        for b in range(bits)
    )
    sig = " + ".join(
        f"(CASE WHEN v_{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(bits)
    )
    banded = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {i} AS band_idx, "
        f"(simhash >> {i * width}) & {mask} AS bk FROM s"
        for i in range(bands)
    )
    return f"""
        WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                   FROM documents),
        h AS (SELECT doc_id, {_sql_hex_to_long('md5(word)', bits // 4)} AS h
              FROM w),
        v AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id),
        s AS (SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM v),
        banded AS ({banded}),
        cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                        a.simhash AS sa, b.simhash AS sb
                 FROM banded a JOIN banded b
                   ON a.band_idx = b.band_idx AND a.bk = b.bk
                  AND a.doc_id < b.doc_id)
        SELECT id_a, id_b,
               CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
        FROM cand WHERE bit_count(xor(sa, sb)) <= {max_distance}
    """


def _minhash_knn_oracle_sql(
    num_hashes: int = 16, bands: int = 2, max_bucket: int | None = None
) -> str:
    from rust_dms_cdc_operator_spark.operators.dedup import (  # noqa: PLC0415
        _MERSENNE,
        _mix_a,
        _mix_b,
    )

    rows = num_hashes // bands
    sigs = ", ".join(
        "list_aggregate(list_transform(wh, "
        f"h -> ({_mix_a(i)} * h + {_mix_b(i)}) % {_MERSENNE}), 'min') AS mh_{i}"
        for i in range(num_hashes)
    )
    band_exprs = [
        " || '|' || ".join(f"mh_{b * rows + r}::VARCHAR" for r in range(rows))
        for b in range(bands)
    ]
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS bk, {i} AS band_idx FROM sigs"
        for i, b in enumerate(band_exprs)
    )
    match_sum = " + ".join(
        f"(CASE WHEN x.mh_{i} = y.mh_{i} THEN 1 ELSE 0 END)"
        for i in range(num_hashes)
    )
    if max_bucket is None:
        banded_block = f"banded AS ({band_selects})"
    else:
        # hot-bucket enumeration cap replay: an over-cap (band,
        # bucket) never expands into candidates (minhash_lsh_pairs
        # contract); occ is MATERIALIZED (read per band side)
        banded_block = f"""banded0 AS ({band_selects}),
        occ AS MATERIALIZED (SELECT bk, band_idx, count(*) AS c
                FROM banded0 GROUP BY 1, 2),
        banded AS MATERIALIZED (SELECT b.doc_id, b.bk, b.band_idx
                   FROM banded0 b JOIN occ o
                     ON o.bk = b.bk AND o.band_idx = b.band_idx
                   WHERE o.c <= {max_bucket})"""
    return f"""
        WITH wh AS (
          SELECT doc_id,
                 list_transform(list_distinct(string_split(text, ' ')),
                                w -> {_sql_hex_to_long('md5(w)', 8)}) AS wh
          FROM documents),
        sigs AS (SELECT doc_id, {sigs} FROM wh),
        {banded_block},
        pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM banded a JOIN banded b
                    ON a.band_idx = b.band_idx AND a.bk = b.bk
                   AND a.doc_id < b.doc_id),
        directed AS (SELECT id_a AS src, id_b AS dst FROM pairs
                     UNION ALL
                     SELECT id_b AS src, id_a AS dst FROM pairs),
        scored AS (SELECT d.src AS doc_id, d.dst AS neighbor_id,
                          CAST({match_sum} AS BIGINT) AS n_match
                   FROM directed d
                   JOIN sigs x ON x.doc_id = d.src
                   JOIN sigs y ON y.doc_id = d.dst),
        ranked AS (SELECT *, row_number() OVER (
                     PARTITION BY doc_id
                     ORDER BY n_match DESC, neighbor_id ASC) AS rn
                   FROM scored)
        SELECT doc_id, neighbor_id, n_match,
               round(CAST(n_match AS DOUBLE) / {num_hashes}.0, 6)
                 AS est_jaccard,
               CAST(rn AS BIGINT) AS rn
        FROM ranked WHERE rn <= 3
    """


ORACLE_SQL_LLM["dedup_simhash_hamming"] = _simhash_hamming_oracle_sql()
ORACLE_SQL_LLM["sim_minhash_knn"] = _minhash_knn_oracle_sql()
ORACLE_SQL_LLM["events_ewma_smooth"] = """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
             count(*) AS n
      FROM events GROUP BY 1, 2, 3)
    SELECT a.event_type, a.day,
           round(sum(pow(7.0, a.d - b.d) / pow(10.0, a.d - b.d) * b.n)
                 / sum(pow(7.0, a.d - b.d) / pow(10.0, a.d - b.d)),
                 6) AS ewma
    FROM daily a JOIN daily b
      ON a.event_type = b.event_type AND a.d - b.d BETWEEN 0 AND 13
    GROUP BY 1, 2
"""
ORACLE_SQL_LLM["docs_version_diff"] = """
    WITH v2 AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END
               AS text
      FROM documents WHERE doc_id % 7 <> 0
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text
      FROM documents WHERE doc_id % 13 = 0),
    j AS (
      SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
             md5(a.text) AS h1, md5(b.text) AS h2
      FROM documents a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id)
    SELECT CASE WHEN h1 IS NULL THEN 'added'
                WHEN h2 IS NULL THEN 'removed'
                WHEN h1 <> h2 THEN 'changed'
                ELSE 'unchanged' END AS status,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id,
           CAST(max(doc_id) AS BIGINT) AS max_doc_id
    FROM j GROUP BY 1
"""
ORACLE_SQL_LLM["docs_grouping_sets"] = """
    SELECT source, lang, GROUPING(source, lang) AS gid,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars,
           round(avg(n_chars), 6) AS avg_chars
    FROM documents
    GROUP BY GROUPING SETS ((source, lang), (source), ())
"""
ORACLE_SQL_LLM["events_pivot_daily"] = """
    SELECT CAST(ts AS DATE) AS day,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS click,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT) AS error,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS purchase,
           CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                AS BIGINT) AS signup,
           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                AS BIGINT) AS view
    FROM events GROUP BY 1
"""

QUERIES_LLM["dedup_simhash_hamming"] = q_dedup_simhash_hamming
QUERIES_LLM["sim_minhash_knn"] = q_sim_minhash_knn
QUERIES_LLM["events_ewma_smooth"] = q_events_ewma_smooth
QUERIES_LLM["docs_version_diff"] = q_docs_version_diff
QUERIES_LLM["docs_grouping_sets"] = q_docs_grouping_sets
QUERIES_LLM["events_pivot_daily"] = q_events_pivot_daily


def q_docs_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the word distribution — the
    information-theoretic quality/diversity signal (low entropy =
    repetitive/templated text; complements docs_repetition's ratio).
    Exact-integer core: H = log2(n) - (sum c*log2(c)) / n over per-doc
    word counts c, so the only floats are log2 of small integers —
    identical IEEE doubles on every engine; round(6) absorbs
    summation-order jitter. Two keyed shuffles (doc, word) -> (doc),
    both with map-side partial aggregation."""
    d = _t(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    wc = words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    return (
        wc.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum(F.col("c") * F.log2("c")).alias("s"),
        )
        .select(
            "doc_id",
            F.col("n").cast("long").alias("n_tokens"),
            F.col("n_distinct").cast("long").alias("n_distinct"),
            F.round(
                F.log2("n") - F.col("s") / F.col("n"), 6
            ).alias("entropy_bits"),
        )
    )


def q_docs_quality_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-based score normalization per source (the distribution-
    free way to mix heterogeneous quality scores across corpus
    shards): percentile + decile of the quality score within each
    source, ties broken by doc_id for a deterministic total order.
    One window shuffle keyed by source — never a global sort.

    The percentile is an EXACT-INTEGER micro-percentile,
    floor((rank-1) * 1e6 / (n-1)) — percent_rank's (rank-1)/(n-1)
    round(·, 6)ed is an exact rational whose decimal repr can land on
    a half-way digit, where the two engines' double-rounding rules
    disagree (found by the round-6 native-sf1 sweep: 615/9600 =
    0.0640625 flipped the 6th decimal between Spark and DuckDB; the
    driver-scale fixtures never hit a half-way case). Integer floor
    division is engine-exact at every scale. The total order makes
    rank == row_number, used explicitly."""
    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id", "source", quality_score_expr(F.col("text")).alias("quality")
    )
    w = Window.partitionBy("source").orderBy("quality", "doc_id")
    n = F.count(F.lit(1)).over(Window.partitionBy("source"))
    rn = F.row_number().over(w)
    # Integral `div`, not double `/` + floor(): double rounding can
    # cross an integer boundary once a source partition exceeds ~1e9
    # rows, silently diverging from the oracle's exact `//` at 100 TB.
    ranked = scored.select(
        "doc_id",
        "source",
        "quality",
        (rn - 1).cast("long").alias("rn0"),
        (n - 1).cast("long").alias("n0"),
        F.ntile(10).over(w).cast("long").alias("decile"),
    )
    return ranked.select(
        "doc_id",
        "source",
        "quality",
        F.when(
            F.col("n0") > 0, F.expr("(rn0 * 1000000) div n0")
        ).otherwise(F.lit(0)).cast("long").alias("pct_micro"),
        "decile",
    )


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming form of exact dedup (the ingest-time shape: keep the
    first copy of each content digest as documents arrive): a
    complete-mode streaming aggregation keyed by md5(text) whose state
    after replaying every file must equal the batch exact_dedup answer
    — so it SHARES the `dedup_exact` oracle (the stream_cdc_apply /
    stream_tumbling_counts cross-check pattern). State is O(distinct
    digests), the same bound the batch operator's shuffle carries."""
    stream, dirs = _linked_stream(
        spark, sf_dir, "stream_dedup", "documents", "dedup_stream", "out"
    )
    agg = (
        stream.select(F.md5("text").alias("content_md5"), "doc_id")
        .groupBy("content_md5")
        .agg(
            F.min("doc_id").alias("kept_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )
    return _parquet_drain(agg, dirs["out"], dirs["ck"], "complete")


ORACLE_SQL_LLM["docs_token_entropy"] = """
    WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
               FROM documents),
    wc AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY 1, 2)
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_distinct,
           round(log2(CAST(sum(c) AS DOUBLE))
                 - sum(c * log2(CAST(c AS DOUBLE)))
                   / CAST(sum(c) AS DOUBLE),
                 6) AS entropy_bits
    FROM wc GROUP BY doc_id
"""
ORACLE_SQL_LLM["docs_quality_percentile"] = f"""
    WITH s AS (
      SELECT doc_id, source,
             len(string_split(text, ' ')) AS n_tokens,
             length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g'))
               AS punct_chars,
             {_stop_hits_sql('en')} + {_stop_hits_sql('de')}
               + {_stop_hits_sql('fr')} AS stop_hits,
             length(text) AS n_char
      FROM documents),
    scored AS (
      SELECT doc_id, source,
             least(greatest(
               (CAST(stop_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 0.5
               + least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0) * 0.5
               - (CAST(punct_chars AS DOUBLE) / CAST(n_char AS DOUBLE)),
               0.0), 1.0) AS quality
      FROM s)
    , ranked AS (
      SELECT doc_id, source, quality,
             row_number() OVER (PARTITION BY source
                                ORDER BY quality, doc_id) AS rn,
             count(*) OVER (PARTITION BY source) AS cnt,
             ntile(10) OVER (PARTITION BY source
                             ORDER BY quality, doc_id) AS decile
      FROM scored)
    SELECT doc_id, source, quality,
           CAST(CASE WHEN cnt > 1
                     THEN ((rn - 1) * 1000000) // (cnt - 1)
                     ELSE 0 END AS BIGINT) AS pct_micro,
           CAST(decile AS BIGINT) AS decile
    FROM ranked
"""
ORACLE_SQL_LLM["stream_dedup"] = ORACLE_SQL_LLM["dedup_exact"]

QUERIES_LLM["docs_token_entropy"] = q_docs_token_entropy
QUERIES_LLM["docs_quality_percentile"] = q_docs_quality_percentile
QUERIES_LLM["stream_dedup"] = q_stream_dedup


def q_events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: parse the JSON `props` payload
    (JVM-side `get_json_object` — no Python in the path) and
    aggregate the extracted field per event type. The scan reads only
    (event_type, props); extraction happens inside whole-stage
    codegen before the single group-by shuffle. At 100 TB this is the
    log-analytics shape: schema-on-read a VARIANT-ish column without
    a second pass or a UDF."""
    e = read_events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("long")
    return e.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("k").cast("long").alias("k_sum"),
        F.min("k").cast("long").alias("k_min"),
        F.max("k").cast("long").alias("k_max"),
        F.countDistinct("k").cast("long").alias("k_distinct"),
    )


def q_docs_constraint_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality constraint validation (the corpus-side analogue of
    the engine's V-family DB validation): evaluate a rule set in ONE
    scan — length consistency (n_chars == length(text)), domain
    membership (lang in the allowed set), non-emptiness, and key
    uniqueness (doc_id count == distinct count, a global two-scalar
    aggregate) — and report per-rule violation counts. Violations are
    conditional sums, so the whole report is a single aggregation with
    map-side combine; no rule ever re-scans the corpus."""
    d = _t(spark, sf_dir, "documents")
    viol = [
        ("len_mismatch", F.col("n_chars") != F.length("text")),
        (
            "bad_lang",
            ~F.col("lang").isin("en", "de", "fr", "es", "zh"),
        ),
        ("empty_text", F.length("text") == 0),
        ("null_source", F.col("source").isNull()),
    ]
    per_rule = d.agg(
        *[
            F.sum(F.when(c, 1).otherwise(0)).cast("long").alias(name)
            for name, c in viol
        ],
        (F.count("doc_id") - F.countDistinct("doc_id"))
        .cast("long")
        .alias("dup_doc_id"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )
    # long -> (rule, n_violations) so adding rules never changes the
    # schema downstream consumers read
    rules = ["len_mismatch", "bad_lang", "empty_text", "null_source",
             "dup_doc_id", "n_rows"]
    stacked = per_rule.select(
        F.explode(
            F.map_from_arrays(
                F.array(*[F.lit(r) for r in rules]),
                F.array(*[F.col(r) for r in rules]),
            )
        ).alias("rule", "n")
    )
    return stacked.select("rule", F.col("n").cast("long").alias("n"))


ORACLE_SQL_LLM["events_json_extract"] = """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS k_sum,
           CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS k_min,
           CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS k_max,
           CAST(count(DISTINCT CAST(json_extract_string(props, '$.k')
                AS BIGINT)) AS BIGINT) AS k_distinct
    FROM events GROUP BY event_type
"""
ORACLE_SQL_LLM["docs_constraint_check"] = """
    WITH a AS (
      SELECT
        CAST(sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END)
             AS BIGINT) AS len_mismatch,
        CAST(sum(CASE WHEN lang NOT IN ('en','de','fr','es','zh')
                 THEN 1 ELSE 0 END) AS BIGINT) AS bad_lang,
        CAST(sum(CASE WHEN length(text) = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS empty_text,
        CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS null_source,
        CAST(count(doc_id) - count(DISTINCT doc_id) AS BIGINT)
          AS dup_doc_id,
        CAST(count(*) AS BIGINT) AS n_rows
      FROM documents)
    SELECT 'len_mismatch' AS rule, len_mismatch AS n FROM a
    UNION ALL SELECT 'bad_lang', bad_lang FROM a
    UNION ALL SELECT 'empty_text', empty_text FROM a
    UNION ALL SELECT 'null_source', null_source FROM a
    UNION ALL SELECT 'dup_doc_id', dup_doc_id FROM a
    UNION ALL SELECT 'n_rows', n_rows FROM a
"""

QUERIES_LLM["events_json_extract"] = q_events_json_extract
QUERIES_LLM["docs_constraint_check"] = q_docs_constraint_check


def q_sim_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid + per-dimension variance (cluster
    health / drift metrics for a labeled vector corpus): posexplode
    the vector once, ONE (label, dim) shuffle with map-side combine
    computing n, mean, and population variance via the one-pass
    sum/sumsq identity — no second join back to the centroid. At
    100 TB the shuffle carries (label x dim) partial aggregates, not
    vectors. Floats cast to double before any arithmetic so both
    engines run the identical IEEE sequence; round(6) absorbs
    summation-order jitter."""
    e = _t(spark, sf_dir, "embeddings")
    x = e.select(
        "label", F.posexplode("embedding").alias("pos", "val")
    ).select("label", "pos", F.col("val").cast("double").alias("val"))
    return (
        x.groupBy("label", "pos")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("val").alias("s"),
            F.sum(F.col("val") * F.col("val")).alias("s2"),
        )
        .select(
            F.col("label").cast("long").alias("label"),
            F.col("pos").cast("long").alias("pos"),
            F.col("n").cast("long").alias("n_vecs"),
            F.round(F.col("s") / F.col("n"), 6).alias("centroid"),
            F.round(
                F.col("s2") / F.col("n")
                - (F.col("s") / F.col("n")) * (F.col("s") / F.col("n")),
                6,
            ).alias("variance"),
        )
    )


ORACLE_SQL_LLM["sim_label_centroids"] = """
    WITH x AS (
      SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings),
    a AS (
      SELECT label, pos, count(*) AS n, sum(val) AS s,
             sum(val * val) AS s2
      FROM x GROUP BY 1, 2)
    SELECT CAST(label AS BIGINT) AS label, CAST(pos AS BIGINT) AS pos,
           CAST(n AS BIGINT) AS n_vecs,
           round(s / n, 6) AS centroid,
           round(s2 / n - (s / n) * (s / n), 6) AS variance
    FROM a
"""

QUERIES_LLM["sim_label_centroids"] = q_sim_label_centroids


def q_dedup_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection over the near-dup candidate graph
    (operators/graph.label_propagation, 3 semi-synchronous BSP rounds):
    majority-vote label updates with min-label tie-breaks —
    deterministic, so the 3-level unrolled SQL oracle reproduces it
    exactly. Complements connected_components (transitive closure) by
    splitting weakly-bridged duplicate clusters the closure merges."""
    from rust_dms_cdc_operator_spark.operators.graph import (  # noqa: PLC0415
        label_propagation,
    )

    d = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(d, "doc_id", "text", num_hashes=16, bands=2)
    # round 12 materialized a checkpoint leaf here; round 13: the
    # UNCAPPED pair stream is corpus-quadratic (~200M rows at native
    # sf1) and ANY checkpoint of it serializes every row through the
    # block store — deserialized blocks OOMed the r12 local[32]
    # bench, and DISK_ONLY measured 3x the cpu of an eager cache
    # (sf1/32c A/B in materialize_leaf's docstring). The eager cache
    # still halves the band-join evaluations for the symmetric
    # adjacency build and kills the fan-out cold-cache race, without
    # the serialization tax (pagerank sf1: 129 s ckpt / 48 s bare /
    # 38 s cache).
    return label_propagation(
        materialize_cache(pairs), iters=3, assume_distinct=True
    )


def q_docs_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: the n-gram/stopword classifier's
    prediction vs the corpus's labeled lang, counted per (lang,
    pred_lang) — the model-evaluation join every curation pipeline
    runs after a classifier pass. One scan, classification inside
    codegen, ONE (lang, pred) shuffle."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select("lang", langid_expr(F.col("text")).alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


def _lpa_oracle_sql(iters: int = 3) -> str:
    # MATERIALIZED: sym is joined in every unrolled vote round and
    # each l{i} feeds the next — plain CTEs inline per reference and
    # re-derive the pair block per round at native sf1. Pure
    # evaluation hint — identical rows at every scale.
    rounds = []
    prev = "l0"
    for i in range(1, iters + 1):
        rounds.append(f"""
        v{i} AS MATERIALIZED (SELECT s.b AS v, l.label, count(*) AS c
                 FROM sym s JOIN {prev} l ON l.v = s.a
                 GROUP BY 1, 2),
        l{i} AS MATERIALIZED (SELECT v, label FROM (
                   SELECT v, label,
                          row_number() OVER (PARTITION BY v
                            ORDER BY c DESC, label ASC) AS rn
                   FROM v{i}) WHERE rn = 1)""")
        prev = f"l{i}"
    body = ",".join(rounds)
    return f"""
        WITH pairs AS MATERIALIZED ({{pairs}}),
        sym AS MATERIALIZED (
            SELECT id_a AS a, id_b AS b FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
        l0 AS MATERIALIZED (SELECT DISTINCT a AS v, a AS label FROM sym),
        {body}
        SELECT v, label FROM {prev}
    """


ORACLE_SQL_LLM["dedup_label_propagation"] = _lpa_oracle_sql(3).format(
    pairs=_minhash_sql()
)
ORACLE_SQL_LLM["docs_lang_confusion"] = f"""
    WITH s AS (
      SELECT lang,
             {_stop_hits_sql('en')} AS en,
             {_stop_hits_sql('de')} AS de,
             {_stop_hits_sql('fr')} AS fr
      FROM documents)
    SELECT lang,
           CASE WHEN en + de + fr = 0 THEN 'und'
                WHEN en >= de AND en >= fr THEN 'en'
                WHEN de >= fr THEN 'de'
                ELSE 'fr' END AS pred_lang,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM s GROUP BY 1, 2
"""

QUERIES_LLM["dedup_label_propagation"] = q_dedup_label_propagation
QUERIES_LLM["docs_lang_confusion"] = q_docs_lang_confusion


def q_docs_geomean_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregate (UDAF surface): per-source geometric mean of
    (1 + quality) via an Arrow-batched GROUPED_AGG pandas UDF — the
    sanctioned custom-aggregate path (vectorized numpy over Arrow
    batches, partial-aggregation-free but group-local, never
    row-at-a-time Python). The +1 shift keeps zero-quality docs in
    the domain. Everything upstream of the UDAF (the quality score)
    stays in codegen; only the per-group log-mean crosses to Python.
    round(6) absorbs float summation-order jitter (numpy pairwise sum
    vs the oracle's sequential sum — both well under the rounding
    step at n<=few-thousand docs per source)."""
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    @pandas_udf("double")
    def geomean_log(v: pd.Series) -> float:
        import numpy as np  # noqa: PLC0415

        return float(np.log1p(v.astype("float64")).mean())

    @pandas_udf("long")
    def n_rows(v: pd.Series) -> int:
        # GROUPED_AGG UDFs cannot mix with built-in aggregates in one
        # agg (INVALID_PANDAS_UDF_PLACEMENT) — so the count rides the
        # same Arrow batch instead of forcing a second shuffle + join
        return int(len(v))

    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        "source", quality_score_expr(F.col("text")).alias("quality")
    )
    return (
        scored.groupBy("source")
        .agg(
            n_rows("quality").alias("n_docs"),
            geomean_log("quality").alias("log_mean"),
        )
        .select(
            "source",
            "n_docs",
            F.round(F.exp("log_mean") - 1.0, 6).alias("geomean_quality"),
        )
    )


ORACLE_SQL_LLM["docs_geomean_quality"] = f"""
    WITH s AS (
      SELECT source,
             len(string_split(text, ' ')) AS n_tokens,
             length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g'))
               AS punct_chars,
             {_stop_hits_sql('en')} + {_stop_hits_sql('de')}
               + {_stop_hits_sql('fr')} AS stop_hits,
             length(text) AS n_char
      FROM documents),
    scored AS (
      SELECT source,
             least(greatest(
               (CAST(stop_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 0.5
               + least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0) * 0.5
               - (CAST(punct_chars AS DOUBLE) / CAST(n_char AS DOUBLE)),
               0.0), 1.0) AS quality
      FROM s)
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           round(exp(avg(ln(1 + quality))) - 1.0, 6) AS geomean_quality
    FROM scored GROUP BY source
"""

QUERIES_LLM["docs_geomean_quality"] = q_docs_geomean_quality


def q_events_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregation (2-hour windows every hour — the
    overlap tumbling/rolling don't cover): events_n and exact distinct
    users per (window, type). `F.window(ts, '2 hours', '1 hour')`
    expands each event into its 2 covering windows JVM-side (one
    Expand node, no self-join), then ONE keyed shuffle. The oracle
    reproduces windows by joining the hour spine."""
    e = read_events(spark, sf_dir)
    return (
        e.select(
            F.window("ts", "2 hours", "1 hour").alias("w"),
            "event_type",
            "user_id",
        )
        .groupBy(F.col("w.start").alias("window_start"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("events_n"),
            F.countDistinct("user_id").cast("long").alias("users_n"),
        )
    )


ORACLE_SQL_LLM["events_sliding_distinct"] = """
    WITH x AS (
      SELECT event_type, user_id, ts,
             date_trunc('hour', ts) AS h
      FROM events),
    expanded AS (
      SELECT event_type, user_id, h AS window_start FROM x
      UNION ALL
      SELECT event_type, user_id, h - INTERVAL 1 HOUR AS window_start
      FROM x)
    SELECT window_start, event_type,
           CAST(count(*) AS BIGINT) AS events_n,
           CAST(count(DISTINCT user_id) AS BIGINT) AS users_n
    FROM expanded GROUP BY 1, 2
"""

QUERIES_LLM["events_sliding_distinct"] = q_events_sliding_distinct


def q_events_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based join-size estimation (the optimizer-statistics
    operator): estimate |clicks ⋈ purchases on user_id| from two
    count-min sketches via the AMS inner-product bound
    (operators/sketch.cms_inner_product) and report it against the
    exact size — the pre-execution admission check a planner runs
    before committing to a potentially-exploding join. Each stream is
    pre-aggregated to per-user counts BEFORE sketching (the sketch
    agg runs over users, not events); the exact answer joins the same
    two count tables. Estimate >= exact always (collision mass only
    adds)."""
    from rust_dms_cdc_operator_spark.operators.sketch import (  # noqa: PLC0415
        cms_build,
        cms_inner_product,
    )

    e = read_events(spark, sf_dir)
    uid = F.col("user_id").cast("string")
    a = (
        e.filter(F.col("event_type") == "click")
        .select(uid.alias("u"))
        .groupBy("u")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    b = (
        e.filter(F.col("event_type") == "purchase")
        .select(uid.alias("u"))
        .groupBy("u")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    est = cms_inner_product(
        cms_build(a, "u", count_col="c"), cms_build(b, "u", count_col="c")
    )
    exact = (
        a.join(b.withColumnRenamed("c", "c2"), "u")
        .agg(F.sum(F.col("c") * F.col("c2")).cast("long").alias("exact"))
        .select(F.coalesce("exact", F.lit(0)).alias("exact"))
    )
    # 1-row x 1-row combine via tagged UNION + max (count_diff
    # pattern) — no crossJoin, no BNLJ node
    nl = F.lit(None).cast("long")
    stacked = est.select(
        nl.alias("exact"), F.col("estimate").cast("long").alias("estimate")
    ).unionByName(exact.select(F.col("exact"), nl.alias("estimate")))
    return stacked.agg(
        F.max("exact").alias("exact"), F.max("estimate").alias("estimate")
    ).select(
        "exact",
        "estimate",
        F.round(
            F.col("estimate").cast("double") / F.col("exact"), 6
        ).alias("blowup"),
    )


def _cms_inner_product_oracle_sql() -> str:
    def side(ev: str, name: str) -> str:
        return f"""
        {name} AS (SELECT CAST(user_id AS VARCHAR) AS u, count(*) AS c
                   FROM events WHERE event_type = '{ev}' GROUP BY 1)"""

    def sketch(src: str, name: str) -> str:
        rows = " UNION ALL ".join(
            f"SELECT {r} AS cms_row, {_cms_bucket_sql('u', r)} AS cms_bucket,"
            f" c FROM {src}"
            for r in range(4)
        )
        return f"""
        {name} AS (SELECT cms_row, cms_bucket, sum(c) AS total
                   FROM ({rows}) GROUP BY 1, 2)"""

    return f"""
        WITH {side('click', 'a')}, {side('purchase', 'b')},
        {sketch('a', 'ska')}, {sketch('b', 'skb')},
        dots AS (
          SELECT x.cms_row, sum(x.total * y.total) AS dot
          FROM ska x JOIN skb y
            ON x.cms_row = y.cms_row AND x.cms_bucket = y.cms_bucket
          GROUP BY 1),
        est AS (SELECT CAST(min(dot) AS BIGINT) AS estimate FROM dots),
        ex AS (SELECT COALESCE(CAST(sum(a.c * b.c) AS BIGINT), 0) AS exact
               FROM a JOIN b USING (u))
        SELECT exact, estimate,
               round(CAST(estimate AS DOUBLE) / exact, 6) AS blowup
        FROM ex, est
    """


ORACLE_SQL_LLM["events_join_size_estimate"] = _cms_inner_product_oracle_sql()
QUERIES_LLM["events_join_size_estimate"] = q_events_join_size_estimate


def q_cdc_incremental_agg_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance (streaming/ivm.IncrementalAggView):
    a materialized per-event-type aggregate over the bucketed CDC
    state, maintained across two time-ordered merge epochs — the
    second refresh recomputes ONLY the buckets the second batch
    touched (the state's generation paths are the change vector) and
    carries every other partial forward by reference. The final view
    must equal the aggregate over the W1-compacted stream, which is
    what the oracle computes from the raw events. Measures are
    decomposable (count/sum/min/max) on exact integers
    (value pre-scaled to milli-longs), so partial re-aggregation is
    bit-exact."""
    from rust_dms_cdc_operator_spark.streaming.cdc_stream import (  # noqa: PLC0415
        BucketedParquetState,
    )
    from rust_dms_cdc_operator_spark.streaming.ivm import (  # noqa: PLC0415
        IncrementalAggView,
    )

    e = read_events(spark, sf_dir).select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        F.round(F.col("value") * 1000).cast("long").alias("value_milli"),
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("Op"),
    )
    with _scratch() as mkdir:
        state_dir, view_dir = mkdir("ivm_state_"), mkdir("ivm_view_")

    state = BucketedParquetState(state_dir, ["user_id"], num_buckets=8)
    view = IncrementalAggView(
        state,
        view_dir,
        ["event_type"],
        {
            "n_users": ("count", "*"),
            "value_milli_sum": ("sum", "value_milli"),
            "min_event_id": ("min", "event_id"),
            "max_event_id": ("max", "event_id"),
        },
    )
    cut = "2024-01-16"
    for batch in (
        e.filter(F.col("ts") < cut),
        e.filter(F.col("ts") >= cut),
    ):
        state.merge_batch(batch, order_cols=["ts", "event_id"])
        view.refresh(spark)
    return view.result(spark).select(
        "event_type",
        F.col("n_users").cast("long").alias("n_users"),
        F.col("value_milli_sum").cast("long").alias("value_milli_sum"),
        F.col("min_event_id").cast("long").alias("min_event_id"),
        F.col("max_event_id").cast("long").alias("max_event_id"),
    )


ORACLE_SQL_LLM["cdc_incremental_agg_view"] = """
    WITH t AS (
      SELECT *,
             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events),
    s AS (
      SELECT user_id, event_id, event_type,
             CAST(round(value * 1000) AS BIGINT) AS vm
      FROM t WHERE rn = 1 AND op <> 'D')
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(vm) AS BIGINT) AS value_milli_sum,
           CAST(min(event_id) AS BIGINT) AS min_event_id,
           CAST(max(event_id) AS BIGINT) AS max_event_id
    FROM s GROUP BY 1
"""

QUERIES_LLM["cdc_incremental_agg_view"] = q_cdc_incremental_agg_view


def q_docs_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing: per-language head / middle /
    tail terciles of the unigram log-perplexity (the split CCNet uses
    to keep head, LM-filter middle, drop tail). One window shuffle
    keyed by lang over the per-doc score table; ntile is exact and
    ties break on doc_id, so the buckets are engine-identical."""
    from rust_dms_cdc_operator_spark.operators.perplexity import (  # noqa: PLC0415
        unigram_logppl,
    )

    d = _t(spark, sf_dir, "documents")
    scored = unigram_logppl(d, "doc_id", "text").join(
        d.select("doc_id", "lang"), "doc_id"
    )
    w = Window.partitionBy("lang").orderBy(
        F.asc_nulls_first("log_ppl"), F.asc("doc_id")
    )
    t = F.ntile(3).over(w)
    return scored.select(
        "doc_id",
        "lang",
        "log_ppl",
        F.when(t == 1, "head")
        .when(t == 2, "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


def q_docs_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup (FineWeb/RefinedWeb-style down-weighting instead of
    removal): every document gets sampling weight 1/|duplicate group|
    — group = connected component of the MinHash-LSH candidate graph,
    singletons weigh 1. Keeps the corpus intact while making each
    duplicated CONTENT, not each copy, equally likely in training.
    Reuses the CC operator (contraction + bounded driver union-find);
    the weight join is group-keyed."""
    from rust_dms_cdc_operator_spark.operators.graph import (  # noqa: PLC0415
        dedup_groups,
    )

    d = _t(spark, sf_dir, "documents")
    # salt=8: see q_dedup_groups (full-stream CC consumer)
    pairs = minhash_lsh_pairs(
        d, "doc_id", "text", num_hashes=16, bands=2, salt=8
    )
    comp = dedup_groups(pairs)  # (doc_id, group_id) for paired docs
    sizes = comp.groupBy("group_id").agg(
        F.count(F.lit(1)).alias("group_size")
    )
    keyed = comp.join(sizes, "group_id")
    return (
        d.select("doc_id")
        .join(keyed, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("group_size", F.lit(1))
            .cast("long")
            .alias("group_size"),
            F.round(
                F.lit(1.0) / F.coalesce("group_size", F.lit(1)), 6
            ).alias("weight"),
        )
    )


ORACLE_SQL_LLM["docs_ppl_buckets"] = """
    WITH toks AS (
      SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS tok
      FROM documents),
    cnts AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
    tot AS (SELECT sum(cnt)::DOUBLE AS total FROM cnts),
    per AS (
      SELECT t.doc_id, count(*) AS n_tokens,
             avg(ln(c.cnt::DOUBLE)) AS avg_ln
      FROM toks t JOIN cnts c USING (tok)
      GROUP BY t.doc_id),
    scored AS (
      SELECT d.doc_id, d.lang,
             round(ln(tot.total) - p.avg_ln, 6) AS log_ppl
      FROM documents d
      LEFT JOIN per p ON d.doc_id = p.doc_id
      CROSS JOIN tot),
    ranked AS (
      SELECT *, ntile(3) OVER (PARTITION BY lang
               ORDER BY log_ppl ASC NULLS FIRST, doc_id ASC) AS t
      FROM scored)
    SELECT doc_id, lang, log_ppl,
           CASE WHEN t = 1 THEN 'head'
                WHEN t = 2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM ranked
"""
ORACLE_SQL_LLM["docs_soft_dedup_weights"] = f"""
    WITH RECURSIVE pairs AS MATERIALIZED ({_minhash_sql()}),
    sym AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
    lbl(node, comp) AS (
      SELECT a, LEAST(a, MIN(b)) FROM sym GROUP BY a
      UNION
      SELECT s.b, l.comp
      FROM lbl l JOIN sym s ON s.a = l.node
      WHERE l.comp < s.b
    ),
    comp AS (SELECT node AS doc_id, MIN(comp) AS group_id
             FROM lbl GROUP BY node),
    sizes AS (SELECT group_id, count(*) AS group_size
              FROM comp GROUP BY group_id),
    keyed AS (SELECT c.doc_id, s.group_size
              FROM comp c JOIN sizes s USING (group_id))
    SELECT d.doc_id,
           CAST(COALESCE(k.group_size, 1) AS BIGINT) AS group_size,
           round(1.0 / COALESCE(k.group_size, 1), 6) AS weight
    FROM documents d LEFT JOIN keyed k ON d.doc_id = k.doc_id
"""

QUERIES_LLM["docs_ppl_buckets"] = q_docs_ppl_buckets
QUERIES_LLM["docs_soft_dedup_weights"] = q_docs_soft_dedup_weights


def q_events_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-30-day MAU engagement ratio per day — the
    classic stickiness metric, computed exactly: the corpus reduces
    to distinct (user, day) pairs FIRST (one shuffle over the raw
    events, map-side combined), then the trailing-window distinct is
    a range join + countDistinct over that per-user-day table —
    O(users x active-days) rows, independent of event volume. Ratio
    is one rounded division of exact integers."""
    e = read_events(spark, sf_dir)
    ud = e.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    dau = ud.groupBy("day").agg(
        F.countDistinct("user_id").cast("long").alias("dau")
    )
    spine = dau.select(F.col("day").alias("d"))
    k = F.datediff(F.col("d"), F.col("day"))
    mau = (
        spine.join(ud, k.between(0, 29))
        .groupBy("d")
        .agg(F.countDistinct("user_id").cast("long").alias("mau"))
    )
    return (
        dau.join(mau, dau.day == mau.d)
        .select(
            "day",
            "dau",
            "mau",
            F.round(
                F.col("dau").cast("double") / F.col("mau"), 6
            ).alias("stickiness"),
        )
    )


ORACLE_SQL_LLM["events_dau_mau"] = """
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    dau AS (
      SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
      FROM ud GROUP BY 1),
    mau AS (
      SELECT s.day AS d, CAST(count(DISTINCT u.user_id) AS BIGINT) AS mau
      FROM (SELECT DISTINCT day FROM ud) s
      JOIN ud u ON date_diff('day', u.day, s.day) BETWEEN 0 AND 29
      GROUP BY 1)
    SELECT dau.day, dau.dau, mau.mau,
           round(CAST(dau.dau AS DOUBLE) / mau.mau, 6) AS stickiness
    FROM dau JOIN mau ON dau.day = mau.d
"""

QUERIES_LLM["events_dau_mau"] = q_events_dau_mau


def q_docs_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: near-dup candidate pairs
    (banded MinHash LSH) rolled up to unordered (source, source)
    cells — the curation dashboard that shows WHICH corpus shards
    duplicate each other (mirror-site detection, license-laundering
    triage). Pair volume is LSH-bounded; the per-doc source attribute
    rides the band joins (``carry_cols`` — at test scale the source
    dim would broadcast anyway, but at 100 TB a one-row-per-doc table
    exceeds every broadcast threshold and a post-hoc join would
    shuffle the candidate stream twice; carrying is scale-stable by
    construction)."""
    d = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        d, "doc_id", "text", num_hashes=16, bands=2, carry_cols=["source"]
    )
    return (
        pairs.select(
            F.least("source_a", "source_b").alias("src_a"),
            F.greatest("source_a", "source_b").alias("src_b"),
        )
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


def q_dedup_eval_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator evaluation: over the LSH candidate pairs, the
    MinHash ESTIMATE (matching components/16 >= 0.5) vs exact 3-gram
    Jaccard ground truth (2*|A∩B| >= |A∪B| — integer cross-multiplied,
    no floats) as a confusion census. The quality gate one runs
    before trusting sketch thresholds at 100 TB, where exact
    verification is affordable only on a sample. All-integer, so the
    confusion counts are engine-exact."""
    d = _t(spark, sf_dir, "documents")
    from rust_dms_cdc_operator_spark.session import (  # noqa: PLC0415
        scan_parallelism_floor,
    )

    # round 12: signature + shingle stages are compute-bound — floor
    # the doc base once for both (single-file scan; no-op at scale)
    db = scan_parallelism_floor(d.select("doc_id", "text"))
    wh, sig_cols = minhash_signature_cols(F.col("text"), 16)
    sigs = (
        db.select(F.col("doc_id"), wh)
        .select(F.col("doc_id"), *sig_cols)
        .select(
            "doc_id",
            F.array(*[F.col(f"mh_{i}") for i in range(16)]).alias("sig"),
        )
    )
    from rust_dms_cdc_operator_spark.operators.dedup import (  # noqa: PLC0415
        shingle_set,
    )

    # round 12: persist+count on sigs/sh was tried (each feeds both
    # join sides) and MEASURED SLOWER (warm 4.4 -> 5.4 s, cpu 11 -> 16):
    # the four broadcast builds run as concurrent jobs that overlap
    # their recompute on idle cores, while the array-heavy cache write
    # + two eager counts serialize. Recompute-concurrently wins here;
    # the keyed.count() pattern pays off only when the cached frame is
    # expensive RELATIVE to its serialized size (LSH signature table).
    sh = db.select("doc_id", shingle_set(F.col("text"), 3).alias("s"))
    # deterministic 1-in-7 candidate sample: the census is an ESTIMATE
    # of the estimator's error rates, and exact shingle verification
    # over every candidate is precisely the cost the sketch exists to
    # avoid — evaluating on a keyed sample is the production pattern
    # (and what keeps the shingle-array shuffle candidate-sample-bound)
    pairs = minhash_lsh_pairs(
        d, "doc_id", "text", num_hashes=16, bands=2
    ).filter((F.col("id_a") + F.col("id_b")) % 7 == 0)
    j = (
        pairs.join(
            sigs.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("ga")),
            "id_a",
        )
        .join(
            sigs.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("gb")),
            "id_b",
        )
        .join(
            sh.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sha")),
            "id_a",
        )
        .join(
            sh.select(F.col("doc_id").alias("id_b"), F.col("s").alias("shb")),
            "id_b",
        )
    )
    n_match = F.aggregate(
        F.zip_with("ga", "gb", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    inter = F.size(F.array_intersect("sha", "shb"))
    union = F.size("sha") + F.size("shb") - inter
    return (
        j.select(
            (n_match >= 8).alias("predicted_dup"),
            (inter * 2 >= union).alias("actual_dup"),
        )
        .groupBy("predicted_dup", "actual_dup")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


ORACLE_SQL_LLM["docs_source_overlap"] = f"""
    WITH pairs AS ({_minhash_sql()}),
    src AS (SELECT doc_id, source FROM documents),
    j AS (
      SELECT least(a.source, b.source) AS src_a,
             greatest(a.source, b.source) AS src_b
      FROM pairs p
      JOIN src a ON a.doc_id = p.id_a
      JOIN src b ON b.doc_id = p.id_b)
    SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_pairs
    FROM j GROUP BY 1, 2
"""


def _dedup_eval_oracle_sql(num_hashes: int = 16, bands: int = 2) -> str:
    from rust_dms_cdc_operator_spark.operators.dedup import (  # noqa: PLC0415
        _MERSENNE,
        _mix_a,
        _mix_b,
    )

    rows = num_hashes // bands
    sigs = ", ".join(
        "list_aggregate(list_transform(wh, "
        f"h -> ({_mix_a(i)} * h + {_mix_b(i)}) % {_MERSENNE}), 'min') AS mh_{i}"
        for i in range(num_hashes)
    )
    band_exprs = [
        " || '|' || ".join(f"mh_{b * rows + r}::VARCHAR" for r in range(rows))
        for b in range(bands)
    ]
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS bk, {i} AS band_idx FROM sigs"
        for i, b in enumerate(band_exprs)
    )
    match_sum = " + ".join(
        f"(CASE WHEN x.mh_{i} = y.mh_{i} THEN 1 ELSE 0 END)"
        for i in range(num_hashes)
    )
    return f"""
        WITH wh AS (
          SELECT doc_id,
                 list_transform(list_distinct(string_split(text, ' ')),
                                w -> {_sql_hex_to_long('md5(w)', 8)}) AS wh
          FROM documents),
        sigs AS (SELECT doc_id, {sigs} FROM wh),
        banded AS ({band_selects}),
        pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM banded a JOIN banded b
                    ON a.band_idx = b.band_idx AND a.bk = b.bk
                   AND a.doc_id < b.doc_id
                   AND (a.doc_id + b.doc_id) % 7 = 0),
        {_SHINGLES.strip().rstrip()},
        j AS (
          SELECT ({match_sum}) >= 8 AS predicted_dup,
                 2 * len(list_intersect(sa.s, sb.s))
                   >= len(sa.s) + len(sb.s)
                      - len(list_intersect(sa.s, sb.s)) AS actual_dup
          FROM pairs p
          JOIN sigs x ON x.doc_id = p.id_a
          JOIN sigs y ON y.doc_id = p.id_b
          JOIN sh sa ON sa.doc_id = p.id_a
          JOIN sh sb ON sb.doc_id = p.id_b)
        SELECT predicted_dup, actual_dup,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM j GROUP BY 1, 2
    """


ORACLE_SQL_LLM["dedup_eval_confusion"] = _dedup_eval_oracle_sql()

QUERIES_LLM["docs_source_overlap"] = q_docs_source_overlap
QUERIES_LLM["dedup_eval_confusion"] = q_dedup_eval_confusion


def q_sim_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label classification evaluation: the first 50 vectors
    classify by 5-NN cosine majority vote (ties: smallest label)
    against the rest of the corpus, reported as a (true, predicted)
    confusion census — the embedding-quality eval a labeling pipeline
    runs. The bounded query set broadcasts (the sim_batch_topk
    pattern); the corpus side streams through one scan; rank and vote
    windows key by query id, never global."""
    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("true_label"),
    )
    corpus = e.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("cv"),
        F.col("label").alias("clabel"),
    )
    from rust_dms_cdc_operator_spark.operators.similarity import (  # noqa: PLC0415
        cosine,
    )

    j = (
        F.broadcast(queries)
        .crossJoin(corpus)
        .filter(F.col("qid") != F.col("cid"))
        .select(
            "qid",
            "true_label",
            "clabel",
            "cid",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos"),
        )
    )
    wr = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("cid"))
    top5 = j.withColumn("rn", F.row_number().over(wr)).filter(
        F.col("rn") <= 5
    )
    votes = top5.groupBy("qid", "true_label", "clabel").agg(
        F.count(F.lit(1)).alias("c")
    )
    wv = Window.partitionBy("qid").orderBy(F.desc("c"), F.asc("clabel"))
    pred = (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select("qid", "true_label", F.col("clabel").alias("pred_label"))
    )
    return pred.groupBy("true_label", "pred_label").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


ORACLE_SQL_LLM["sim_knn_classify"] = """
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qv, label AS true_label
      FROM embeddings WHERE vec_id < 50),
    scored AS (
      SELECT q.qid, q.true_label, c.label AS clabel, c.vec_id AS cid,
             round(list_cosine_similarity(q.qv::DOUBLE[],
                                          c.embedding::DOUBLE[]), 6)
               AS cos
      FROM q JOIN embeddings c ON c.vec_id <> q.qid),
    top5 AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY qid
                   ORDER BY cos DESC, cid ASC) AS rn
        FROM scored) WHERE rn <= 5),
    votes AS (
      SELECT qid, true_label, clabel, count(*) AS c
      FROM top5 GROUP BY 1, 2, 3),
    pred AS (
      SELECT qid, true_label, clabel AS pred_label FROM (
        SELECT *, row_number() OVER (PARTITION BY qid
                   ORDER BY c DESC, clabel ASC) AS vr
        FROM votes) WHERE vr = 1)
    SELECT true_label, pred_label, CAST(count(*) AS BIGINT) AS n
    FROM pred GROUP BY 1, 2
"""

QUERIES_LLM["sim_knn_classify"] = q_sim_knn_classify


def q_dedup_embedding_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup groups: connected components over the
    EMBEDDING near-dup pairs (cosine >= 0.2 within the blocked
    candidate set) — the vector-space twin of `dedup_groups` (which
    closes the MinHash text graph). Same CC machinery: contraction +
    bounded driver union-find, one candidate generation."""
    from rust_dms_cdc_operator_spark.operators.graph import (  # noqa: PLC0415
        dedup_groups,
    )

    e = _t(spark, sf_dir, "embeddings")
    pairs = embedding_neardup_pairs(
        e, "vec_id", "embedding", block_col="label", max_id_gap=25
    ).filter(F.col("cos_sim") >= 0.2)
    return dedup_groups(pairs).select(
        F.col("doc_id").alias("vec_id"), "group_id"
    )


ORACLE_SQL_LLM["dedup_embedding_groups"] = """
    WITH RECURSIVE pairs AS (
      SELECT * FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(a.embedding::DOUBLE[],
                                            b.embedding::DOUBLE[]), 6)
                 AS cos_sim
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
         AND b.vec_id - a.vec_id <= 25)
      WHERE cos_sim >= 0.2),
    sym AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
    lbl(node, comp) AS (
      SELECT a, LEAST(a, MIN(b)) FROM sym GROUP BY a
      UNION
      SELECT s.b, l.comp
      FROM lbl l JOIN sym s ON s.a = l.node
      WHERE l.comp < s.b
    )
    SELECT node AS vec_id, MIN(comp) AS group_id
    FROM lbl GROUP BY node
"""

QUERIES_LLM["dedup_embedding_groups"] = q_dedup_embedding_groups


def q_tpch_ref_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table referential-integrity audit (the relational side
    of docs_constraint_check): orphan counts for three FK edges —
    orders.o_custkey -> customer, lineitem.l_orderkey -> orders,
    lineitem.l_suppkey -> supplier — each as a left-anti join against
    the (distinct) key set of the parent, aggregated into one
    long-format report. Anti-joins broadcast the parent key sets when
    they fit and AQE picks shuffle joins when they don't; each fact
    table is scanned once per edge with only its FK column read."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")

    def orphans(child, fk, parent, pk):
        return (
            child.select(F.col(fk).alias("k"))
            .join(
                parent.select(F.col(pk).alias("k")).distinct(),
                "k",
                "left_anti",
            )
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )

    rows = [
        ("orders->customer", orphans(o, "o_custkey", c, "c_custkey")),
        ("lineitem->orders", orphans(li, "l_orderkey", o, "o_orderkey")),
        ("lineitem->supplier", orphans(li, "l_suppkey", s, "s_suppkey")),
    ]
    out = None
    for name, df in rows:
        one = df.select(F.lit(name).alias("fk_edge"), "n")
        out = one if out is None else out.unionByName(one)
    return out


ORACLE_SQL_LLM["tpch_ref_integrity"] = """
    SELECT 'orders->customer' AS fk_edge,
           CAST(count(*) AS BIGINT) AS n
    FROM orders o WHERE NOT EXISTS
      (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'lineitem->orders',
           CAST(count(*) AS BIGINT)
    FROM lineitem l WHERE NOT EXISTS
      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'lineitem->supplier',
           CAST(count(*) AS BIGINT)
    FROM lineitem l WHERE NOT EXISTS
      (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)
"""

QUERIES_LLM["tpch_ref_integrity"] = q_tpch_ref_integrity


def q_tpch_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column statistics for the CBO family (with
    events_join_size_estimate): per-column null count, distinct
    count, and integer-cent min/max for four lineitem columns — ONE
    scan, one aggregation (count-distincts share the expand), long
    format so adding columns never changes the schema. At 100 TB this
    is the stats-collection job an optimizer schedules off-peak."""
    li = _t(spark, sf_dir, "lineitem")
    cents = {
        "l_quantity": (F.col("l_quantity") * 100),
        "l_extendedprice": (F.col("l_extendedprice") * 100),
        "l_discount": (F.col("l_discount") * 100),
        "l_tax": (F.col("l_tax") * 100),
    }
    aggs = []
    for c, cexpr in cents.items():
        icents = F.round(cexpr).cast("long")
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"{c}__nulls"),
            F.countDistinct(icents).cast("long").alias(f"{c}__distinct"),
            F.min(icents).alias(f"{c}__min_cents"),
            F.max(icents).alias(f"{c}__max_cents"),
        ]
    wide = li.agg(*aggs)
    cols = list(cents)
    stacked = wide.select(
        F.explode(
            F.map_from_arrays(
                F.array(*[F.lit(c) for c in cols]),
                F.array(
                    *[
                        F.struct(
                            F.col(f"{c}__nulls").alias("nulls"),
                            F.col(f"{c}__distinct").alias("n_distinct"),
                            F.col(f"{c}__min_cents").alias("min_cents"),
                            F.col(f"{c}__max_cents").alias("max_cents"),
                        )
                        for c in cols
                    ]
                ),
            )
        ).alias("column", "s")
    )
    return stacked.select(
        "column",
        F.col("s.nulls").alias("nulls"),
        F.col("s.n_distinct").alias("n_distinct"),
        F.col("s.min_cents").alias("min_cents"),
        F.col("s.max_cents").alias("max_cents"),
    )


def _col_stats_sql(c: str) -> str:
    return f"""
    SELECT '{c}' AS column,
           CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS nulls,
           CAST(count(DISTINCT CAST(round({c} * 100) AS BIGINT)) AS BIGINT)
             AS n_distinct,
           CAST(min(CAST(round({c} * 100) AS BIGINT)) AS BIGINT)
             AS min_cents,
           CAST(max(CAST(round({c} * 100) AS BIGINT)) AS BIGINT)
             AS max_cents
    FROM lineitem"""


ORACLE_SQL_LLM["tpch_column_stats"] = " UNION ALL ".join(
    _col_stats_sql(c)
    for c in ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
)

QUERIES_LLM["tpch_column_stats"] = q_tpch_column_stats


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """docs_bm25_search's scoring stage without the final cut
    (doc_id, bm25) — shared by the RRF hybrid-search fusion, which
    ranks DEEPER than the canonical top-10. Identical formula,
    literals, literal-lookup scalars, and rounding."""
    terms = ["data", "learning", "model"]
    d = _t(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    dl = words.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl")).persist()
    scal = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_dl"),
    ).collect()[0]
    n_docs, total_dl = int(scal["n_docs"]), int(scal["total_dl"])
    tf = (
        words.filter(F.col("w").isin(terms))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    k1, b = 1.2, 0.75
    scored = tf.join(F.broadcast(df_), "w").join(dl, "doc_id")
    idf = F.log(
        (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    avgdl = F.lit(total_dl).cast("double") / F.lit(n_docs)
    denom = F.col("tf") + k1 * (1 - b + b * F.col("dl") / avgdl)
    contrib = idf * (F.col("tf") * (k1 + 1)) / denom
    return scored.groupBy("doc_id").agg(
        F.round(F.sum(contrib), 6).alias("bm25")
    )


def q_docs_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword search (the IR family): score every document for
    a fixed 3-term query with the classic Okapi formula (k1=1.2,
    b=0.75) and return the top 10. Plan shape: one word explode for
    per-(doc, term) tf, one tiny df aggregate per query term, one
    scalar (N, avgdl) aggregate — the corpus is scanned once, the
    scalars broadcast, and the final cut is TakeOrderedAndProject,
    never a global sort. All inputs to the float formula are exact
    integers, so round(6) makes scores engine-identical. The scoring
    stage is factored as _bm25_scored (shared with the RRF hybrid
    fusion); the (N, avgdl) scalars are a literal-lookup collect, so
    the plan has no scalar BroadcastNestedLoopJoin."""
    return (
        _bm25_scored(spark, sf_dir)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(10)
    )


def q_orders_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-itemset first pass (market-basket): part pairs
    co-purchased in the same order, with support counts — top 20 by
    (support desc, pair). The pair join is keyed by order (baskets
    are small, so within-basket pairing is bounded); support
    aggregation is one (part, part) shuffle; the cut is
    TakeOrderedAndProject."""
    li = _t(spark, sf_dir, "lineitem")
    # round 12 (guide §2.4 remove shuffles outright): the original
    # distinct + self-join on ok cost three exchanges (distinct on
    # (ok, pk), re-key both join sides on ok, pair agg) plus a
    # sort-merge self-join. Baskets are small by construction, so
    # collect the sorted distinct part set per order in ONE order-keyed
    # aggregation and emit the i<j pairs with an array HOF — the
    # within-basket pair volume is identical, the distinct rides the
    # collect_set, and the self-join disappears. 2 exchanges total;
    # measured 8.9 -> [see OPTIMIZATION_r12.md] at sf0.1.
    baskets = (
        li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .groupBy("ok")
        .agg(F.sort_array(F.collect_set("pk")).alias("ps"))
        .filter(F.size("ps") >= 2)
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, (x, i) -> transform("
                "slice(ps, i + 2, size(ps)), "
                "y -> struct(x AS part_a, y AS part_b))))"
            )
        ).alias("p")
    ).select("p.part_a", "p.part_b")
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .orderBy(F.desc("support"), F.asc("part_a"), F.asc("part_b"))
        .limit(20)
    )


ORACLE_SQL_LLM["docs_bm25_search"] = """
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w
      FROM documents),
    w2 AS (SELECT doc_id, w FROM words WHERE w <> ''),
    dl AS (SELECT doc_id, count(*) AS dl FROM w2 GROUP BY 1),
    scal AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                    CAST(sum(dl) AS BIGINT) AS total_dl FROM dl),
    tf AS (SELECT doc_id, w, count(*) AS tf FROM w2
           WHERE w IN ('data', 'learning', 'model') GROUP BY 1, 2),
    dfx AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
    scored AS (
      SELECT t.doc_id,
             ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
             * (t.tf * 2.2)
             / (t.tf + 1.2 * (0.25 + 0.75 * l.dl
                / (CAST(s.total_dl AS DOUBLE) / s.n_docs))) AS c
      FROM tf t JOIN dfx d USING (w)
      JOIN dl l ON l.doc_id = t.doc_id
      CROSS JOIN scal s)
    SELECT doc_id, round(sum(c), 6) AS bm25
    FROM scored GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id ASC LIMIT 10
"""
ORACLE_SQL_LLM["orders_market_basket"] = """
    WITH items AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem)
    SELECT a.pk AS part_a, b.pk AS part_b,
           CAST(count(*) AS BIGINT) AS support
    FROM items a JOIN items b
      ON a.ok = b.ok AND a.pk < b.pk
    GROUP BY 1, 2
    ORDER BY support DESC, part_a ASC, part_b ASC LIMIT 20
"""

QUERIES_LLM["docs_bm25_search"] = q_docs_bm25_search
QUERIES_LLM["orders_market_basket"] = q_orders_market_basket


# sorted-neighborhood window for dedup_levenshtein: candidate volume is
# O(rows x gap / blocks); recall is limited to pairs within the window
# (see the function's RECALL DISCLOSURE). The oracle embeds the same
# literal — change both together.
_LEV_ID_GAP = 25


def q_dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup (the character-level modality the
    token-set measures miss — small in-place edits): candidates
    blocked by (source, length decile, bounded id gap) — never
    all-pairs — then verified with integer Levenshtein over 100-char
    prefixes (both engines implement the classic DP, so distances are
    engine-exact). The prefix bound caps the DP cost per pair at
    100x100 regardless of document length — the production trick for
    edit-distance at corpus scale. Emits EVERY blocked pair with its
    distance (the census form — callers threshold downstream; this
    synthetic corpus's template heads keep all distances >= 50, so a
    tight cut would be empty).

    RECALL DISCLOSURE (round-5 verdict item 7): the third blocking
    key is a SORTED-NEIGHBORHOOD id-gap window (id_b - id_a <=
    ``_LEV_ID_GAP``). It bounds candidate count at
    O(rows x gap / blocks) — the property that makes the census
    affordable — but it finds a near-dup pair ONLY when the two ids
    sit within the window, i.e. recall is blocking-limited and
    id-correlation-dependent: on a corpus where duplicate ingests land
    far apart in id space, pairs outside the window are silently
    missed. Production callers with uncorrelated ids should block on
    content instead (an LSH band or a prefix-gram key — exactly what
    dedup_lsh_verified / minhash_lsh_pairs provide) and reserve this
    shape for CDC-adjacent corpora where near-in-time implies
    near-in-id. The id window is used here BY CHOICE to keep a
    distinct physical shape in the inventory: an equi-join candidate
    generator whose volume is bounded by arithmetic, not by hash
    luck."""
    d = _t(spark, sf_dir, "documents")
    blocked = d.select(
        "doc_id",
        "source",
        F.floor(F.col("n_chars") / 200).cast("long").alias("lb"),
        F.substring("text", 1, 100).alias("prefix"),
    )
    a = blocked.select(
        F.col("doc_id").alias("id_a"),
        "source",
        "lb",
        F.col("prefix").alias("pa"),
    )
    b = blocked.select(
        F.col("doc_id").alias("id_b"),
        "source",
        "lb",
        F.col("prefix").alias("pb"),
    )
    pairs = (
        a.join(b, ["source", "lb"])
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("id_b") - F.col("id_a") <= _LEV_ID_GAP)
        )
        .select(
            "id_a",
            "id_b",
            F.levenshtein("pa", "pb").cast("long").alias("edit_dist"),
        )
    )
    return pairs


ORACLE_SQL_LLM["dedup_levenshtein"] = f"""
    WITH blocked AS (
      SELECT doc_id, source,
             CAST(floor(n_chars / 200.0) AS BIGINT) AS lb,
             substr(text, 1, 100) AS prefix
      FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.prefix, b.prefix) AS BIGINT) AS edit_dist
    FROM blocked a JOIN blocked b
      ON a.source = b.source AND a.lb = b.lb
     AND a.doc_id < b.doc_id AND b.doc_id - a.doc_id <= {_LEV_ID_GAP}
"""

QUERIES_LLM["dedup_levenshtein"] = q_dedup_levenshtein


def q_orders_item_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative similarity (the recommendation
    counterpart of the market-basket pass): cosine over binary
    baskets — support(a,b) / sqrt(freq(a) * freq(b)) — for co-
    purchased part pairs, top 20 by (similarity, pair). The pair
    stream is basket-bounded (same keyed join as the basket census);
    item frequencies join in from one tiny aggregate; one float op +
    round(6) on exact integers keeps it engine-identical."""
    li = _t(spark, sf_dir, "lineitem")
    items = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    freq = items.groupBy("pk").agg(F.count(F.lit(1)).alias("freq"))
    a = items.select("ok", F.col("pk").alias("part_a"))
    b = items.select("ok", F.col("pk").alias("part_b"))
    sup = (
        a.join(b, "ok")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
    )
    out = (
        sup.join(
            freq.select(F.col("pk").alias("part_a"), F.col("freq").alias("fa")),
            "part_a",
        )
        .join(
            freq.select(F.col("pk").alias("part_b"), F.col("freq").alias("fb")),
            "part_b",
        )
        .select(
            "part_a",
            "part_b",
            F.col("support").cast("long").alias("support"),
            F.round(
                F.col("support")
                / F.sqrt(F.col("fa").cast("double") * F.col("fb")),
                6,
            ).alias("cosine_sim"),
        )
    )
    return out.orderBy(
        F.desc("cosine_sim"), F.asc("part_a"), F.asc("part_b")
    ).limit(20)


ORACLE_SQL_LLM["orders_item_similarity"] = """
    WITH items AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    freq AS (SELECT pk, count(*) AS freq FROM items GROUP BY 1),
    sup AS (
      SELECT a.pk AS part_a, b.pk AS part_b, count(*) AS support
      FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY 1, 2)
    SELECT s.part_a, s.part_b,
           CAST(s.support AS BIGINT) AS support,
           round(s.support / sqrt(CAST(fa.freq AS DOUBLE) * fb.freq), 6)
             AS cosine_sim
    FROM sup s
    JOIN freq fa ON fa.pk = s.part_a
    JOIN freq fb ON fb.pk = s.part_b
    ORDER BY cosine_sim DESC, part_a ASC, part_b ASC LIMIT 20
"""

QUERIES_LLM["orders_item_similarity"] = q_orders_item_similarity


def q_events_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type linear trend of the daily count series (regression as
    aggregation): OLS slope + intercept from the closed form over
    exact integer sums (x = day index, y = count) — n, Σx, Σy, Σxy,
    Σx² are all integers, so both engines perform the identical two
    float divisions at the end; round(6). One daily groupBy over the
    corpus + one per-type aggregate — no ML library, no iterations."""
    e = read_events(spark, sf_dir)
    daily = (
        e.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("y"))
        .withColumn(
            "x", F.datediff("day", F.to_date(F.lit("2024-01-01")))
        )
    )
    s = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("double")
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
            "double"
        )
    )
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx").cast("double")
    ) / F.col("n").cast("double")
    return s.select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
    )


def q_tpch_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix entries for three lineitem column
    pairs, from EXACT wide-decimal sums (cents cast to decimal(38,0)
    — Σxy of 1e7-cent values over 600k rows overflows int64, decimals
    don't), so both engines reduce to the identical final float
    expression; round(6). One scan, one aggregation for all pairs."""
    li = _t(spark, sf_dir, "lineitem")
    cols = {
        "qty": F.round(F.col("l_quantity") * 100).cast("decimal(38,0)"),
        "price": F.round(F.col("l_extendedprice") * 100).cast(
            "decimal(38,0)"
        ),
        "disc": F.round(F.col("l_discount") * 100).cast("decimal(38,0)"),
    }
    pairs = [("qty", "price"), ("qty", "disc"), ("price", "disc")]
    aggs = [F.count(F.lit(1)).cast("decimal(38,0)").alias("n")]
    for c, e in cols.items():
        aggs.append(F.sum(e).alias(f"s_{c}"))
        aggs.append(F.sum(e * e).alias(f"ss_{c}"))
    for a, b in pairs:
        aggs.append(F.sum(cols[a] * cols[b]).alias(f"sp_{a}_{b}"))
    w = li.agg(*aggs)

    def corr(a: str, b: str):
        n = F.col("n").cast("double")
        sa, sb = F.col(f"s_{a}").cast("double"), F.col(f"s_{b}").cast("double")
        ssa, ssb = F.col(f"ss_{a}").cast("double"), F.col(f"ss_{b}").cast("double")
        sp = F.col(f"sp_{a}_{b}").cast("double")
        return F.round(
            (n * sp - sa * sb)
            / F.sqrt((n * ssa - sa * sa) * (n * ssb - sb * sb)),
            6,
        )

    out = None
    for a, b in pairs:
        one = w.select(
            F.lit(f"{a}~{b}").alias("pair"), corr(a, b).alias("pearson_r")
        )
        out = one if out is None else out.unionByName(one)
    return out


ORACLE_SQL_LLM["events_daily_trend"] = """
    WITH daily AS (
      SELECT event_type,
             date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
             count(*) AS y
      FROM events GROUP BY 1, 2),
    s AS (
      SELECT event_type, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx
      FROM daily GROUP BY 1)
    SELECT event_type, CAST(n AS BIGINT) AS n_days,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope,
           round((CAST(sy AS DOUBLE)
                  - CAST(n * sxy - sx * sy AS DOUBLE)
                    / CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(sx AS DOUBLE))
                 / CAST(n AS DOUBLE), 6) AS intercept
    FROM s
"""
ORACLE_SQL_LLM["tpch_correlations"] = """
    WITH c AS (
      SELECT CAST(round(l_quantity * 100) AS HUGEINT) AS qty,
             CAST(round(l_extendedprice * 100) AS HUGEINT) AS price,
             CAST(round(l_discount * 100) AS HUGEINT) AS disc
      FROM lineitem),
    w AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             sum(qty) AS s_qty, sum(qty * qty) AS ss_qty,
             sum(price) AS s_price, sum(price * price) AS ss_price,
             sum(disc) AS s_disc, sum(disc * disc) AS ss_disc,
             sum(qty * price) AS sp_qty_price,
             sum(qty * disc) AS sp_qty_disc,
             sum(price * disc) AS sp_price_disc
      FROM c)
    SELECT 'qty~price' AS pair,
           round(CAST(n * sp_qty_price - s_qty * s_price AS DOUBLE)
                 / sqrt(CAST(n * ss_qty - s_qty * s_qty AS DOUBLE)
                        * CAST(n * ss_price - s_price * s_price AS DOUBLE)),
                 6) AS pearson_r
    FROM w
    UNION ALL
    SELECT 'qty~disc',
           round(CAST(n * sp_qty_disc - s_qty * s_disc AS DOUBLE)
                 / sqrt(CAST(n * ss_qty - s_qty * s_qty AS DOUBLE)
                        * CAST(n * ss_disc - s_disc * s_disc AS DOUBLE)),
                 6)
    FROM w
    UNION ALL
    SELECT 'price~disc',
           round(CAST(n * sp_price_disc - s_price * s_disc AS DOUBLE)
                 / sqrt(CAST(n * ss_price - s_price * s_price AS DOUBLE)
                        * CAST(n * ss_disc - s_disc * s_disc AS DOUBLE)),
                 6)
    FROM w
"""

QUERIES_LLM["events_daily_trend"] = q_events_daily_trend
QUERIES_LLM["tpch_correlations"] = q_tpch_correlations


def q_events_hour_dow_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality heatmap: event counts by (ISO weekday, hour) per
    type — one groupBy, exact integers. Cross-engine calendar pin:
    Spark's dayofweek is 1=Sunday while DuckDB's is 0=Sunday, so both
    sides use the ISO numbering (Monday=1) — Spark `weekday()+1`,
    DuckDB `isodow()` — the kind of convention skew that silently
    flips a heatmap's rows."""
    e = read_events(spark, sf_dir)
    return (
        e.groupBy(
            (F.weekday("ts") + 1).cast("long").alias("iso_dow"),
            F.hour("ts").cast("long").alias("hour"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def q_orders_cust_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (recency / frequency / monetary):
    per customer, days since last order from a fixed anchor, order
    count, and exact integer-cent spend, each bucketed into quartile
    bands by PERCENTILE THRESHOLDS — the winsorize pattern: one tiny
    aggregate yields the nine cut points as driver scalars, then
    segmentation is a pure row-local expression. Deliberately NOT
    ntile(): a global ntile is a single-partition sort over all
    customers — the scale anti-pattern the plan gates exist to catch.
    Band convention: 1 = best (most recent / most frequent / highest
    spend). Ties at a threshold fall deterministically by the value
    comparison alone."""
    o = _t(spark, sf_dir, "orders")
    per_cust = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.datediff(
            F.to_date(F.lit("1998-12-31")), F.max(F.to_date("o_orderdate"))
        )
        .cast("long")
        .alias("recency_days"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("monetary_cents"),
    )
    cuts = per_cust.agg(
        *[
            F.percentile(c, p).alias(f"{c}_{int(p * 100)}")
            for c in ("recency_days", "frequency", "monetary_cents")
            for p in (0.25, 0.5, 0.75)
        ]
    ).first()

    def band(col: str, ascending: bool):
        q1, q2, q3 = (
            float(cuts[f"{col}_25"]),
            float(cuts[f"{col}_50"]),
            float(cuts[f"{col}_75"]),
        )
        v = F.col(col).cast("double")
        if ascending:  # smaller value = better band (recency)
            return (
                F.lit(1)
                + (v > q1).cast("int")
                + (v > q2).cast("int")
                + (v > q3).cast("int")
            )
        return (
            F.lit(4)
            - (v > q1).cast("int")
            - (v > q2).cast("int")
            - (v > q3).cast("int")
        )

    return per_cust.select(
        "custkey",
        "recency_days",
        "frequency",
        "monetary_cents",
        (
            band("recency_days", True) * 100
            + band("frequency", False) * 10
            + band("monetary_cents", False)
        )
        .cast("long")
        .alias("rfm_segment"),
    )


ORACLE_SQL_LLM["events_hour_dow_heatmap"] = """
    SELECT CAST(isodow(ts) AS BIGINT) AS iso_dow,
           CAST(hour(ts) AS BIGINT) AS hour,
           event_type,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2, 3
"""
ORACLE_SQL_LLM["orders_cust_rfm"] = """
    WITH per_cust AS (
      SELECT o_custkey AS custkey,
             CAST(date_diff('day', max(CAST(o_orderdate AS DATE)),
                            DATE '1998-12-31') AS BIGINT) AS recency_days,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS monetary_cents
      FROM orders GROUP BY 1),
    cuts AS (
      SELECT quantile_cont(recency_days::DOUBLE, 0.25) AS r25,
             quantile_cont(recency_days::DOUBLE, 0.50) AS r50,
             quantile_cont(recency_days::DOUBLE, 0.75) AS r75,
             quantile_cont(frequency::DOUBLE, 0.25) AS f25,
             quantile_cont(frequency::DOUBLE, 0.50) AS f50,
             quantile_cont(frequency::DOUBLE, 0.75) AS f75,
             quantile_cont(monetary_cents::DOUBLE, 0.25) AS m25,
             quantile_cont(monetary_cents::DOUBLE, 0.50) AS m50,
             quantile_cont(monetary_cents::DOUBLE, 0.75) AS m75
      FROM per_cust)
    SELECT custkey, recency_days, frequency, monetary_cents,
           CAST(
             (1 + CASE WHEN recency_days > r25 THEN 1 ELSE 0 END
                + CASE WHEN recency_days > r50 THEN 1 ELSE 0 END
                + CASE WHEN recency_days > r75 THEN 1 ELSE 0 END) * 100
           + (4 - CASE WHEN frequency > f25 THEN 1 ELSE 0 END
                - CASE WHEN frequency > f50 THEN 1 ELSE 0 END
                - CASE WHEN frequency > f75 THEN 1 ELSE 0 END) * 10
           + (4 - CASE WHEN monetary_cents > m25 THEN 1 ELSE 0 END
                - CASE WHEN monetary_cents > m50 THEN 1 ELSE 0 END
                - CASE WHEN monetary_cents > m75 THEN 1 ELSE 0 END)
           AS BIGINT) AS rfm_segment
    FROM per_cust CROSS JOIN cuts
"""

QUERIES_LLM["events_hour_dow_heatmap"] = q_events_hour_dow_heatmap
QUERIES_LLM["orders_cust_rfm"] = q_orders_cust_rfm


def q_events_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion latency: per user, minutes from first signup to the
    first purchase AFTER it; reported as a per-outcome census plus
    exact integer percentile cut-offs of the converting population
    (p50/p90 via the two-scalar winsorize pattern — no global sort).
    Two tiny per-user aggregates + one row-local comparison; the
    corpus is scanned once per event-type filter with only (user_id,
    ts) read."""
    e = read_events(spark, sf_dir)
    first_signup = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    conv = (
        first_signup.join(purchases, "user_id")
        .filter(F.col("p_ts") >= F.col("signup_ts"))
        .groupBy("user_id")
        .agg(F.min("p_ts").alias("first_purchase_ts"))
        .join(first_signup, "user_id")
        .select(
            "user_id",
            F.floor(
                (
                    F.unix_timestamp("first_purchase_ts")
                    - F.unix_timestamp("signup_ts")
                )
                / 60
            )
            .cast("long")
            .alias("latency_min"),
        )
    )
    n_signup = first_signup.count()  # bounded driver scalar
    stats = conv.agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        F.percentile("latency_min", 0.5).alias("p50"),
        F.percentile("latency_min", 0.9).alias("p90"),
    )
    return stats.select(
        F.lit(n_signup).cast("long").alias("n_signup_users"),
        "n_converted",
        F.round(F.col("p50"), 6).alias("p50_min"),
        F.round(F.col("p90"), 6).alias("p90_min"),
    )


def q_docs_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth (Heaps-law curve): new and cumulative
    distinct words per doc-id decile, where a word is charged to the
    decile of its FIRST occurrence (min doc_id per n-gram — one
    shuffle), then a ≤10-row running sum. Uses word BIGRAMS (the
    linear lookahead-regex extractor): this corpus's unigram
    vocabulary saturates inside the first decile, bigrams trace a
    real Heaps curve. All integers."""
    d = _t(spark, sf_dir, "documents")
    bounds = d.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    ).first()
    lo, hi = int(bounds.lo), int(bounds.hi)
    span = max(hi - lo + 1, 1)
    from rust_dms_cdc_operator_spark.operators.dedup import (  # noqa: PLC0415
        sliding_word_ngrams,
    )

    grams = d.select(
        "doc_id",
        F.explode(sliding_word_ngrams(F.col("text"), 2)).alias("w"),
    )
    first = grams.groupBy("w").agg(F.min("doc_id").alias("first_doc"))
    # integer `div` (not double `/`): exact at any id-span magnitude,
    # matching the DuckDB `//` bit-for-bit past 2^53
    decile = F.least(
        F.lit(9),
        F.expr(f"((first_doc - {lo}) * 10) div {int(span)}").cast("int"),
    )
    per_decile = first.groupBy(decile.alias("decile")).agg(
        F.count(F.lit(1)).alias("new_words")
    )
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # 10-row frame: the global window is bounded by construction
    return per_decile.select(
        F.col("decile").cast("long").alias("decile"),
        F.col("new_words").cast("long").alias("new_words"),
        F.sum("new_words").over(w).cast("long").alias("vocab_cumulative"),
    )


ORACLE_SQL_LLM["events_conversion_latency"] = """
    WITH fs AS (
      SELECT user_id, min(ts) AS signup_ts FROM events
      WHERE event_type = 'signup' GROUP BY 1),
    conv AS (
      -- floor(elapsed-seconds/60), NOT date_diff('minute', ...):
      -- DuckDB's minute diff counts wall-clock boundary crossings
      SELECT f.user_id,
             CAST(floor(date_diff('second', f.signup_ts, min(e.ts))
                        / 60.0) AS BIGINT) AS latency_min
      FROM fs f JOIN events e
        ON e.user_id = f.user_id AND e.event_type = 'purchase'
       AND e.ts >= f.signup_ts
      GROUP BY f.user_id, f.signup_ts)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM fs) AS n_signup_users,
           CAST(count(*) AS BIGINT) AS n_converted,
           round(quantile_cont(latency_min::DOUBLE, 0.5), 6) AS p50_min,
           round(quantile_cont(latency_min::DOUBLE, 0.9), 6) AS p90_min
    FROM conv
"""
ORACLE_SQL_LLM["docs_vocab_growth"] = """
    WITH b AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi
               FROM documents),
    ws AS (SELECT doc_id, string_split(text, ' ') AS ws
           FROM documents),
    w2 AS (SELECT doc_id,
                  unnest(list_transform(range(len(ws) - 1),
                         i -> ws[i+1] || ' ' || ws[i+2])) AS w
           FROM ws),
    first AS (SELECT w, min(doc_id) AS first_doc FROM w2 GROUP BY 1),
    dec AS (
      SELECT least(9, CAST(floor((first_doc - b.lo) * 10.0
                           / (b.hi - b.lo + 1)) AS INT)) AS decile
      FROM first CROSS JOIN b),
    per AS (SELECT decile, CAST(count(*) AS BIGINT) AS new_words
            FROM dec GROUP BY 1)
    SELECT CAST(decile AS BIGINT) AS decile, new_words,
           CAST(sum(new_words) OVER (ORDER BY decile
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_cumulative
    FROM per
"""

QUERIES_LLM["events_conversion_latency"] = q_events_conversion_latency
QUERIES_LLM["docs_vocab_growth"] = q_docs_vocab_growth


def q_events_bot_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Abuse/bot heuristic: users whose inter-event rhythm is too
    regular — per user, exact integer-second gaps via one keyed lag
    window, then n / mean / population variance of the gaps from the
    one-pass sum/sumsq identity, ALL in exact integers end to end:
    the mean is integral micro-seconds ((Σg·1e6) div n), the bot flag
    is decided by INTEGER cross-multiplication (n*Σg² - (Σg)² <
    n² * threshold² algebraically), and the variance is REPORTED as
    its exact integer numerator — neither membership nor any reported
    statistic can flip on float rounding at any scale (the
    anomaly-hours discipline applied to behavioral rhythm)."""
    e = read_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        e.select(
            "user_id",
            (
                F.unix_timestamp("ts")
                - F.unix_timestamp(F.lag("ts").over(w))
            ).alias("gap_s"),
        )
        .filter(F.col("gap_s").isNotNull())
    )
    s = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("gap_s").alias("sg"),
        F.sum(F.col("gap_s") * F.col("gap_s")).alias("sgg"),
    )
    # wide-decimal cross-multiplication (the tpch_correlations
    # pattern): n*Σg² and n²*3600² exceed int64 on heavy users with
    # large gaps at corpus scale, where non-ANSI Spark longs wrap
    # silently while the DuckDB oracle auto-promotes to HUGEINT —
    # decimal(38,0) keeps both engines exact through the products;
    # the final cast to long mirrors the oracle's CAST AS BIGINT
    n_d = F.col("n").cast("decimal(38,0)")
    sg_d = F.col("sg").cast("decimal(38,0)")
    sgg_d = F.col("sgg").cast("decimal(38,0)")
    var_num = n_d * sgg_d - sg_d * sg_d
    # variance < 3600^2 s^2 (sd under an hour) with >= 10 gaps
    flagged = (F.col("n") >= 10) & (
        var_num < n_d * n_d * F.lit(3600 * 3600).cast("decimal(38,0)")
    )
    return s.select(
        "user_id",
        F.col("n").cast("long").alias("n_gaps"),
        # EXACT integer micro-seconds, (Σg·1e6) div n — round(sg/n, 6)
        # is a small-denominator rational whose shortest decimal repr
        # can end on a half-way digit (e.g. n=640: 41/640 = 0.0640625),
        # where Spark's BigDecimal HALF_UP and DuckDB's scaled
        # std::round disagree — the docs_quality_percentile find,
        # applied to the same hazard here. Integral `div` is
        # engine-exact at every n; the numerator is bounded by the
        # per-user observation window (Σgaps ≤ ~1e9 s → ≤ 1e15 µs),
        # far inside the BIGINT result range.
        F.expr("(sg * 1000000) div n").alias("mean_gap_us"),
        # the variance itself stays EXACT-INTEGER as its numerator
        # n*Σg² - (Σg)² (variance x n²): at gap magnitudes of ~4e4 s
        # the float variance is ~1e9, where 6-decimal rounding exceeds
        # double precision and 1-ulp engine skew flips the last digit
        var_num.cast("long").alias("var_numerator_s2"),
        flagged.alias("bot_suspect"),
    )


def q_docs_template_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template detection: the most frequent word 5-gram per source
    (boilerplate heads show up as dominant grams) — one n-gram
    explode + a (source, gram) count + a WindowGroupLimit-prunable
    top-1 per source, ties by gram text. The per-source evidence a
    segment-dedup pass starts from."""
    from rust_dms_cdc_operator_spark.operators.dedup import (  # noqa: PLC0415
        sliding_word_ngrams,
    )

    d = _t(spark, sf_dir, "documents")
    grams = d.select(
        "source",
        F.explode(sliding_word_ngrams(F.col("text"), 5)).alias("g"),
    )
    counts = grams.groupBy("source", "g").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("source").orderBy(F.desc("n"), F.asc("g"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "source",
            F.col("g").alias("template_gram"),
            F.col("n").cast("long").alias("n_occurrences"),
        )
    )


ORACLE_SQL_LLM["events_bot_detection"] = """
    WITH g AS (
      SELECT user_id,
             date_diff('second',
                       lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id),
                       ts) AS gap_s
      FROM events),
    g2 AS (SELECT user_id, gap_s FROM g WHERE gap_s IS NOT NULL),
    s AS (
      SELECT user_id, count(*) AS n, sum(gap_s) AS sg,
             sum(gap_s * gap_s) AS sgg
      FROM g2 GROUP BY 1)
    SELECT user_id,
           CAST(n AS BIGINT) AS n_gaps,
           CAST((sg * 1000000) // n AS BIGINT) AS mean_gap_us,
           CAST(n * sgg - sg * sg AS BIGINT) AS var_numerator_s2,
           (n >= 10 AND n * sgg - sg * sg < n * n * 12960000)
             AS bot_suspect
    FROM s
"""
ORACLE_SQL_LLM["docs_template_grams"] = """
    WITH ws AS (SELECT source, string_split(text, ' ') AS ws
                FROM documents),
    grams AS (
      SELECT source,
             unnest(list_transform(range(len(ws) - 4),
                    i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
                         || ' ' || ws[i+4] || ' ' || ws[i+5])) AS g
      FROM ws),
    counts AS (SELECT source, g, count(*) AS n FROM grams GROUP BY 1, 2),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY source
                 ORDER BY n DESC, g ASC) AS rn
      FROM counts)
    SELECT source, g AS template_gram, CAST(n AS BIGINT) AS n_occurrences
    FROM ranked WHERE rn = 1
"""

QUERIES_LLM["events_bot_detection"] = q_events_bot_detection
QUERIES_LLM["docs_template_grams"] = q_docs_template_grams


def oracle_sql_overrides(sf_dir: str) -> dict[str, str]:
    """Per-scale re-renderings of the trained-artifact oracles
    (sim_ivf_trained, sim_ivf_probe_partitioned, sim_ivf_occupancy,
    sim_pq_topk, sim_ivfpq_topk, sim_ivfpq_probe_partitioned). The
    driver's static
    ORACLE_SQL entries embed the sf0.01 artifacts; this returns the
    SAME oracle SQL rendered with the artifacts trained at ``sf_dir``
    (tag = dir basename, registry: trained/ JSON written by
    tools/gen_ivf_centroids.py / gen_pq_codebooks.py). Empty dict at
    sf0.01 (the static strings already match) or when no artifacts
    were generated for the tag — callers fall back to the static
    strings and the five report the documented by-design mismatch."""
    tag = os.path.basename(os.path.normpath(sf_dir))
    if tag == "sf0.01":
        return {}
    from rust_dms_cdc_operator_spark.trained import load_ivf, load_pq  # noqa: PLC0415

    cents, books = load_ivf(tag), load_pq(tag)
    out: dict[str, str] = {}
    if cents is not None:
        ivf = _ivf_trained_oracle_sql(cents)
        out["sim_ivf_trained"] = ivf
        out["sim_ivf_probe_partitioned"] = ivf
        out["sim_ivf_occupancy"] = _ivf_occupancy_oracle_sql(cents)
        out["sim_ivf_recall"] = _ivf_recall_oracle_sql(cents)
        from rust_dms_cdc_operator_spark.trained import (  # noqa: PLC0415
            load_ivf_density,
        )

        # sim_knn_density and dedup_semantic_pairs train under the
        # corpus-scaled list rule (_density_n_lists). When the rule
        # lands on 8 the shared artifact IS their artifact; otherwise
        # they need the per-sf 'ivfd' registry entry — if it is
        # missing or trained at a different list count, OMIT the
        # override (documented by-design skip) rather than render an
        # oracle from the wrong centroids, which would report a
        # guaranteed mismatch as a real failure.
        import duckdb  # noqa: PLC0415

        epath = os.path.join(sf_dir, "embeddings.parquet")
        esrc = f"{epath}/*.parquet" if os.path.isdir(epath) else epath
        n_vec = duckdb.sql(
            f"SELECT count(*) FROM '{esrc}' WHERE vec_id > 0"
        ).fetchone()[0]
        nl = _density_n_lists(int(n_vec))
        dcents = cents if nl == 8 else load_ivf_density(tag)
        if dcents is not None and len(dcents) == nl:
            out["sim_knn_density"] = _ivf_density_oracle_sql(dcents)
            out["dedup_semantic_pairs"] = _semantic_pairs_oracle_sql(dcents)
    if books is not None:
        out["sim_pq_topk"] = _pq_oracle_sql(books)
        if cents is not None:
            ivfpq = _ivfpq_oracle_sql(cents, books)
            out["sim_ivfpq_topk"] = ivfpq
            out["sim_ivfpq_probe_partitioned"] = ivfpq
    from rust_dms_cdc_operator_spark.trained import load_bpe  # noqa: PLC0415

    bpe = load_bpe(tag)
    if bpe is not None:
        out["docs_bpe_tokens"] = _bpe_tokens_oracle_sql(bpe)
        out["docs_bpe_fertility"] = _bpe_fertility_oracle_sql(bpe)
    return out


def q_docs_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE APPLY path under the oracle (r6 verdict item 5):
    train-then-count — one word-frequency shuffle + the bounded driver
    merge loop (operators/bpe.train_bpe, deterministic on any layout),
    then the broadcast-rank Arrow apply (bpe_token_count: greedy
    rank-order merges per DISTINCT word per batch, no shuffle). The
    oracle replays the SAME greedy inference rule in DuckDB — a
    recursive CTE merging the lowest-rank adjacent pair at its first
    position, from the trained merge list as literals
    (bpe_constants.py at sf0.01; trained/ registry per-sf) — so the
    whole train→apply contract is hash-checked, keeping the tokenizer
    honest as it evolves."""
    from rust_dms_cdc_operator_spark.operators.bpe import (  # noqa: PLC0415
        bpe_token_count,
        train_bpe,
    )

    d = _t(spark, sf_dir, "documents")
    merges = train_bpe(d, "text", num_merges=200, max_word_types=100_000)
    return bpe_token_count(d, merges, "text", "doc_id")


def _bpe_tokens_oracle_sql(merges=None) -> str:
    """docs_bpe_tokens oracle: greedy rank-order BPE apply as a
    recursive CTE. Each word starts as chars + '</w>'; every step
    merges the LOWEST-rank adjacent pair at its FIRST position
    (list_position returns the first hit — the exact tie rule of
    bpe_segment_word); a word is done when no adjacent pair has a
    rank. n per word = min(len(sym)) over the recursion (lengths are
    strictly decreasing), then doc counts sum the per-OCCURRENCE word
    stream. chr(1) separates pair halves in the rank map (never
    appears in the corpus)."""
    if merges is None:
        from rust_dms_cdc_operator_spark.bpe_constants import (  # noqa: PLC0415
            _BPE_MERGES_SF001 as merges,
        )
    pair_rows = ", ".join(
        "('" + a.replace("'", "''") + "\x01" + b.replace("'", "''")
        + f"', {i})"
        for i, (a, b) in enumerate(merges)
    )
    return f"""
        WITH RECURSIVE
        mrg(pair, r) AS (SELECT * FROM (VALUES {pair_rows}) t(pair, r)),
        rmap AS (SELECT map(list(pair), list(r)) AS m FROM mrg),
        occ AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                FROM documents),
        occf AS (SELECT doc_id, w FROM occ WHERE w <> ''),
        words AS (SELECT DISTINCT w FROM occf),
        seg(w, sym) AS (
          SELECT w, list_append(string_split(w, ''), '</w>') FROM words
          UNION ALL
          SELECT w,
            list_slice(sym, 1, bi - 1)
              || [sym[bi] || sym[bi + 1]]
              || list_slice(sym, bi + 2, len(sym))
          FROM (
            SELECT w, sym,
              list_position(
                rl, list_min(list_filter(rl, x -> x IS NOT NULL))
              ) AS bi
            FROM (
              SELECT w, sym,
                list_transform(range(1, len(sym)),
                  i -> (m[sym[i] || chr(1) || sym[i + 1]])[1]) AS rl
              FROM seg, rmap)
          ) WHERE bi IS NOT NULL
        ),
        wn AS (SELECT w, min(len(sym)) AS n FROM seg GROUP BY w)
        SELECT d.doc_id,
               CAST(coalesce(sum(wn.n), 0) AS BIGINT) AS n_bpe_tokens
        FROM documents d
        LEFT JOIN occf o ON o.doc_id = d.doc_id
        LEFT JOIN wn ON o.w = wn.w
        GROUP BY d.doc_id
    """


QUERIES_LLM["docs_bpe_tokens"] = q_docs_bpe_tokens
ORACLE_SQL_LLM["docs_bpe_tokens"] = _bpe_tokens_oracle_sql()


def q_docs_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-efficiency (fertility) census: characters per BPE
    token by language — the metric that decides whether a tokenizer
    is economical for a given language mix before a 100 TB corpus is
    committed to it. Same train->apply path as docs_bpe_tokens (one
    word-frequency shuffle, bounded driver merge loop, broadcast-rank
    Arrow apply), then per-doc token counts join back to (lang,
    n_chars) on the same doc_id key and collapse to one row per
    language. The ratio is ONE double division of two exactly-summed
    BIGINTs, so it hash-matches cross-engine at any scale."""
    from rust_dms_cdc_operator_spark.operators.bpe import (  # noqa: PLC0415
        bpe_token_count,
        train_bpe,
    )

    d = _t(spark, sf_dir, "documents")
    merges = train_bpe(d, "text", num_merges=200, max_word_types=100_000)
    per_doc = bpe_token_count(d, merges, "text", "doc_id")
    return (
        d.select("doc_id", "lang", "n_chars")
        .join(per_doc, "doc_id")
        .groupBy("lang")
        .agg(
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.sum("n_bpe_tokens").cast("long").alias("sum_tokens"),
        )
        .select(
            "lang", "sum_chars", "sum_tokens",
            (F.col("sum_chars") / F.col("sum_tokens")).alias("fertility"),
        )
    )


def _bpe_fertility_oracle_sql(merges=None) -> str:
    """Fertility oracle: the docs_bpe_tokens recursive-CTE apply as a
    subquery, aggregated to (lang, sum_chars, sum_tokens, ratio)."""
    inner = _bpe_tokens_oracle_sql(merges)
    return f"""
        WITH per_doc AS ({inner})
        SELECT d.lang,
               CAST(sum(d.n_chars) AS BIGINT) AS sum_chars,
               CAST(sum(p.n_bpe_tokens) AS BIGINT) AS sum_tokens,
               CAST(sum(d.n_chars) AS BIGINT) * 1.0
                 / CAST(sum(p.n_bpe_tokens) AS BIGINT) AS fertility
        FROM documents d JOIN per_doc p USING (doc_id)
        GROUP BY d.lang
    """


QUERIES_LLM["docs_bpe_fertility"] = q_docs_bpe_fertility
ORACLE_SQL_LLM["docs_bpe_fertility"] = _bpe_fertility_oracle_sql()


def q_mm_video_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL ISO-BMFF container census
    (functions/mediacodec.mp4_box_census via
    multimodal.video_container_census): synthesize well-formed MP4
    payloads entirely JVM-side — ftyp(isom) + moov{mvhd(timescale
    1000), video trak{tkhd 16.16 dims, hdlr vide}, doc_id%2 audio
    traks{hdlr soun}} + mdat(doc_id%64 zero bytes) — and run the
    Arrow-batched box walk. Emitted facts come from the PYTHON BOX
    WALKER (it must recurse moov→trak→mdia and decode the fixed-point
    geometry); the oracle recomputes every field from doc_id
    arithmetic, so the JVM synth and the struct-level walk are
    independent paths that must agree bit-for-bit (a wrong mvhd
    offset, a misparsed largesize, or a broken hdlr classification
    all break the match). The mm_decode_mp3 pattern, for video."""
    from rust_dms_cdc_operator_spark.functions.multimodal import (  # noqa: PLC0415
        video_container_census,
    )

    def u32(col):  # 8-hex-char big-endian u32
        return F.lpad(F.hex(col.cast("long")), 8, "0")

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    dur = (F.lit(500) + (did % 100) * 250).cast("long")
    w = (16 * (1 + did % 20)).cast("long")
    h = (16 * (1 + did % 11)).cast("long")
    n_audio = (did % 2).cast("int")
    k = (did % 64).cast("int")

    def tkhd(w_fix, h_fix):
        return F.concat(
            F.lit("0000005C" + "746B6864" + "00000000" + "00" * 8
                  + "00000001" + "00000000"),
            u32(dur),
            F.lit("00" * 16 + "00" * 36),
            u32(w_fix * 65536),
            u32(h_fix * 65536),
        )

    def hdlr(tag_hex):
        return F.lit("00000021" + "68646C72" + "00000000" + "00000000"
                     + tag_hex + "00" * 12 + "00")

    def trak(w_fix, h_fix, tag_hex):
        return F.concat(
            F.lit("0000008D" + "7472616B"),
            tkhd(w_fix, h_fix),
            F.lit("00000029" + "6D646961"),
            hdlr(tag_hex),
        )

    mvhd = F.concat(
        F.lit("0000006C" + "6D766864" + "00" * 12 + "000003E8"),
        u32(dur),
        F.lit("00" * 80),
    )
    moov_size = F.lit(116) + F.lit(141) * (1 + n_audio)
    moov = F.concat(
        u32(moov_size),
        F.lit("6D6F6F76"),
        mvhd,
        trak(w, h, "76696465"),
        F.when(n_audio == 1, trak(F.lit(0), F.lit(0), "736F756E"))
        .otherwise(F.lit("")),
    )
    mdat = F.concat(u32(F.lit(8) + k), F.lit("6D646174"),
                    F.repeat(F.lit("00"), k))
    payload = F.unhex(F.concat(
        F.lit("00000010" + "66747970" + "69736F6D" + "00000200"),
        moov, mdat,
    ))
    media = d.select(
        did.alias("media_id"),
        payload.alias("payload"),
        F.struct(
            F.lit("video").alias("kind"),
            F.octet_length(payload).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )
    return video_container_census(media)


QUERIES_LLM["mm_video_census"] = q_mm_video_census
ORACLE_SQL_LLM["mm_video_census"] = """
    SELECT doc_id AS media_id,
           'isom' AS major_brand,
           CAST(1 + doc_id % 2 AS INTEGER) AS n_tracks,
           CAST(1 AS INTEGER) AS n_video_tracks,
           CAST(doc_id % 2 AS INTEGER) AS n_audio_tracks,
           CAST(500 + (doc_id % 100) * 250 AS BIGINT) AS duration_ms,
           CAST(16 * (1 + doc_id % 20) AS INTEGER) AS width,
           CAST(16 * (1 + doc_id % 11) AS INTEGER) AS height,
           CAST(doc_id % 64 AS BIGINT) AS mdat_bytes
    FROM documents
"""

def q_events_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter semi-join (operators/bloomjoin): keep only
    events of users who ever made a high-value purchase, then census
    the surviving traffic per event type. The build side (distinct
    qualifying user_ids) is OR-folded into a 16 KiB bitmap with one
    bit_or shuffle and a CONFIG-bounded collect; the probe scan tests
    5 xxhash64 bit positions inside whole-stage codegen so
    non-matching events die before the exchange; a verifying
    left_semi join clears Bloom false positives, making the result
    bit-identical to the plain semi-join the oracle runs. This is the
    shape Spark's own runtime row-level filtering injects under
    selective joins — expressed manually because this build exposes
    no bloom_filter_agg SQL function. Aggregates avoid double sums
    (count / countDistinct / min / max are order-insensitive-exact),
    so the census hash-matches at every scale."""
    from rust_dms_cdc_operator_spark.operators.bloomjoin import (  # noqa: PLC0415
        bloom_semi_join,
    )

    e = _t(spark, sf_dir, "events")
    build = e.where(
        (F.col("event_type") == "purchase") & (F.col("value") > 180.0)
    )
    kept = bloom_semi_join(e, build, "user_id")
    return kept.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.min("value").alias("v_min"),
        F.max("value").alias("v_max"),
    )


ORACLE_SQL_LLM["events_bloom_prune"] = """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           min(value) AS v_min,
           max(value) AS v_max
    FROM events
    WHERE user_id IN (SELECT DISTINCT user_id FROM events
                      WHERE event_type = 'purchase' AND value > 180.0)
    GROUP BY event_type
"""
QUERIES_LLM["events_bloom_prune"] = q_events_bloom_prune

def q_docs_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style composite quality gate (Rae et al. 2021 §A1.1
    repetition/length heuristics, re-calibrated to this corpus):
    five independent rules — word-count bounds, mean-word-length
    band, duplicate-word dominance (1 - distinct/total > 0.5), and a
    minimum-distinct-stopword requirement — evaluated in ONE scan as
    pure built-in expressions (split/size/array_distinct/
    array_intersect), summed per source with map-side combine, then
    stacked to a stable (source, rule, n) schema so adding rules
    never changes downstream column sets. Mean word length compares a
    double DIVISION of two ints against constants: both engines
    derive the same ints from the same text, and IEEE division is
    deterministic, so the census is engine-exact at any scale. At
    100 TB this is the standard pre-training quality pass: no UDF, no
    second scan, one narrow aggregate per source."""
    d = _t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    w = F.size(words)
    distinct_w = F.size(F.array_distinct(words))
    chars = F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    mwl = chars / w
    stop = F.size(
        F.array_intersect(
            F.array_distinct(words),
            F.array(*[F.lit(s) for s in
                      ("the", "a", "and", "of", "to", "in", "is", "be")]),
        )
    )
    flags = [
        ("too_short", w < 25),
        ("too_long", w > 80),
        ("bad_wordlen", (mwl < 4.2) | (mwl > 4.8)),
        ("dup_words", (F.lit(1.0) - distinct_w / w) > 0.5),
        ("low_stopword", stop < 2),
    ]
    agg = d.groupBy("source").agg(
        *[F.sum(F.when(c, 1).otherwise(0)).cast("long").alias(n)
          for n, c in flags],
        F.sum(
            F.when(
                ~flags[0][1] & ~flags[1][1] & ~flags[2][1]
                & ~flags[3][1] & ~flags[4][1], 1
            ).otherwise(0)
        ).cast("long").alias("pass"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    rules = [n for n, _ in flags] + ["pass", "n_docs"]
    return agg.select(
        "source",
        F.explode(
            F.map_from_arrays(
                F.array(*[F.lit(r) for r in rules]),
                F.array(*[F.col(r) for r in rules]),
            )
        ).alias("rule", "n"),
    ).select("source", "rule", F.col("n").cast("long").alias("n"))


ORACLE_SQL_LLM["docs_gopher_rules"] = """
    WITH f AS (
      SELECT source,
             len(string_split(text, ' ')) AS w,
             len(list_distinct(string_split(text, ' '))) AS dw,
             length(replace(text, ' ', '')) AS chars,
             len(list_intersect(list_distinct(string_split(text, ' ')),
                 ['the','a','and','of','to','in','is','be'])) AS stop
      FROM documents),
    g AS (
      SELECT source,
             (w < 25) AS too_short,
             (w > 80) AS too_long,
             ((chars * 1.0 / w) < 4.2 OR (chars * 1.0 / w) > 4.8)
               AS bad_wordlen,
             ((1.0 - dw * 1.0 / w) > 0.5) AS dup_words,
             (stop < 2) AS low_stopword
      FROM f),
    a AS (
      SELECT source,
             CAST(sum(CASE WHEN too_short THEN 1 ELSE 0 END) AS BIGINT)
               AS too_short,
             CAST(sum(CASE WHEN too_long THEN 1 ELSE 0 END) AS BIGINT)
               AS too_long,
             CAST(sum(CASE WHEN bad_wordlen THEN 1 ELSE 0 END) AS BIGINT)
               AS bad_wordlen,
             CAST(sum(CASE WHEN dup_words THEN 1 ELSE 0 END) AS BIGINT)
               AS dup_words,
             CAST(sum(CASE WHEN low_stopword THEN 1 ELSE 0 END) AS BIGINT)
               AS low_stopword,
             CAST(sum(CASE WHEN NOT too_short AND NOT too_long
                           AND NOT bad_wordlen AND NOT dup_words
                           AND NOT low_stopword THEN 1 ELSE 0 END)
                  AS BIGINT) AS pass,
             CAST(count(*) AS BIGINT) AS n_docs
      FROM g GROUP BY source)
    SELECT source, 'too_short' AS rule, too_short AS n FROM a
    UNION ALL SELECT source, 'too_long', too_long FROM a
    UNION ALL SELECT source, 'bad_wordlen', bad_wordlen FROM a
    UNION ALL SELECT source, 'dup_words', dup_words FROM a
    UNION ALL SELECT source, 'low_stopword', low_stopword FROM a
    UNION ALL SELECT source, 'pass', pass FROM a
    UNION ALL SELECT source, 'n_docs', n_docs FROM a
"""
QUERIES_LLM["docs_gopher_rules"] = q_docs_gopher_rules

def q_mm_mkv_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Matroska/WebM (EBML) container census
    (functions/mediacodec.mkv_census via
    multimodal.mkv_container_census): synthesize well-formed Matroska
    payloads entirely JVM-side — EBML header{DocType matroska} +
    Segment{Info{TimestampScale 1e6 ns, Duration as an 8-byte IEEE
    double whose bit pattern is BUILT WITH SHIFT ARITHMETIC in SQL},
    Tracks{video TrackEntry with PixelWidth/PixelHeight, doc_id%3
    audio TrackEntries}, Void(doc_id%48)} — and run the Arrow-batched
    EBML walk. The walker must decode varint widths, recurse
    Segment→Tracks→TrackEntry→Video, classify TrackType, and multiply
    Duration by TimestampScale; the oracle recomputes every field
    from doc_id arithmetic, so the JVM synth (including the float
    encode) and the Python walk are independent paths that must agree
    bit-for-bit."""
    from rust_dms_cdc_operator_spark.functions.multimodal import (  # noqa: PLC0415
        mkv_container_census,
    )

    def u8(col):
        return F.lpad(F.hex(col.cast("long")), 2, "0")

    def u16(col):
        return F.lpad(F.hex(col.cast("long")), 4, "0")

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    dur = (F.lit(500) + (did % 100) * 250).cast("long")
    w = (16 * (1 + did % 20)).cast("long")
    h = (16 * (1 + did % 11)).cast("long")
    n_audio = (did % 3).cast("int")
    k = (did % 48).cast("int")

    # IEEE-754 double bits of the integral duration: exponent from the
    # binary-string length, mantissa by shift arithmetic — exact for
    # any integer below 2^52, all inside whole-stage codegen
    dur_c = d.select(did, dur.alias("dur"), w.alias("w"), h.alias("h"),
                     n_audio.alias("na"), k.alias("k"))
    dbl_hex = F.expr(
        "lpad(hex(shiftleft(CAST(1023 + e AS BIGINT), 52)"
        " + dur * shiftleft(1L, 52 - e) - shiftleft(1L, 52)), 16, '0')"
    )
    dur_c = dur_c.withColumn("e", (F.length(F.bin("dur")) - 1).cast("int"))

    header = F.lit("1A45DFA3" + "8B" + "4282" + "88"
                   + "6D6174726F736B61")
    info = F.concat(
        F.lit("1549A966" + "93" + "2AD7B1" + "84" + "000F4240"
              + "4489" + "88"),
        dbl_hex,
    )
    te_video = F.concat(
        F.lit("AE" + "8D" + "83" + "81" + "01"
              + "E0" + "88" + "B0" + "82"),
        u16(F.col("w")),
        F.lit("BA" + "82"),
        u16(F.col("h")),
    )
    te_audio = F.lit("AE" + "83" + "83" + "81" + "02")
    tracks_body_len = F.lit(15) + F.col("na") * 5
    tracks = F.concat(
        F.lit("1654AE6B"),
        u16(F.lit(0x4000) + tracks_body_len),
        te_video,
        F.when(F.col("na") >= 1, te_audio).otherwise(F.lit("")),
        F.when(F.col("na") >= 2, te_audio).otherwise(F.lit("")),
    )
    void = F.concat(F.lit("EC"), u8(F.lit(0x80) + F.col("k")),
                    F.repeat(F.lit("00"), F.col("k")))
    seg_body_len = F.lit(24) + (F.lit(6) + tracks_body_len) \
        + (F.lit(2) + F.col("k"))
    segment = F.concat(
        F.lit("18538067"),
        u16(F.lit(0x4000) + seg_body_len),
        info, tracks, void,
    )
    payload = F.unhex(F.concat(header, segment))
    media = dur_c.select(
        F.col("doc_id").alias("media_id"),
        payload.alias("payload"),
        F.struct(
            F.lit("video").alias("kind"),
            F.octet_length(payload).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )
    return mkv_container_census(media)


ORACLE_SQL_LLM["mm_mkv_census"] = """
    SELECT doc_id AS media_id,
           'matroska' AS doc_type,
           CAST(1 + doc_id % 3 AS INTEGER) AS n_tracks,
           CAST(1 AS INTEGER) AS n_video_tracks,
           CAST(doc_id % 3 AS INTEGER) AS n_audio_tracks,
           CAST(500 + (doc_id % 100) * 250 AS BIGINT) AS duration_ms,
           CAST(16 * (1 + doc_id % 20) AS INTEGER) AS width,
           CAST(16 * (1 + doc_id % 11) AS INTEGER) AS height,
           CAST(doc_id % 48 AS BIGINT) AS void_bytes
    FROM documents
"""
QUERIES_LLM["mm_mkv_census"] = q_mm_mkv_census

def q_docs_domain_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance scoring (Xie et al. 2023, 'Data Selection
    for Language Models via Importance Resampling'), re-expressed
    EXACTLY: score each document by how its hashed-unigram features
    discriminate a target domain (source src0) from the rest of the
    corpus. The textbook method compares add-1-smoothed log-
    likelihoods; a log's floating sum is engine- and order-dependent,
    so each token instead votes by the SIGN of the exact cross-
    multiplied odds comparison (c_t(b)+1)*(N_s+V) vs (c_s(b)+1)*
    (N_t+V) — integer arithmetic in decimal(38,0), overflow-safe at
    any corpus size — and a document's score is the exact integer sum
    of its token votes, banded for the census. Physical shape: one
    token-bucket aggregation bounded by V=4096, broadcast back onto
    the token stream (4096-row build side), one per-doc shuffle, one
    tiny census agg; the only driver traffic is two totals reduced
    from the V-bounded stats table."""
    d = _t(spark, sf_dir, "documents")
    v = 4096
    tok = (
        d.select("doc_id", "source",
                 F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
        .withColumn(
            "b",
            F.conv(F.substring(F.md5("w"), 1, 8), 16, 10)
            .cast("long") % v,
        )
    )
    is_t = F.col("source") == "src0"
    stats = tok.groupBy("b").agg(
        F.sum(F.when(is_t, 1).otherwise(0)).cast("long").alias("ct"),
        F.sum(F.when(~is_t, 1).otherwise(0)).cast("long").alias("cs"),
    )
    # totals: two scalars reduced from the V-bounded stats table — a
    # collect bounded by configuration, not by corpus size
    trow = stats.agg(F.sum("ct"), F.sum("cs")).collect()[0]
    n_t, n_s = int(trow[0]), int(trow[1])
    lean = F.signum(
        (F.col("ct") + 1).cast("decimal(38,0)") * F.lit(n_s + v)
        - (F.col("cs") + 1).cast("decimal(38,0)") * F.lit(n_t + v)
    ).cast("int")
    scored = tok.join(F.broadcast(stats), "b").select(
        "doc_id", "source", lean.alias("lean")
    )
    per_doc = scored.groupBy("doc_id", "source").agg(
        F.sum("lean").cast("long").alias("score")
    )
    band = (
        F.when(F.col("score") <= -25, "strong_source")
        .when(F.col("score") < 0, "lean_source")
        .when(F.col("score") == 0, "neutral")
        .when(F.col("score") < 25, "lean_target")
        .otherwise("strong_target")
    )
    return (
        per_doc.groupBy("source", band.alias("band"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


ORACLE_SQL_LLM["docs_domain_affinity"] = """
    WITH tok AS (
      SELECT doc_id, source,
             CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT) % 4096 AS b
      FROM (SELECT doc_id, source,
                   unnest(string_split(text, ' ')) AS w
            FROM documents)
      WHERE w <> ''),
    stats AS (
      SELECT b,
             sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS ct,
             sum(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS cs
      FROM tok GROUP BY b),
    tot AS (SELECT sum(ct) AS n_t, sum(cs) AS n_s FROM stats),
    scored AS (
      SELECT t.doc_id, t.source,
             CASE WHEN (s.ct + 1) * (x.n_s + 4096)
                       > (s.cs + 1) * (x.n_t + 4096) THEN 1
                  WHEN (s.ct + 1) * (x.n_s + 4096)
                       < (s.cs + 1) * (x.n_t + 4096) THEN -1
                  ELSE 0 END AS lean
      FROM tok t JOIN stats s USING (b), tot x),
    per_doc AS (
      SELECT doc_id, source, CAST(sum(lean) AS BIGINT) AS score
      FROM scored GROUP BY doc_id, source)
    SELECT source,
           CASE WHEN score <= -25 THEN 'strong_source'
                WHEN score < 0 THEN 'lean_source'
                WHEN score = 0 THEN 'neutral'
                WHEN score < 25 THEN 'lean_target'
                ELSE 'strong_target' END AS band,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM per_doc GROUP BY 1, 2
"""
QUERIES_LLM["docs_domain_affinity"] = q_docs_domain_affinity

def q_mm_decode_flac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL FLAC header decode (functions/mediacodec.parse_flac —
    with MP3/WAV, the lossless third of a production audio corpus):
    synthesize well-formed FLAC streams entirely JVM-side — magic +
    STREAMINFO whose 64-bit packed field (sample rate 20 bits,
    channels-1 3, bits-per-sample-1 5, total samples 36) is BUILT
    WITH SHIFT ARITHMETIC in SQL, followed for doc_id%3==0 by a
    PADDING block (so the not-last/last header-bit walk is
    exercised) — and run the Arrow-batched decode_media_features.
    The oracle recomputes rate/channels/samples/duration from doc_id
    arithmetic, so the JVM bit-packing and the Python unpacking are
    independent paths that must agree bit-for-bit."""
    from rust_dms_cdc_operator_spark.functions.multimodal import (  # noqa: PLC0415
        decode_media_features,
    )

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    sr = F.element_at(
        F.array(*[F.lit(x) for x in
                  (8000, 16000, 22050, 24000, 44100, 48000)]),
        (1 + did % 6).cast("int"),
    ).cast("long")
    ch = (1 + did % 2).cast("long")
    bps = F.element_at(
        F.array(F.lit(8), F.lit(16), F.lit(24)),
        (1 + did % 3).cast("int"),
    ).cast("long")
    secs = (1 + did % 30).cast("long")
    pad = did % 3 == 0
    k = (did % 20).cast("int")
    packed_hex = F.expr(
        "lpad(hex(shiftleft(sr, 44) + shiftleft(ch - 1, 41)"
        " + shiftleft(bps - 1, 36) + sr * secs), 16, '0')"
    )
    base = d.select(did.alias("doc_id"), sr.alias("sr"), ch.alias("ch"),
                    bps.alias("bps"), secs.alias("secs"),
                    pad.alias("pad"), k.alias("k"))
    streaminfo = F.concat(
        F.when(F.col("pad"), F.lit("00")).otherwise(F.lit("80")),
        F.lit("000022" + "1000" + "1000" + "000000" + "000000"),
        packed_hex,
        F.lit("00" * 16),
    )
    padding = F.when(
        F.col("pad"),
        F.concat(F.lit("81"), F.lpad(F.hex(F.col("k")), 6, "0"),
                 F.repeat(F.lit("00"), F.col("k"))),
    ).otherwise(F.lit(""))
    payload = F.unhex(F.concat(F.lit("664C6143"), streaminfo, padding))
    media = base.select(
        F.col("doc_id").alias("media_id"),
        payload.alias("payload"),
        F.struct(
            F.lit("audio").alias("kind"),
            F.lit(None).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )
    return decode_media_features(media)


ORACLE_SQL_LLM["mm_decode_flac"] = """
    SELECT doc_id AS media_id,
           'flac' AS codec,
           CAST(NULL AS INTEGER) AS width,
           CAST(NULL AS INTEGER) AS height,
           CAST(1 + doc_id % 2 AS INTEGER) AS channels,
           CAST(([8000, 16000, 22050, 24000, 44100, 48000])
                [1 + doc_id % 6] AS INTEGER) AS sample_rate_hz,
           CAST(([8000, 16000, 22050, 24000, 44100, 48000])
                [1 + doc_id % 6] * (1 + doc_id % 30)
                AS BIGINT) AS n_samples,
           CAST((1 + doc_id % 30) * 1000 AS BIGINT) AS duration_ms
    FROM documents
"""
QUERIES_LLM["mm_decode_flac"] = q_mm_decode_flac

def q_docs_heavy_hitters_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT corpus heavy hitters in bounded memory
    (operators/sketch.heavy_hitters_exact): per-partition Misra-Gries
    summaries (Arrow-vectorized, <=m entries each — the mergeable-
    summaries trim of Agarwal et al. 2012) propose a guaranteed
    superset of every token above N/(m+1); an exact recount of ONLY
    the proposals (candidate set broadcasts, non-candidates die at
    the scan) yields the deterministic top-k; a pigeonhole guarantee
    check falls back to the full aggregation when m is undersized, so
    the RESULT is exact on every input and only the plan degrades.
    This is the 100 TB alternative to docs_top_ngrams' full
    (token)-keyed shuffle: driver and shuffle traffic bounded by
    m x partitions, not vocabulary."""
    from rust_dms_cdc_operator_spark.operators.sketch import (  # noqa: PLC0415
        heavy_hitters_exact,
    )

    d = _t(spark, sf_dir, "documents")
    tokens = d.select(
        F.explode(F.split("text", " ")).alias("w")
    ).where(F.col("w") != "")
    return heavy_hitters_exact(tokens, "w", k=20, m=256)


ORACLE_SQL_LLM["docs_heavy_hitters_verified"] = """
    SELECT w, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
    WHERE w <> ''
    GROUP BY w
    ORDER BY n DESC, w ASC
    LIMIT 20
"""
QUERIES_LLM["docs_heavy_hitters_verified"] = q_docs_heavy_hitters_verified


def q_docs_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-substring span census (operators/dedup.
    dup_span_census): the Lee/Ippolito ACL'22 "exact substring
    deduplication" pass, Spark-first — stride-1 word windows as
    seeds, ONE vocabulary-bound gram-count aggregation marks seeds
    occurring >= 2 times corpus-wide, per-doc gaps-and-islands merges
    them into maximal duplicated spans. The paper's monolithic suffix
    array (8x corpus bytes on one node) is replaced by plans whose
    only global state is the distinct-window count table; for spans
    >= the 5-word resolution floor the census is exact."""
    from rust_dms_cdc_operator_spark.operators.dedup import (  # noqa: PLC0415
        dup_span_census,
    )

    d = _t(spark, sf_dir, "documents")
    return dup_span_census(d, "doc_id", "text", window=5, min_occurrences=2)


# Grouping key: the engine shuffles 48-bit md5 slices
# (hex_to_long(md5, 12)); the oracle groups on the SAME first-12-hex
# slice of md5 (bijective with the long), so hash collisions — the
# only divergence risk — are reproduced bit-for-bit on both engines.
ORACLE_SQL_LLM["docs_dup_spans"] = """
    WITH wsrc AS (SELECT doc_id, string_split(text, ' ') AS ws
                  FROM documents),
    g0 AS (SELECT doc_id, len(ws) AS n_words, ws,
                  unnest(generate_series(1, len(ws) - 4)) AS pos
           FROM wsrc WHERE len(ws) >= 5),
    g1 AS (SELECT doc_id, n_words, pos,
                  substr(md5(array_to_string(ws[pos:pos+4], ' ')), 1, 12)
                    AS gh
           FROM g0),
    dup AS (SELECT gh FROM g1 GROUP BY gh HAVING count(*) >= 2),
    seeds AS (SELECT g.doc_id, g.n_words, g.pos
              FROM g1 g JOIN dup USING (gh)),
    isl AS (SELECT doc_id, n_words, pos,
                   CASE WHEN pos - lag(pos) OVER (
                          PARTITION BY doc_id ORDER BY pos) <= 5
                        THEN 0 ELSE 1 END AS brk
            FROM seeds),
    grpd AS (SELECT doc_id, n_words, pos,
                    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                   ROWS UNBOUNDED PRECEDING) AS g
             FROM isl),
    spans AS (SELECT doc_id, g, count(*) AS seeds_in_span,
                     max(pos) - min(pos) + 5 AS span_words,
                     any_value(n_words) AS n_words
              FROM grpd GROUP BY doc_id, g)
    SELECT doc_id,
           CAST(sum(seeds_in_span) AS BIGINT) AS n_dup_seeds,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(span_words) AS BIGINT) AS dup_words,
           CAST(any_value(n_words) AS BIGINT) AS n_words
    FROM spans GROUP BY doc_id
"""
QUERIES_LLM["docs_dup_spans"] = q_docs_dup_spans


def q_docs_hll_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language distinct word-trigram cardinality via dense
    HyperLogLog (operators/sketch.hll_cardinality, Flajolet et al.
    2007), next to the exact count for calibration. The plan is the
    100 TB story: NO count-distinct expand — repeated trigrams
    collapse into identical (register, rho) rows that the map-side
    max() absorbs, so per-group state is exactly m=512 6-bit
    registers, and merging groups/days is max(rho) again. Everything
    up to one final literal IEEE expression is integer, so the
    estimate is bit-identical on every engine (the exact column rides
    along only to exhibit the ~3-4% raw-HLL error at this m)."""
    from rust_dms_cdc_operator_spark.operators.dedup import (  # noqa: PLC0415
        sliding_word_ngrams,
    )
    from rust_dms_cdc_operator_spark.operators.sketch import (  # noqa: PLC0415
        hll_cardinality,
    )

    d = _t(spark, sf_dir, "documents")
    g = d.select(
        "lang", F.explode(sliding_word_ngrams(F.col("text"), 3)).alias("g3")
    )
    sk = hll_cardinality(g, "g3", ["lang"], p=9)
    exact = g.groupBy("lang").agg(
        F.count_distinct("g3").cast("long").alias("exact_distinct")
    )
    return sk.join(exact, "lang").select(
        "lang", "m_hit", "s_scaled", "hll_estimate", "exact_distinct"
    )


_HLL_ALPHA_NUM = repr(0.7213 / (1.0 + 1.079 / 512) * 512 * 512 * float(1 << 52))
ORACLE_SQL_LLM["docs_hll_cardinality"] = f"""
    WITH wsrc AS (SELECT lang, string_split(text, ' ') AS ws
                  FROM documents),
    g AS (SELECT lang, array_to_string(ws[i:i+2], ' ') AS g3
          FROM wsrc, unnest(generate_series(1, len(ws) - 2)) t(i)
          WHERE len(ws) >= 3),
    h1 AS (SELECT lang, g3,
                  CAST({_sql_hex_to_long('md5(g3)', 15)} AS BIGINT) AS h
           FROM g),
    h3 AS (SELECT lang, g3, h % 512 AS reg,
                  CASE WHEN (h >> 9) = 0 THEN 52
                       ELSE 52 - length(bin(h >> 9)) END AS rho
           FROM h1),
    regs AS (SELECT lang, reg, max(rho) AS mreg
             FROM h3 GROUP BY lang, reg),
    agg AS (SELECT lang, count(*) AS m_hit,
                   sum((1::BIGINT << (52 - mreg))::BIGINT)::BIGINT AS s_hit
            FROM regs GROUP BY lang),
    ex AS (SELECT lang, count(DISTINCT g3) AS exact_distinct
           FROM g GROUP BY lang)
    SELECT a.lang,
           CAST(a.m_hit AS BIGINT) AS m_hit,
           (a.s_hit + (512 - a.m_hit) * (1::BIGINT << 52))::BIGINT
             AS s_scaled,
           CAST(floor({{alpha}}
                / (a.s_hit + (512 - a.m_hit) * (1::BIGINT << 52))::DOUBLE)
              AS BIGINT) AS hll_estimate,
           CAST(ex.exact_distinct AS BIGINT) AS exact_distinct
    FROM agg a JOIN ex USING (lang)
""".replace("{alpha}", _HLL_ALPHA_NUM)
QUERIES_LLM["docs_hll_cardinality"] = q_docs_hll_cardinality


def q_docs_contamination_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY benchmark decontamination (operators/dedup.
    prefix_jaccard_join_rs): every (corpus, benchmark) pair with
    3-gram Jaccard >= 0.5 across the doc_id >= 40 / < 40 split — the
    threshold companion to docs_contamination's verbatim n-gram scan
    (a paraphrased eval item shares most shingles but no exact
    5-gram). EXACT R-S prefix-filter join: one rarity order computed
    over the tagged union, both sides probe with their rarest
    ⌈(1-t)·|X|⌉+1 tokens, complete by the PPJoin pigeonhole — no LSH
    recall risk on the side where a miss is a leaked eval item."""
    from rust_dms_cdc_operator_spark.operators.dedup import (  # noqa: PLC0415
        prefix_jaccard_join_rs,
    )

    d = _t(spark, sf_dir, "documents")
    return prefix_jaccard_join_rs(
        d.filter(F.col("doc_id") >= 40),
        d.filter(F.col("doc_id") < 40),
        "doc_id", "text", n=3, min_jaccard=0.5, hash_shingles=True,
    )


# Completeness makes the oracle algorithm-independent (the
# dedup_*_prefix contract): DuckDB enumerates candidates by token
# inverted index across the split and verifies with the identical
# integer threshold.
ORACLE_SQL_LLM["docs_contamination_fuzzy"] = f"""
    WITH {_SHINGLES.lstrip().rstrip()},
    hsh AS (SELECT doc_id,
                   list_distinct(list_transform(s,
                     x -> {_sql_hex_to_long("md5(x)", 8)})) AS h
            FROM sh),
    sized AS (SELECT doc_id, h, len(h) AS sz FROM hsh WHERE len(h) > 0),
    tok AS (SELECT doc_id, sz, unnest(h) AS tok FROM sized),
    cand AS (SELECT DISTINCT a.doc_id AS id_l, b.doc_id AS id_r
             FROM tok a JOIN tok b ON a.tok = b.tok
             WHERE a.doc_id >= 40 AND b.doc_id < 40
               AND least(a.sz, b.sz) * 2 >= greatest(a.sz, b.sz) * 1)
    SELECT c.id_l, c.id_r,
           len(list_intersect(a.h, b.h)) AS inter_size,
           len(a.h) + len(b.h) - len(list_intersect(a.h, b.h))
             AS union_size
    FROM cand c
    JOIN sized a ON a.doc_id = c.id_l
    JOIN sized b ON b.doc_id = c.id_r
    WHERE len(list_intersect(a.h, b.h)) * 2
          >= (len(a.h) + len(b.h) - len(list_intersect(a.h, b.h))) * 1
"""
QUERIES_LLM["docs_contamination_fuzzy"] = q_docs_contamination_fuzzy


def _density_n_lists(n_vectors: int) -> int:
    """Corpus-scaled IVF list count for the self-k-NN density query:
    cell population must stay ~CONSTANT (here ~256) or within-cell
    pair volume grows quadratically with the corpus — the exact
    superlinearity the sf1 bench exposed with n_lists pinned at 8
    (20 s -> 555 s for a 10x step). ceil(n/256), floor 8.

    Round 9 halved the occupancy target from 512: with ceil(n/512)
    the floor of 8 left the sub-sf0.1 scales at occupancy ~250 while
    sf1 sat at ~500, so per-row pair volume DOUBLED across the 10x
    step and the bench ratio read superlinear (8.8x) even though the
    plan was sound. ceil(n/256) is identical at sf0.1 and below
    (still 8 lists — the driver's static sf0.01 oracle is untouched)
    and pins occupancy ~256 wherever the floor is unbound, so
    intra-cell pair volume per row is scale-constant by
    construction."""
    return max(8, -(-n_vectors // 256))


def _trained_density_cents(spark: SparkSession, sf_dir: str) -> list:
    """Density-query centroids under the corpus-scaled list rule.
    When the rule lands on 8 lists (the driver scales) this IS the
    shared sim_ivf_trained artifact; larger corpora train their own
    seed-42 partitioning (registry kind 'ivfd',
    tools/gen_ivf_centroids.py writes it per sf)."""
    from rust_dms_cdc_operator_spark.operators.similarity import (  # noqa: PLC0415
        train_ivf_centroids,
    )

    def build() -> list:
        e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") > 0)
        nl = _density_n_lists(e.count())  # bounded driver scalar
        if nl == 8:
            return _trained_ivf_cents(spark, sf_dir)
        return train_ivf_centroids(
            e.filter(F.col("vec_id") <= 4096), "embedding",
            n_lists=nl, seed=42, max_train=4096,
        )

    return _artifact("ivfd", sf_dir, build)


def q_sim_knn_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN density OUTLIER scoring (operators/similarity.
    ivf_knn_density): per-vector mean cosine distance to its 5 nearest
    neighbors within its 2 nearest trained-IVF cells; top-20
    worst-density vectors — the curation triage list for
    off-distribution/garbage embeddings. The self-k-NN shape where
    brute force is corpus-quadratic; here candidates are cell-bounded
    equi-joins over a NARROW id stream, neighbor ranking and distance
    sums are micro-unit integers, and the oracle replays the identical
    algorithm from the same trained centroid literals. The list count
    follows the corpus (:func:`_density_n_lists`) so cell population —
    and with it within-cell pair volume — stays ~constant per row at
    any scale."""
    from rust_dms_cdc_operator_spark.operators.similarity import (  # noqa: PLC0415
        ivf_knn_density,
    )

    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") > 0)
    cents = _trained_density_cents(spark, sf_dir)
    return ivf_knn_density(
        e, cents, "vec_id", "embedding", k=5, nprobe=2, top_n=20
    )


def _ivf_density_oracle_sql(cents=None) -> str:
    """sim_knn_density oracle: the identical cell-bounded self-k-NN —
    trained centroid literals, rounded-cosine assignment (ties ->
    lowest cid), per-row top-2 probe lists, micro-unit integer
    neighbor ranking and distance sums, two single-IEEE-division
    closers. Default literals are the sf0.01 constants; pass ``cents``
    for another scale (oracle_sql_overrides)."""
    if cents is None:
        from rust_dms_cdc_operator_spark.ivf_constants import (  # noqa: PLC0415
            _IVF_TRAINED_CENTROIDS_SF001 as cents,
        )
    rows = ",\n          ".join(
        f"({i}, {c}::DOUBLE[])" for i, c in enumerate(cents)
    )
    return f"""
        WITH cents AS (
          SELECT * FROM (VALUES
          {rows}
          ) AS t(cid, cemb)
        ),
        ranked AS (
          SELECT e.vec_id, c.cid,
                 row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY round(list_cosine_similarity(
                       e.embedding::DOUBLE[], c.cemb), 6) DESC, c.cid
                 ) AS rn
          FROM embeddings e CROSS JOIN cents c WHERE e.vec_id > 0
        ),
        assign AS (SELECT vec_id AS id_b, cid FROM ranked WHERE rn = 1),
        probes AS (SELECT vec_id AS id_a, cid FROM ranked WHERE rn <= 2),
        cand AS (
          SELECT p.id_a, s.id_b FROM probes p
          JOIN assign s ON p.cid = s.cid AND p.id_a <> s.id_b
        ),
        pairs AS (
          SELECT c.id_a, c.id_b,
                 CAST(round(round(list_cosine_similarity(
                     ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 6)
                   * 1000000, 0) AS BIGINT) AS cosm
          FROM cand c
          JOIN embeddings ea ON ea.vec_id = c.id_a
          JOIN embeddings eb ON eb.vec_id = c.id_b
        ),
        knn AS (
          SELECT id_a, cosm FROM (
            SELECT id_a, cosm,
                   row_number() OVER (
                     PARTITION BY id_a ORDER BY cosm DESC, id_b
                   ) AS rn
            FROM pairs) WHERE rn <= 5
        ),
        agg AS (
          SELECT id_a AS vec_id,
                 count(*) AS n_neighbors,
                 sum(1000000 - cosm)::BIGINT AS sum_dist_micro
          FROM knn GROUP BY id_a
        )
        SELECT vec_id,
               CAST(n_neighbors AS BIGINT) AS n_neighbors,
               sum_dist_micro,
               sum_dist_micro / (n_neighbors * 1000000.0) AS mean_dist
        FROM agg
        ORDER BY mean_dist DESC, vec_id ASC LIMIT 20
    """


ORACLE_SQL_LLM["sim_knn_density"] = _ivf_density_oracle_sql()
QUERIES_LLM["sim_knn_density"] = q_sim_knn_density


def q_dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-Neighborhood dedup (operators/dedup.
    sorted_neighborhood_pairs — Hernandez/Stolfo SIGMOD'95
    merge/purge): global text-order sort, each doc compared to its 3
    successors, exact integer shingle Jaccard per candidate. Candidate
    volume is EXACTLY 3N regardless of key skew — the blocking family
    member between equality blocks (hot-block quadratic) and LSH
    (probabilistic recall). The sort is the bucket-boundary global
    rank (no single-partition exchange, plan-gated machinery)."""
    from rust_dms_cdc_operator_spark.operators.dedup import (  # noqa: PLC0415
        sorted_neighborhood_pairs,
    )

    d = _t(spark, sf_dir, "documents")
    return sorted_neighborhood_pairs(
        d, "doc_id", "text", window=3, n=3, hash_shingles=True
    )


ORACLE_SQL_LLM["dedup_sorted_neighborhood"] = f"""
    WITH {_SHINGLES.lstrip().rstrip()},
    hsh AS (SELECT doc_id,
                   list_distinct(list_transform(s,
                     x -> {_sql_hex_to_long("md5(x)", 8)})) AS h
            FROM sh),
    ranked AS (SELECT d.doc_id,
                      row_number() OVER (ORDER BY d.text, d.doc_id)
                        AS rank
               FROM documents d),
    cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
             FROM ranked a JOIN ranked b
               ON b.rank > a.rank AND b.rank <= a.rank + 3)
    SELECT c.id_a, c.id_b,
           len(list_intersect(a.h, b.h)) AS inter_size,
           len(a.h) + len(b.h) - len(list_intersect(a.h, b.h))
             AS union_size
    FROM cand c
    JOIN hsh a ON a.doc_id = c.id_a
    JOIN hsh b ON b.doc_id = c.id_b
"""
QUERIES_LLM["dedup_sorted_neighborhood"] = q_dedup_sorted_neighborhood


def q_sim_jl_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss prefiltered top-k (operators/similarity.
    jl_rerank_topk, Achlioptas ±1 projection): every vector scores in
    a 16-dim Rademacher projection (literal matrix from a seed string
    — no training), a 30-row shortlist reranks with exact 64-dim
    cosine, and the result carries an in_exact_topk flag joined from
    the independent exact top-10 so shortlist recall is part of the
    checked answer. The untrained cousin of PQ's ADC shortlist+rerank:
    full-dim arithmetic drops to k_proj/d of brute force at 100 TB."""
    from rust_dms_cdc_operator_spark.operators.similarity import (  # noqa: PLC0415
        jl_rerank_topk,
    )

    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") > 0)
    return jl_rerank_topk(
        e, _query_vec(spark, sf_dir), k_proj=16, k=10, shortlist=30
    )


def _jl_oracle_sql() -> str:
    """sim_jl_rerank oracle: identical literal matrix (the same
    seed-derived jl_matrix rows), identical rounded projections and
    rounded cosines, identical (score desc, id) orders."""
    from rust_dms_cdc_operator_spark.operators.similarity import (  # noqa: PLC0415
        jl_matrix,
    )

    mat = jl_matrix(16, 64)
    rows = ",\n          ".join(
        f"({i}, {r}::DOUBLE[])" for i, r in enumerate(mat)
    )
    return f"""
        WITH mats AS (
          SELECT * FROM (VALUES
          {rows}
          ) AS t(i, r)
        ),
        q AS (SELECT embedding::DOUBLE[] AS qv
              FROM embeddings WHERE vec_id = 0),
        qp AS (SELECT list(round(list_inner_product(m.r, q.qv), 6)
                           ORDER BY m.i) AS v
               FROM mats m, q),
        proj AS (SELECT e.vec_id,
                        list(round(list_inner_product(
                            m.r, e.embedding::DOUBLE[]), 6)
                             ORDER BY m.i) AS v
                 FROM embeddings e CROSS JOIN mats m
                 WHERE e.vec_id > 0 GROUP BY e.vec_id),
        jl AS (SELECT p.vec_id,
                      round(list_cosine_similarity(p.v, qp.v), 6) AS jl_sim
               FROM proj p, qp),
        short AS (SELECT vec_id FROM jl
                  ORDER BY jl_sim DESC, vec_id LIMIT 30),
        rer AS (SELECT e.vec_id,
                       round(list_cosine_similarity(
                           e.embedding::DOUBLE[], q.qv), 6) AS cos_sim
                FROM embeddings e JOIN short USING (vec_id), q),
        ex AS (SELECT e.vec_id FROM embeddings e, q
               WHERE e.vec_id > 0
               ORDER BY round(list_cosine_similarity(
                   e.embedding::DOUBLE[], q.qv), 6) DESC, e.vec_id
               LIMIT 10)
        SELECT r.vec_id, r.cos_sim,
               (ex.vec_id IS NOT NULL) AS in_exact_topk
        FROM rer r LEFT JOIN ex ON ex.vec_id = r.vec_id
        ORDER BY r.cos_sim DESC, r.vec_id LIMIT 10
    """


ORACLE_SQL_LLM["sim_jl_rerank"] = _jl_oracle_sql()
QUERIES_LLM["sim_jl_rerank"] = q_sim_jl_rerank


def q_stream_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING near-dup marking (operators/dedup.neardup_accumulate):
    docs replay as an availableNow stream; each microbatch flags a doc
    iff any EARLIER doc shares one of its 4 15-bit SimHash bands, then
    merges the occupied-bucket table (band_idx, bk, min_id — bounded
    by configuration at 4 x 32k, the CMS-accumulator contract) back
    into parquet state. After the replay the accumulated output must
    equal the batch rule "shares a band with any smaller-id doc" — the
    DuckDB oracle states that rule directly, algorithm-free."""
    from rust_dms_cdc_operator_spark.operators.dedup import (  # noqa: PLC0415
        neardup_accumulate,
    )

    stream, dirs = _linked_stream(
        spark, sf_dir, "stream_neardup", "documents", "neardup_stream",
        "acc", "out",
    )

    def sink(batch_df: DataFrame, bid: int) -> None:
        # batch_id makes the output write idempotent (per-batch
        # dynamic-partition overwrite) under streaming batch replay
        neardup_accumulate(batch_df, dirs["acc"], dirs["out"], batch_id=bid)

    drain(stream, sink, dirs["ck"])
    return spark.read.parquet(dirs["out"]).drop("batch")


def _stream_neardup_oracle_sql(bits: int = 60, bands: int = 4) -> str:
    """Batch statement of the streaming rule: is_neardup iff a
    smaller-id doc shares >= 1 SimHash band. Reuses the 60-bit
    signature rendering of _simhash_hamming_oracle_sql."""
    width = bits // bands
    mask = (1 << width) - 1
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v_{b}"
        for b in range(bits)
    )
    sig = " + ".join(
        f"(CASE WHEN v_{b} > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(bits)
    )
    banded = " UNION ALL ".join(
        f"SELECT doc_id, (simhash >> {i * width}) & {mask} AS bk, "
        f"{i} AS band_idx FROM s"
        for i in range(bands)
    )
    return f"""
        WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                   FROM documents),
        h AS (SELECT doc_id, {_sql_hex_to_long('md5(word)', bits // 4)} AS h
              FROM w),
        v AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id),
        s AS (SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM v),
        banded AS ({banded}),
        dups AS (SELECT DISTINCT b.doc_id
                 FROM banded a JOIN banded b
                   ON a.band_idx = b.band_idx AND a.bk = b.bk
                  AND a.doc_id < b.doc_id)
        SELECT s.doc_id, s.simhash,
               (d.doc_id IS NOT NULL) AS is_neardup
        FROM s LEFT JOIN dups d ON d.doc_id = s.doc_id
    """


ORACLE_SQL_LLM["stream_neardup"] = _stream_neardup_oracle_sql()
QUERIES_LLM["stream_neardup"] = q_stream_neardup


def q_docs_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup census (operators/dedup.
    cdc_chunk_census — the LBFS/rsync boundary rule on word streams):
    cut after every word whose trailing 4-gram hashes 0 mod 64,
    dedup chunks corpus-wide by digest. Fixed segments (docs_segment_
    dedup) lose all downstream identity on one insertion; content-
    defined cuts resynchronize at the next hash boundary, so edited
    documents still dedup against their ancestors — the cross-version
    storage-dedup property, census form."""
    from rust_dms_cdc_operator_spark.operators.dedup import (  # noqa: PLC0415
        cdc_chunk_census,
    )

    d = _t(spark, sf_dir, "documents")
    return cdc_chunk_census(d, "doc_id", "text", gram=4, modulus=64)


ORACLE_SQL_LLM["docs_cdc_chunks"] = f"""
    WITH wsrc AS (SELECT doc_id, string_split(text, ' ') AS ws
                  FROM documents),
    words AS (SELECT doc_id, len(ws) AS n_words,
                     unnest(generate_series(1, len(ws))) AS pos, ws
              FROM wsrc),
    w2 AS (SELECT doc_id, n_words, pos, ws[pos] AS w FROM words),
    g0 AS (SELECT doc_id, unnest(generate_series(1, len(ws) - 3)) AS s, ws
           FROM wsrc WHERE len(ws) >= 4),
    cuts AS (SELECT doc_id, s + 3 AS pos
             FROM (SELECT doc_id, s,
                          md5(array_to_string(ws[s:s+3], ' ')) AS mh
                   FROM g0)
             WHERE {_sql_hex_to_long('mh', 8)} % 64 = 0),
    flagged AS (SELECT w.doc_id, w.n_words, w.pos, w.w,
                       (c.pos IS NOT NULL) AS cut
                FROM w2 w LEFT JOIN cuts c
                  ON c.doc_id = w.doc_id AND c.pos = w.pos),
    chunked AS (SELECT doc_id, n_words, pos, w,
                       COALESCE(sum(CASE WHEN cut THEN 1 ELSE 0 END)
                           OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), 0) AS chunk
                FROM flagged),
    chunks AS (SELECT doc_id, chunk,
                      any_value(n_words) AS n_words,
                      count(*) AS c_words,
                      md5(string_agg(w, ' ' ORDER BY pos)) AS digest
               FROM chunked GROUP BY doc_id, chunk),
    census AS (SELECT digest, count(*) AS occ FROM chunks GROUP BY digest)
    SELECT c.doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN s.occ >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_chunks,
           CAST(sum(CASE WHEN s.occ >= 2 THEN c.c_words ELSE 0 END)
             AS BIGINT) AS dup_words,
           CAST(any_value(c.n_words) AS BIGINT) AS n_words
    FROM chunks c JOIN census s USING (digest)
    GROUP BY c.doc_id
"""
QUERIES_LLM["docs_cdc_chunks"] = q_docs_cdc_chunks


def q_events_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen ROBUST trend of the per-type daily series: the lower
    median of all pairwise slopes (dy/dx over day pairs) — the
    breakdown-point-0.29 estimator that one anomalous day cannot
    drag, next to events_daily_trend's OLS (which it can). Slopes
    stay exact integer fractions until ONE float division; the median
    is an order-statistic pick (slope value, then (dy, dx) integer
    tie-breaks — fully deterministic), never an interpolating
    percentile. Pair volume is bounded by days²/2 per type — a
    calendar constant, not a data volume — so the self-join is safe
    at any corpus scale; the pick is one per-type window rank."""
    e = read_events(spark, sf_dir)
    daily = (
        e.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("y"))
        .withColumn(
            "x", F.datediff("day", F.to_date(F.lit("2024-01-01")))
        )
        .select("event_type", "x", "y")
    )
    a = daily.select(
        "event_type", F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = daily.select(
        "event_type", F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    pairs = a.join(b, "event_type").filter(F.col("xb") > F.col("xa")).select(
        "event_type",
        (F.col("yb") - F.col("ya")).alias("dy"),
        (F.col("xb") - F.col("xa")).alias("dx"),
    )
    slope = F.col("dy").cast("double") / F.col("dx").cast("double")
    w = Window.partitionBy("event_type").orderBy(
        slope.asc(), F.col("dy").asc(), F.col("dx").asc()
    )
    ranked = pairs.select(
        "event_type", "dy", "dx", F.row_number().over(w).alias("rn")
    )
    cnt = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    return (
        ranked.join(F.broadcast(cnt), "event_type")
        .filter(F.col("rn") == F.expr("(n_pairs + 1) div 2"))
        .select(
            "event_type",
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.round(
                F.col("dy").cast("double") / F.col("dx").cast("double"), 6
            ).alias("slope_med"),
        )
    )


ORACLE_SQL_LLM["events_theilsen_trend"] = """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS y
      FROM events GROUP BY 1, 2),
    d AS (SELECT event_type,
                 datediff('day', DATE '2024-01-01', day) AS x, y
          FROM daily),
    pairs AS (SELECT a.event_type,
                     b.y - a.y AS dy, b.x - a.x AS dx
              FROM d a JOIN d b
                ON a.event_type = b.event_type AND b.x > a.x),
    ranked AS (SELECT event_type, dy, dx,
                      row_number() OVER (
                        PARTITION BY event_type
                        ORDER BY dy::DOUBLE / dx::DOUBLE, dy, dx
                      ) AS rn,
                      count(*) OVER (PARTITION BY event_type) AS n_pairs
               FROM pairs)
    SELECT event_type,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           round(dy::DOUBLE / dx::DOUBLE, 6) AS slope_med
    FROM ranked
    WHERE rn = (n_pairs + 1) // 2
"""
QUERIES_LLM["events_theilsen_trend"] = q_events_theilsen_trend


def q_docs_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-Rank-Fusion hybrid retrieval (Cormack, Clarke &
    Buettcher, SIGIR 2009 — the standard RAG hybrid-search combiner):
    fuse the BM25 keyword ranking (shared _bm25_scored stage, fixed
    3-term query) with the embedding cosine ranking (vec_id=0 as the
    query embedding, doc_id = vec_id) by RRF_60: score(d) =
    Σ_rankings 1/(60 + rank_d), missing-from-a-ranking contributes 0.
    Rank lists cut at 50 per side (TakeOrderedAndProject — per-
    partition heaps), fused by one full outer join of two 50-row
    frames; floats appear only in the two reciprocal terms and one
    fixed-order addition, so scores hash-match cross-engine. The
    rank-based fusion needs NO score normalization across the two
    incomparable scales — why RRF beats score interpolation in
    production hybrid search."""
    bm = (
        _bm25_scored(spark, sf_dir)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(50)
        .select(
            "doc_id",
            F.row_number()
            .over(
                Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
            )
            .alias("r_bm25"),
        )
    )
    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") > 0)
    cos = cosine_topk(
        e, _query_vec(spark, sf_dir), "vec_id", "embedding", k=50
    ).select(
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(Window.orderBy(F.desc("cos_sim"), F.asc("vec_id")))
        .alias("r_cos"),
    )
    fused = bm.join(cos, "doc_id", "full_outer")
    score = F.round(
        F.coalesce(1.0 / (F.lit(60) + F.col("r_bm25")), F.lit(0.0))
        + F.coalesce(1.0 / (F.lit(60) + F.col("r_cos")), F.lit(0.0)),
        8,
    )
    return (
        fused.select(
            "doc_id",
            F.col("r_bm25").cast("long").alias("r_bm25"),
            F.col("r_cos").cast("long").alias("r_cos"),
            score.alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(10)
    )


ORACLE_SQL_LLM["docs_rrf_hybrid"] = """
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w
      FROM documents),
    w2 AS (SELECT doc_id, w FROM words WHERE w <> ''),
    dl AS (SELECT doc_id, count(*) AS dl FROM w2 GROUP BY 1),
    scal AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                    CAST(sum(dl) AS BIGINT) AS total_dl FROM dl),
    tf AS (SELECT doc_id, w, count(*) AS tf FROM w2
           WHERE w IN ('data', 'learning', 'model') GROUP BY 1, 2),
    dfx AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
    scored AS (
      SELECT t.doc_id,
             ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
             * (t.tf * 2.2)
             / (t.tf + 1.2 * (0.25 + 0.75 * l.dl
                / (CAST(s.total_dl AS DOUBLE) / s.n_docs))) AS c
      FROM tf t JOIN dfx d USING (w)
      JOIN dl l ON l.doc_id = t.doc_id
      CROSS JOIN scal s),
    bm0 AS (SELECT doc_id, round(sum(c), 6) AS bm25
            FROM scored GROUP BY doc_id
            ORDER BY bm25 DESC, doc_id ASC LIMIT 50),
    bm AS (SELECT doc_id,
                  row_number() OVER (ORDER BY bm25 DESC, doc_id ASC)
                    AS r_bm25
           FROM bm0),
    q AS (SELECT embedding::DOUBLE[] AS qv
          FROM embeddings WHERE vec_id = 0),
    cos0 AS (SELECT e.vec_id AS doc_id,
                    round(list_cosine_similarity(
                        e.embedding::DOUBLE[], q.qv), 6) AS cs
             FROM embeddings e, q WHERE e.vec_id > 0
             ORDER BY cs DESC, doc_id ASC LIMIT 50),
    cos AS (SELECT doc_id,
                   row_number() OVER (ORDER BY cs DESC, doc_id ASC)
                     AS r_cos
            FROM cos0)
    SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
           CAST(b.r_bm25 AS BIGINT) AS r_bm25,
           CAST(c.r_cos AS BIGINT) AS r_cos,
           round(COALESCE(1.0 / (60 + b.r_bm25), 0.0)
                 + COALESCE(1.0 / (60 + c.r_cos), 0.0), 8) AS rrf_score
    FROM bm b FULL OUTER JOIN cos c ON b.doc_id = c.doc_id
    ORDER BY rrf_score DESC, doc_id ASC LIMIT 10
"""
QUERIES_LLM["docs_rrf_hybrid"] = q_docs_rrf_hybrid


def q_mm_image_dhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE near-dup via perceptual difference hash: synthesize
    18x16 P6 gradient images ENTIRELY JVM-side (unhex of a
    transform-built pixel hex string — groups of 4 consecutive ids
    share a gradient, each id adds a uniform +0..2 brightness shift),
    hash them with the REAL Python raster path
    (functions/multimodal.image_dhash → mediacodec.dhash64: NN-resize
    9x8, integer BT.601 luminance, 64 gradient bits), then join
    near-dups with the signature-agnostic banded Hamming machinery
    (operators/dedup.hamming_pairs_from_signatures — the text SimHash
    blocking, reused verbatim on image hashes). dHash is brightness-
    shift-invariant, so each 4-id group collapses to hamming-0 pairs:
    6 pairs per group, LINEAR in corpus size by construction. The
    oracle computes the 64 gradient bits in closed form from doc_id
    arithmetic and replays the same banded join — JVM synth, Python
    raster parse, and SQL closed form must agree bit-for-bit."""
    from rust_dms_cdc_operator_spark.functions.multimodal import (  # noqa: PLC0415
        image_dhash,
    )
    from rust_dms_cdc_operator_spark.operators.dedup import (  # noqa: PLC0415
        hamming_pairs_from_signatures,
    )

    from rust_dms_cdc_operator_spark.session import (  # noqa: PLC0415
        scan_parallelism_floor,
    )

    # round 12: JVM pixel synthesis + the Python raster decode are the
    # compute-bound stages — floor their parallelism (no-op at scale)
    d = scan_parallelism_floor(
        _t(spark, sf_dir, "documents").select("doc_id")
    )
    # pixel i: x = i % 18, y = i div 18;
    # grey = (a*x + b*y + a*b*x*y) % 251 + c, emitted as 3 identical
    # hex bytes (r = g = b); a, b keyed by doc_id div 4, c by doc_id
    grey = (
        "(({a} * (i % 18) + {b} * (i div 18) "
        "+ {a} * {b} * (i % 18) * (i div 18)) % 251 + {c})"
    ).format(
        a="(17 + 23 * ((doc_id div 4) % 211))",
        b="(29 + 31 * ((doc_id div 4) % 191))",
        c="(doc_id % 3)",
    )
    px = f"lpad(hex({grey}), 2, '0')"
    # repeat(px, 3), not concat(px, px, px): HOF lambdas evaluate
    # INTERPRETED with no common-subexpression elimination, so the
    # concat form ran the modular pixel formula three times per pixel
    # (864 evaluations/row; measured round 12: synth stage 19.6 → 4.6
    # cpu-s, full query 1.8 → 1.0 s). Identical bytes — r = g = b.
    hexpix = F.expr(
        "array_join(transform(sequence(0, 287), i -> "
        f"repeat({px}, 3)), '')"
    )
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.concat(
            F.encode(F.lit("P6\n18 16\n255\n"), "UTF-8"), F.unhex(hexpix)
        ).alias("payload"),
    )
    sigs = image_dhash(media)
    return hamming_pairs_from_signatures(
        sigs, "media_id", "dhash", bits=64, bands=4, max_distance=3
    )


def _dhash_oracle_sql() -> str:
    """Closed-form dhash per doc (64 gradient bits from doc_id
    arithmetic; bit 63 adds the signed MIN_LONG instead of an
    overflowing 1<<63) + the identical banded Hamming join."""
    g = (
        "(((17 + 23 * ((d.doc_id // 4) % 211)) * {x} "
        "+ (29 + 31 * ((d.doc_id // 4) % 191)) * {y} "
        "+ (17 + 23 * ((d.doc_id // 4) % 211)) "
        "* (29 + 31 * ((d.doc_id // 4) % 191)) * {x} * {y}) % 251)"
    )
    # dhash bit n (n = y*8 + x): lum at (2(x+1), 2y) > lum at (2x, 2y)
    bit = (
        "(CASE WHEN " + g.format(x="(2 * ((n % 8) + 1))", y="(2 * (n // 8))")
        + " > " + g.format(x="(2 * (n % 8))", y="(2 * (n // 8))")
        + " THEN 1 ELSE 0 END)"
    )
    banded = " UNION ALL ".join(
        f"SELECT media_id, dhash, {i} AS band_idx, "
        f"(dhash >> {i * 16}) & 65535 AS bk FROM sigs"
        for i in range(4)
    )
    return f"""
        WITH bits AS (SELECT unnest(generate_series(0, 63)) AS n),
        sigs AS (
          SELECT d.doc_id AS media_id,
                 CAST(sum(CASE WHEN n = 63 THEN 0
                          ELSE {bit} * (1::BIGINT << n) END)
                      + sum(CASE WHEN n = 63 THEN
                            {bit} * 1 ELSE 0 END)
                        * (-9223372036854775807 - 1)
                   AS BIGINT) AS dhash
          FROM documents d CROSS JOIN bits
          GROUP BY d.doc_id),
        banded AS ({banded}),
        cand AS (SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
                        a.dhash AS sa, b.dhash AS sb
                 FROM banded a JOIN banded b
                   ON a.band_idx = b.band_idx AND a.bk = b.bk
                  AND a.media_id < b.media_id)
        SELECT id_a, id_b,
               CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
        FROM cand WHERE bit_count(xor(sa, sb)) <= 3
    """


ORACLE_SQL_LLM["mm_image_dhash_neardup"] = _dhash_oracle_sql()
QUERIES_LLM["mm_image_dhash_neardup"] = q_mm_image_dhash_neardup


def q_docs_dup_span_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-substring REMOVAL (operators/dedup.dup_span_remove —
    the transform half of docs_dup_spans): every corpus-duplicated
    >= 5-word span is cut from every document (the strictest
    Lee/Ippolito policy); output is the cleaned corpus with removal
    accounting, clean_text NULL for fully-boilerplate docs."""
    from rust_dms_cdc_operator_spark.operators.dedup import (  # noqa: PLC0415
        dup_span_remove,
    )

    d = _t(spark, sf_dir, "documents")
    return dup_span_remove(d, "doc_id", "text", window=5, min_occurrences=2)


ORACLE_SQL_LLM["docs_dup_span_clean"] = """
    WITH wsrc AS (SELECT doc_id, string_split(text, ' ') AS ws
                  FROM documents),
    g0 AS (SELECT doc_id, ws,
                  unnest(generate_series(1, len(ws) - 4)) AS pos
           FROM wsrc WHERE len(ws) >= 5),
    g1 AS (SELECT doc_id, pos,
                  substr(md5(array_to_string(ws[pos:pos+4], ' ')), 1, 12)
                    AS gh
           FROM g0),
    dup AS (SELECT gh FROM g1 GROUP BY gh HAVING count(*) >= 2),
    seeds AS (SELECT g.doc_id, g.pos FROM g1 g JOIN dup USING (gh)),
    covered AS (SELECT DISTINCT doc_id, pos + i AS pos
                FROM seeds, unnest(generate_series(0, 4)) t(i)),
    words AS (SELECT doc_id, len(ws) AS n_words,
                     unnest(generate_series(1, len(ws))) AS pos, ws
              FROM wsrc),
    w2 AS (SELECT doc_id, n_words, pos, ws[pos] AS w FROM words),
    kept AS (SELECT w.doc_id, w.n_words, w.pos, w.w
             FROM w2 w ANTI JOIN covered c
               ON c.doc_id = w.doc_id AND c.pos = w.pos),
    rebuilt AS (SELECT doc_id, count(*) AS n_kept,
                       string_agg(w, ' ' ORDER BY pos) AS clean_text
                FROM kept GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(len(d.ws) AS BIGINT) AS n_words,
           CAST(len(d.ws) - COALESCE(r.n_kept, 0) AS BIGINT)
             AS n_removed,
           r.clean_text
    FROM wsrc d LEFT JOIN rebuilt r USING (doc_id)
"""
QUERIES_LLM["docs_dup_span_clean"] = q_docs_dup_span_clean


def q_events_mad_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD ROBUST anomaly detection over the hourly series —
    the breakdown-resistant companion to events_anomaly_hours'
    mean/sigma z-score (one loud hour inflates sigma and masks its
    neighbors; the median absolute deviation budges only past 50%
    contamination — Hampel's rule). Hours with
    |cnt - median| > 5 * MAD, both medians as LOWER-median order
    statistics over integer counts — the entire decision is integer
    comparisons, immune to float rounding on any engine. Plan: one
    (type, hour) aggregation, two type-keyed window ranks (the same
    exchange reused), one broadcast of the per-type scalars."""
    e = read_events(spark, sf_dir)
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket_ts")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w1 = Window.partitionBy("event_type").orderBy(
        F.col("cnt").asc(), F.col("bucket_ts").asc()
    )
    ranked = hourly.withColumn("rn", F.row_number().over(w1)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("event_type"))
    )
    med = ranked.filter(
        F.col("rn") == F.expr("(n + 1) div 2")
    ).select("event_type", F.col("cnt").alias("med"))
    dev = hourly.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("cnt") - F.col("med"))
    )
    w2 = Window.partitionBy("event_type").orderBy(
        F.col("adev").asc(), F.col("bucket_ts").asc()
    )
    ranked2 = dev.withColumn("rn", F.row_number().over(w2)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("event_type"))
    )
    mad = ranked2.filter(
        F.col("rn") == F.expr("(n + 1) div 2")
    ).select("event_type", F.col("adev").alias("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(F.col("adev") > 5 * F.col("mad"))
        .select(
            "event_type",
            "bucket_ts",
            F.col("cnt").cast("long").alias("cnt"),
            F.col("med").cast("long").alias("med"),
            F.col("mad").cast("long").alias("mad"),
        )
    )


ORACLE_SQL_LLM["events_mad_anomalies"] = """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
             count(*) AS cnt
      FROM events GROUP BY 1, 2),
    r1 AS (SELECT event_type, bucket_ts, cnt,
                  row_number() OVER (PARTITION BY event_type
                                     ORDER BY cnt, bucket_ts) AS rn,
                  count(*) OVER (PARTITION BY event_type) AS n
           FROM hourly),
    med AS (SELECT event_type, cnt AS med FROM r1
            WHERE rn = (n + 1) // 2),
    dev AS (SELECT h.event_type, h.bucket_ts, h.cnt, m.med,
                   abs(h.cnt - m.med) AS adev
            FROM hourly h JOIN med m USING (event_type)),
    r2 AS (SELECT event_type, adev,
                  row_number() OVER (PARTITION BY event_type
                                     ORDER BY adev, bucket_ts) AS rn,
                  count(*) OVER (PARTITION BY event_type) AS n
           FROM dev),
    mad AS (SELECT event_type, adev AS mad FROM r2
            WHERE rn = (n + 1) // 2)
    SELECT d.event_type, d.bucket_ts,
           CAST(d.cnt AS BIGINT) AS cnt,
           CAST(d.med AS BIGINT) AS med,
           CAST(x.mad AS BIGINT) AS mad
    FROM dev d JOIN mad x USING (event_type)
    WHERE d.adev > 5 * x.mad
"""
QUERIES_LLM["events_mad_anomalies"] = q_events_mad_anomalies


def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAST-TOUCH revenue attribution: every purchase credits the
    user's most recent PRECEDING non-purchase event (the touchpoint),
    rolled up per touch channel with purchase counts and exact
    milli-value sums; purchases with no prior touch report as
    '(none)' — the unattributable direct bucket every marketing
    report needs called out, not dropped. One per-user window
    (last_value IGNORE NULLS over the (ts, event_id) total order —
    the same engine-pinned frame semantics on Spark and DuckDB), one
    channel rollup; no self-join, no per-purchase scan-back."""
    e = read_events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touched = e.withColumn(
        "touch",
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignorenulls=True,
        ).over(w),
    )
    return (
        touched.filter(F.col("event_type") == "purchase")
        .groupBy(
            F.coalesce(F.col("touch"), F.lit("(none)")).alias("channel")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.sum(F.round(F.col("value") * 1000).cast("long"))
            .cast("long")
            .alias("value_milli"),
        )
    )


ORACLE_SQL_LLM["events_attribution"] = """
    WITH touched AS (
      SELECT event_type, value,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS touch
      FROM events)
    SELECT COALESCE(touch, '(none)') AS channel,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(CAST(round(value * 1000, 0) AS BIGINT)) AS BIGINT)
             AS value_milli
    FROM touched WHERE event_type = 'purchase'
    GROUP BY 1
"""
QUERIES_LLM["events_attribution"] = q_events_attribution


def q_dedup_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core membership of the near-dup candidate graph
    (operators/graph.kcore_membership, k=2, 4 unrolled peel sweeps):
    documents that survive 2-core peeling sit in dense duplicate
    structure (template cliques), while pairs that collided on one
    LSH band by luck hang off the graph as degree-1 whiskers and
    peel away — a purely structural precision filter that needs no
    second look at the text. The sweep schedule is part of the
    contract, so the 4-level unrolled SQL oracle reproduces the
    output exactly, converged or not."""
    from rust_dms_cdc_operator_spark.operators.graph import (  # noqa: PLC0415
        kcore_membership,
    )

    d = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(d, "doc_id", "text", num_hashes=16, bands=2)
    # round 12 materialized a checkpoint leaf here; round 13: the
    # UNCAPPED pair stream is corpus-quadratic (~200M rows at native
    # sf1) and ANY checkpoint of it serializes every row through the
    # block store — deserialized blocks OOMed the r12 local[32]
    # bench, and DISK_ONLY measured 3x the cpu of an eager cache
    # (sf1/32c A/B in materialize_leaf's docstring). The eager cache
    # still halves the band-join evaluations for the symmetric
    # adjacency build and kills the fan-out cold-cache race, without
    # the serialization tax (pagerank sf1: 129 s ckpt / 48 s bare /
    # 38 s cache).
    return kcore_membership(
        materialize_cache(pairs), k=2, rounds=4, assume_distinct=True
    )


def _kcore_oracle_sql(
    k: int = 2, rounds: int = 4, max_bucket: int | None = None
) -> str:
    """Unrolled-sweep SQL mirror of graph.kcore_membership: each peel
    sweep is one HAVING-filtered degree census + two endpoint joins,
    the same deletion schedule the Spark loop runs."""
    # MATERIALIZED: each g{i}/k{i} is referenced 2-3 times down the
    # chain; DuckDB inlines plain CTEs per reference, which turns the
    # unrolled chain into EXPONENTIAL re-evaluation of the pair block
    # (>20 min at native sf1 where the forced-materialized form is
    # linear). Pure evaluation hint — identical rows at every scale.
    steps = []
    for i in range(rounds):
        steps.append(f"""
    k{i} AS MATERIALIZED (SELECT src FROM g{i} GROUP BY src
             HAVING count(*) >= {k}),
    g{i + 1} AS MATERIALIZED (SELECT g.src, g.dst FROM g{i} g
            JOIN k{i} a ON g.src = a.src
            JOIN k{i} b ON g.dst = b.src)""")
    return f"""
    WITH e AS MATERIALIZED (
      SELECT DISTINCT id_a, id_b FROM ({_minhash_sql(16, 2, max_bucket)})),
    g0 AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM e
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM e),
    {','.join(steps)}
    SELECT src AS node, CAST(count(*) AS BIGINT) AS core_deg
    FROM g{rounds} GROUP BY src
    """


ORACLE_SQL_LLM["dedup_kcore"] = _kcore_oracle_sql(2, 4)
QUERIES_LLM["dedup_kcore"] = q_dedup_kcore


def q_docs_stratified_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-100-document stratified eval sample
    (operators/split.stratified_quota_sample): largest-remainder
    apportionment by source, md5-ranked winners within each stratum,
    8x-oversampled hash prune so the per-stratum rank never sorts a
    whole stratum. Rate-based sampling (docs_training_mix's shape)
    lands NEAR the target; eval-set construction needs the exact-k
    contract checked here — quotas, prune, and ranks are all integer
    arithmetic the oracle replays bit-for-bit."""
    from rust_dms_cdc_operator_spark.operators.split import (  # noqa: PLC0415
        stratified_quota_sample,
    )

    d = _t(spark, sf_dir, "documents")
    return stratified_quota_sample(d, "doc_id", "source", k=100)


ORACLE_SQL_LLM["docs_stratified_quota"] = f"""
    WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s
               FROM documents GROUP BY 1),
    g AS (SELECT CAST(sum(n_s) AS BIGINT) AS n, CAST(100 AS BIGINT) AS k
          FROM c),
    a AS (SELECT c.source, c.n_s,
                 (g.k * c.n_s) // g.n AS base,
                 (g.k * c.n_s) % g.n AS rem
          FROM c, g),
    s AS (SELECT a.*, row_number() OVER (ORDER BY rem DESC, source) AS rr
          FROM a),
    q AS (SELECT source, n_s,
                 base + CASE WHEN rr <= (SELECT k FROM g)
                                         - (SELECT sum(base) FROM a)
                             THEN 1 ELSE 0 END AS quota
          FROM s),
    h AS (SELECT doc_id, source,
                 {_sql_hex_to_long(
                     "md5(doc_id::VARCHAR || 'quota')", 8)} AS hk
          FROM documents),
    surv AS (SELECT h.doc_id, h.source, h.hk, q.quota
             FROM h JOIN q USING (source)
             WHERE h.hk < least((8 * q.quota * 4294967296) // q.n_s,
                                4294967296)),
    r AS (SELECT *, row_number() OVER (
            PARTITION BY source ORDER BY hk, doc_id) AS rn
          FROM surv)
    SELECT doc_id, source, CAST(rn AS BIGINT) AS rank_in_stratum,
           CAST(quota AS BIGINT) AS quota
    FROM r WHERE rn <= quota
"""
QUERIES_LLM["docs_stratified_quota"] = q_docs_stratified_quota


def q_docs_rareterm_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARSE nearest neighbors over rare-shingle posting lists — the
    inverted-index twin of dedup_embedding_neardup: candidate pairs
    come only from co-occurrence in a RARE word-3-gram's posting list
    (2 <= df <= 20), scored by shared-rare-gram count and the Dice
    coefficient 2*shared/(n_a + n_b) (one IEEE division of exact
    integers — bit-identical cross-engine), top-3 neighbors per
    document (3-grams, not unigrams: this corpus's unigram vocabulary
    is ~31 template words, all stopword-frequency).

    Scale shape: the df cap is the whole argument — pair volume is
    sum over rare grams of df^2 <= 20 * sum(df) = 20x the posting
    entries, LINEAR in the corpus (an uncapped self-join on a
    boilerplate gram would be corpus-quadratic; high-df grams carry
    no discrimination anyway, which is why every production sparse
    retriever df-prunes — and the cap also hard-bounds per-key join
    skew at 20x20). One shingle explode, one vocab-keyed df join, one
    bounded posting self-join, two id-keyed size joins over the
    candidate stream; top-3 via WindowGroupLimit on the bounded
    directed stream."""
    from rust_dms_cdc_operator_spark.operators.dedup import (  # noqa: PLC0415
        shingle_set,
    )

    d = _t(spark, sf_dir, "documents")
    w = d.select(
        "doc_id", F.explode(shingle_set(F.col("text"), 3)).alias("term")
    )
    dfreq = w.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # materialized once: feeds the size census and both posting-join
    # sides
    rare = materialize_cache(
        w.join(
            dfreq.filter((F.col("df") >= 2) & (F.col("df") <= 20)), "term"
        ).select("doc_id", "term")
    )
    na = rare.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_rare"))
    a = rare.select(F.col("doc_id").alias("id_a"), "term")
    b = rare.select(F.col("doc_id").alias("id_b"), "term")
    p = (
        a.join(b, "term")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    directed = p.select(
        F.col("id_a").alias("doc_id"),
        F.col("id_b").alias("neighbor_id"),
        "shared",
    ).unionByName(
        p.select(
            F.col("id_b").alias("doc_id"),
            F.col("id_a").alias("neighbor_id"),
            "shared",
        )
    )
    scored = (
        directed.join(na, "doc_id")
        .join(
            na.select(
                F.col("doc_id").alias("neighbor_id"),
                F.col("n_rare").alias("n_rare_b"),
            ),
            "neighbor_id",
        )
        .select(
            "doc_id",
            "neighbor_id",
            F.col("shared").cast("long").alias("shared"),
            (
                (F.col("shared") * 2).cast("double")
                / (F.col("n_rare") + F.col("n_rare_b"))
            ).alias("dice"),
        )
    )
    wr = Window.partitionBy("doc_id").orderBy(
        F.col("shared").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= 3)
        .withColumn("rn", F.col("rn").cast("long"))
    )


ORACLE_SQL_LLM["docs_rareterm_neighbors"] = f"""
    WITH {_SHINGLES},
    w AS (SELECT doc_id, unnest(s) AS term FROM sh),
    dfreq AS (SELECT term, count(*) AS df FROM w GROUP BY 1),
    rare AS (SELECT w.doc_id, w.term
             FROM w JOIN dfreq USING (term)
             WHERE df BETWEEN 2 AND 20),
    na AS (SELECT doc_id, count(*) AS n_rare FROM rare GROUP BY 1),
    p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 count(*) AS shared
          FROM rare a JOIN rare b
            ON a.term = b.term AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
    directed AS (
      SELECT id_a AS doc_id, id_b AS neighbor_id, shared FROM p
      UNION ALL
      SELECT id_b AS doc_id, id_a AS neighbor_id, shared FROM p),
    scored AS (
      SELECT d.doc_id, d.neighbor_id,
             CAST(d.shared AS BIGINT) AS shared,
             CAST(2 * d.shared AS DOUBLE) / (x.n_rare + y.n_rare)
               AS dice
      FROM directed d
      JOIN na x ON x.doc_id = d.doc_id
      JOIN na y ON y.doc_id = d.neighbor_id),
    r AS (SELECT *, row_number() OVER (
            PARTITION BY doc_id
            ORDER BY shared DESC, neighbor_id) AS rn
          FROM scored)
    SELECT doc_id, neighbor_id, shared, dice, CAST(rn AS BIGINT) AS rn
    FROM r WHERE rn <= 3
"""
QUERIES_LLM["docs_rareterm_neighbors"] = q_docs_rareterm_neighbors


def q_docs_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy per-source selection under a token budget — the 'fill
    the training mix to N tokens per source' step every pretraining
    pipeline runs after scoring: rank documents within each source by
    lexical density (distinct tokens / total tokens — one IEEE
    division of exact integers, bit-identical cross-engine), then
    admit documents in rank order while the running token total stays
    within the source's budget (here half its total tokens, so the
    query is scale-free).

    Scale shape: one tokenize pass (no explode — size/array_distinct
    are per-row expressions), one source-key agg for budgets (rows =
    #sources), one source-partitioned window for the running sum
    (each source's documents sort within its partition — no global
    ordering), one broadcast-sized budget join. The cumulative sum is
    exact integer arithmetic; doubles appear only in the ordering
    key, computed identically by both engines."""
    d = _t(spark, sf_dir, "documents")
    per = d.select(
        "doc_id",
        "source",
        F.regexp_extract_all(
            F.col("text"), F.lit("[a-z0-9]+"), 0
        ).alias("w"),
    ).select(
        "doc_id",
        "source",
        F.size("w").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("w")).cast("long").alias("n_distinct"),
    ).filter(F.col("n_tokens") > 0)
    budgets = per.groupBy("source").agg(
        F.expr("sum(n_tokens) div 2").alias("budget")
    )
    density = (
        F.col("n_distinct").cast("double") / F.col("n_tokens")
    ).alias("density")
    wsum = (
        Window.partitionBy("source")
        .orderBy(F.col("density").desc(), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = per.select(
        "doc_id", "source", "n_tokens", density
    ).withColumn("cum_tokens", F.sum("n_tokens").over(wsum))
    return ranked.join(budgets, "source").filter(
        F.col("cum_tokens") <= F.col("budget")
    ).select("doc_id", "source", "n_tokens", "density", "cum_tokens")


ORACLE_SQL_LLM["docs_token_budget_select"] = """
    WITH per AS (
      SELECT doc_id, source,
             CAST(len(w) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct
      FROM (SELECT doc_id, source,
                   regexp_extract_all(text, '[a-z0-9]+') AS w
            FROM documents)
      WHERE len(w) > 0),
    b AS (SELECT source, sum(n_tokens) // 2 AS budget
          FROM per GROUP BY 1),
    r AS (
      SELECT doc_id, source, n_tokens,
             CAST(n_distinct AS DOUBLE) / n_tokens AS density,
             sum(n_tokens) OVER (
               PARTITION BY source
               ORDER BY CAST(n_distinct AS DOUBLE) / n_tokens DESC, doc_id
               ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM per)
    SELECT r.doc_id, r.source, r.n_tokens, r.density,
           CAST(r.cum_tokens AS BIGINT) AS cum_tokens
    FROM r JOIN b USING (source)
    WHERE r.cum_tokens <= b.budget
"""
QUERIES_LLM["docs_token_budget_select"] = q_docs_token_budget_select


def q_dedup_semantic_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic near-duplicate candidates
    (operators/similarity.semantic_dedup_pairs): intra-cluster pairs
    with cosine >= 0.3. The cluster count follows the corpus
    (:func:`_density_n_lists`, the 'ivfd' artifact sim_knn_density
    deploys), so pair volume per row stays ~constant — a fixed count
    went 41x in wall at 10x data. At every driver scale the rule lands
    on 8 lists, the shared sim_ivf_trained artifact."""
    from rust_dms_cdc_operator_spark.operators.similarity import (  # noqa: PLC0415
        semantic_dedup_pairs,
    )

    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") > 0)
    return semantic_dedup_pairs(e, _trained_density_cents(spark, sf_dir), 0.3)


def _semantic_pairs_oracle_sql(cents=None) -> str:
    """dedup_semantic_pairs oracle: same trained-centroid literals as
    _ivf_trained_oracle_sql (sf0.01 constants by default; per-sf via
    oracle_sql_overrides), assignment by the identical rounded-cosine
    argmax, intra-cluster pairs only, cosine rounded to 6 before the
    threshold so both engines make the same keep/drop decision."""
    if cents is None:
        from rust_dms_cdc_operator_spark.ivf_constants import (  # noqa: PLC0415
            _IVF_TRAINED_CENTROIDS_SF001 as cents,
        )
    rows = ",\n          ".join(
        f"({i}, {c}::DOUBLE[])" for i, c in enumerate(cents)
    )
    return f"""
        WITH cents AS (
          SELECT * FROM (VALUES
          {rows}
          ) AS t(cid, cemb)
        ),
        assign AS (
          SELECT e.vec_id, c.cid,
                 row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY round(list_cosine_similarity(
                       e.embedding::DOUBLE[], c.cemb), 6) DESC, c.cid
                 ) AS rn
          FROM embeddings e CROSS JOIN cents c WHERE e.vec_id > 0
        ),
        a AS (SELECT vec_id, cid AS cluster FROM assign WHERE rn = 1),
        cand AS (
          SELECT x.vec_id AS id_a, y.vec_id AS id_b, x.cluster
          FROM a x JOIN a y
            ON x.cluster = y.cluster AND x.vec_id < y.vec_id
        ),
        s AS (
          SELECT c.id_a, c.id_b, CAST(c.cluster AS BIGINT) AS cluster,
                 round(list_cosine_similarity(
                   ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 6)
                   AS cos_sim
          FROM cand c
          JOIN embeddings ea ON ea.vec_id = c.id_a
          JOIN embeddings eb ON eb.vec_id = c.id_b
        )
        SELECT id_a, id_b, cluster, cos_sim FROM s WHERE cos_sim >= 0.3
    """


ORACLE_SQL_LLM["dedup_semantic_pairs"] = _semantic_pairs_oracle_sql()
QUERIES_LLM["dedup_semantic_pairs"] = q_dedup_semantic_pairs


def q_docs_backoff_crossppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out trigram LM scoring with stupid backoff — the
    cross-corpus perplexity gate: train counts on the even-doc_id
    half (the 'curated reference'), score the odd half. Unlike the
    self-trained unigram/bigram scores (where every n-gram of a doc
    is in its own training set), held-out docs contain genuinely
    UNSEEN trigrams, so the backoff chain actually fires:

        s(w3|w1w2) = c3/c2            if the trigram was seen
                   = 0.4 * c2b/c1     else if bigram (w2,w3) seen
                   = 0.16 * c1(w3)/N  else  (0 -> OOV floor 0.16/N)

    Per doc: n_trigrams, n_unseen (backed-off positions — exact
    integers), and the mean -ln(s) rounded to 6 (ulp-level
    summation-order noise sits far below the rounding step, the
    unigram_logppl argument). Scale shape: count tables are
    vocabulary-sized (map-side partial agg before each shuffle);
    scoring is three n-gram-key joins that AQE broadcasts when the
    vocab side fits; one doc-key agg. All JVM-side expressions."""
    d = _t(spark, sf_dir, "documents")
    words = d.select(
        "doc_id",
        F.regexp_extract_all(F.col("text"), F.lit("[a-z0-9]+"), 0).alias("w"),
    )
    train_w = words.filter(F.col("doc_id") % 2 == 0)
    # sequence(1, 0) in Spark is DESCENDING [1, 0], not empty — guard
    # short docs explicitly so both engines emit zero n-grams
    tri = F.when(
        F.size("w") >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size("w") - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at("w", i),
                F.element_at("w", i + 1),
                F.element_at("w", i + 2),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    big = F.when(
        F.size("w") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("w") - 1),
            lambda i: F.concat_ws(
                " ", F.element_at("w", i), F.element_at("w", i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    c3 = (
        train_w.select(F.explode(tri).alias("g"))
        .groupBy("g").agg(F.count(F.lit(1)).alias("c3"))
    )
    c2 = (
        train_w.select(F.explode(big).alias("g"))
        .groupBy("g").agg(F.count(F.lit(1)).alias("c2"))
    )
    c1 = (
        train_w.select(F.explode("w").alias("tok"))
        .groupBy("tok").agg(F.count(F.lit(1)).alias("c1"))
    )
    total = c1.agg(F.sum("c1")).first()[0] or 1  # bounded driver scalar
    held = words.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", F.explode(tri).alias("g")
    ).select(
        "doc_id",
        "g",
        F.concat_ws(
            " ",
            F.split_part(F.col("g"), F.lit(" "), F.lit(1)),
            F.split_part(F.col("g"), F.lit(" "), F.lit(2)),
        ).alias("ctx"),
        F.concat_ws(
            " ",
            F.split_part(F.col("g"), F.lit(" "), F.lit(2)),
            F.split_part(F.col("g"), F.lit(" "), F.lit(3)),
        ).alias("suf"),
        F.split_part(F.col("g"), F.lit(" "), F.lit(3)).alias("w3"),
    )
    scored = (
        held.join(c3, held["g"] == c3["g"], "left").drop(c3["g"])
        .join(c2.select(F.col("g").alias("ctx"), "c2"), "ctx", "left")
        .join(
            c2.select(F.col("g").alias("suf"), F.col("c2").alias("c2b")),
            "suf",
            "left",
        )
        .join(c1.select(F.col("tok").alias("suf_w2"), F.col("c1").alias("c1b")),
              F.split_part(F.col("suf"), F.lit(" "), F.lit(1)) == F.col("suf_w2"),
              "left")
        .join(c1.select(F.col("tok").alias("w3"), F.col("c1").alias("c1w")),
              "w3", "left")
        .select(
            "doc_id",
            F.when(
                F.col("c3").isNotNull(),
                F.col("c3").cast("double") / F.col("c2"),
            )
            .when(
                F.col("c2b").isNotNull(),
                F.lit(0.4) * F.col("c2b") / F.col("c1b"),
            )
            .otherwise(
                F.lit(0.16)
                * F.coalesce(F.col("c1w"), F.lit(1)).cast("double")
                / F.lit(float(total))
            )
            .alias("s"),
            F.col("c3").isNull().cast("long").alias("unseen"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_trigrams"),
        F.sum("unseen").alias("n_unseen"),
        F.round(-F.avg(F.log("s")), 6).alias("log_ppl3"),
    )


ORACLE_SQL_LLM["docs_backoff_crossppl"] = """
    WITH words AS (
      SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS w
      FROM documents),
    tri AS (
      SELECT doc_id,
             unnest(list_transform(
               range(greatest(len(w) - 2, 0)),
               i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS g
      FROM words),
    big AS (
      SELECT doc_id,
             unnest(list_transform(
               range(greatest(len(w) - 1, 0)),
               i -> w[i+1] || ' ' || w[i+2])) AS g
      FROM words),
    uni AS (SELECT doc_id, unnest(w) AS tok FROM words),
    c3 AS (SELECT g, count(*) AS c3 FROM tri WHERE doc_id % 2 = 0 GROUP BY 1),
    c2 AS (SELECT g, count(*) AS c2 FROM big WHERE doc_id % 2 = 0 GROUP BY 1),
    c1 AS (SELECT tok, count(*) AS c1 FROM uni WHERE doc_id % 2 = 0 GROUP BY 1),
    tot AS (SELECT sum(c1)::DOUBLE AS total FROM c1),
    held AS (
      SELECT doc_id, g,
             split_part(g, ' ', 1) || ' ' || split_part(g, ' ', 2) AS ctx,
             split_part(g, ' ', 2) || ' ' || split_part(g, ' ', 3) AS suf,
             split_part(g, ' ', 2) AS w2,
             split_part(g, ' ', 3) AS w3
      FROM tri WHERE doc_id % 2 = 1),
    scored AS (
      SELECT h.doc_id,
             CASE
               WHEN t3.c3 IS NOT NULL THEN t3.c3::DOUBLE / t2.c2
               WHEN t2b.c2 IS NOT NULL THEN 0.4 * t2b.c2 / u2.c1
               ELSE 0.16 * coalesce(u3.c1, 1)::DOUBLE / tot.total
             END AS s,
             CAST(t3.c3 IS NULL AS BIGINT) AS unseen
      FROM held h
      LEFT JOIN c3 t3 ON t3.g = h.g
      LEFT JOIN c2 t2 ON t2.g = h.ctx
      LEFT JOIN c2 t2b ON t2b.g = h.suf
      LEFT JOIN c1 u2 ON u2.tok = h.w2
      LEFT JOIN c1 u3 ON u3.tok = h.w3
      CROSS JOIN tot)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_trigrams,
           CAST(sum(unseen) AS BIGINT) AS n_unseen,
           round(-avg(ln(s)), 6) AS log_ppl3
    FROM scored GROUP BY doc_id
"""
QUERIES_LLM["docs_backoff_crossppl"] = q_docs_backoff_crossppl


def q_events_cumulative_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: per-day NEW users and the cumulative
    distinct-user count, via the first-seen trick — a running
    COUNT(DISTINCT) over an ever-growing window is a scale cliff, but
    min(date) per user turns it into one user-key agg plus a
    date-grain cumsum. The window is ordered over the DAILY aggregate
    (rows = calendar days, bounded regardless of corpus size), so the
    single-partition sort Spark warns about holds a few hundred rows,
    not the corpus."""
    e = _t(spark, sf_dir, "events")
    first = e.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day")
    )
    daily = first.groupBy("first_day").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.orderBy("first_day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return daily.select(
        "first_day",
        "new_users",
        F.sum("new_users").over(w).alias("cum_users"),
    )


ORACLE_SQL_LLM["events_cumulative_uniques"] = """
    WITH first AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS first_day
      FROM events GROUP BY 1),
    daily AS (
      SELECT first_day, CAST(count(*) AS BIGINT) AS new_users
      FROM first GROUP BY 1)
    SELECT first_day, new_users,
           CAST(sum(new_users) OVER (
             ORDER BY first_day ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_users
    FROM daily
"""
QUERIES_LLM["events_cumulative_uniques"] = q_events_cumulative_uniques


def q_orders_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration per market segment: the Gini coefficient
    via the rank formula G = (2*S1 - (n+1)*S) / (n*S) with S1 =
    sum(i * x_i) over prices sorted ascending (ties broken by order
    key — identical total order on both engines). The curation twin
    is 'how concentrated is my training data over sources'; here it
    is the classic revenue-inequality census. One customer-key join
    (AQE broadcasts the customer side at small sf; at 100 TB both
    sides shuffle on the key), one segment-partitioned window rank,
    one segment agg. Sums are IEEE doubles accumulated in
    partial-agg order; the final round(6) sits ~8 digits above the
    ulp noise (the unigram_logppl argument)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    j = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        "c_mktsegment", "o_orderkey", "o_totalprice"
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        "o_totalprice", "o_orderkey"
    )
    r = j.withColumn("i", F.row_number().over(w).cast("long"))
    return (
        r.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_totalprice").alias("_s"),
            F.sum(F.col("i") * F.col("o_totalprice")).alias("_s1"),
        )
        .select(
            "c_mktsegment",
            "n_orders",
            F.round(F.col("_s"), 2).alias("total_revenue"),
            F.round(
                (2.0 * F.col("_s1") - (F.col("n_orders") + 1) * F.col("_s"))
                / (F.col("n_orders") * F.col("_s")),
                6,
            ).alias("gini"),
        )
    )


ORACLE_SQL_LLM["orders_revenue_gini"] = """
    WITH j AS (
      SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
    r AS (
      SELECT c_mktsegment, o_totalprice,
             CAST(row_number() OVER (
               PARTITION BY c_mktsegment
               ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS i
      FROM j),
    a AS (
      SELECT c_mktsegment,
             CAST(count(*) AS BIGINT) AS n_orders,
             sum(o_totalprice) AS s,
             sum(i * o_totalprice) AS s1
      FROM r GROUP BY 1)
    SELECT c_mktsegment, n_orders,
           round(s, 2) AS total_revenue,
           round((2.0 * s1 - (n_orders + 1) * s) / (n_orders * s), 6)
             AS gini
    FROM a
"""
QUERIES_LLM["orders_revenue_gini"] = q_orders_revenue_gini


def q_orders_stats_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-statistics pruning effectiveness under two physical
    layouts — the lakehouse argument for clustered writes, measured:
    orders are packed 1000 rows per file either date-sorted or
    key-sorted (the global rank comes from operators/chunk.
    with_global_rank — boundary-bucketed two-pass rank, NO
    single-partition window), each file keeps min/max(o_orderdate)
    as its footer stats, and a one-month predicate counts how many
    files a stats-based pruner skips. Date-sorted: all but ~one file
    pruned; key-sorted: nothing prunes — the exact effect OPTIMIZE
    ZORDER/ORDER BY buys at 100 TB, here as a hash-checked census."""
    from rust_dms_cdc_operator_spark.operators.chunk import (  # noqa: PLC0415
        with_global_rank,
    )

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.to_date("o_orderdate").alias("od")
    )
    lo, hi = F.lit("1996-03-01").cast("date"), F.lit("1996-03-31").cast("date")
    outs = []
    for layout, cols in (
        ("date_sorted", ["od", "o_orderkey"]),
        ("key_sorted", ["o_orderkey"]),
    ):
        files = (
            with_global_rank(o, cols, rank_col="_rk")
            .select(F.expr("(_rk - 1) div 1000").alias("file_id"), "od")
            .groupBy("file_id")
            .agg(
                F.min("od").alias("dmin"),
                F.max("od").alias("dmax"),
                F.count(F.lit(1)).alias("rows_n"),
            )
        )
        outs.append(
            files.agg(
                F.count(F.lit(1)).alias("n_files"),
                F.sum(
                    ((F.col("dmax") < lo) | (F.col("dmin") > hi)).cast("long")
                ).alias("files_pruned"),
                F.sum(
                    F.when(
                        (F.col("dmax") >= lo) & (F.col("dmin") <= hi),
                        F.col("rows_n"),
                    ).otherwise(F.lit(0))
                ).alias("rows_scanned"),
            ).select(F.lit(layout).alias("layout"), "*")
        )
    return outs[0].unionByName(outs[1])


ORACLE_SQL_LLM["orders_stats_pruning"] = """
    WITH o AS (
      SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od FROM orders),
    l1 AS (
      SELECT od, (row_number() OVER (ORDER BY od, o_orderkey) - 1) // 1000
               AS file_id
      FROM o),
    l2 AS (
      SELECT od, (row_number() OVER (ORDER BY o_orderkey) - 1) // 1000
               AS file_id
      FROM o),
    f1 AS (SELECT file_id, min(od) dmin, max(od) dmax, count(*) rows_n
           FROM l1 GROUP BY 1),
    f2 AS (SELECT file_id, min(od) dmin, max(od) dmax, count(*) rows_n
           FROM l2 GROUP BY 1),
    s1 AS (
      SELECT 'date_sorted' AS layout,
             CAST(count(*) AS BIGINT) AS n_files,
             CAST(sum(CASE WHEN dmax < DATE '1996-03-01'
                             OR dmin > DATE '1996-03-31'
                           THEN 1 ELSE 0 END) AS BIGINT) AS files_pruned,
             CAST(sum(CASE WHEN dmax >= DATE '1996-03-01'
                            AND dmin <= DATE '1996-03-31'
                           THEN rows_n ELSE 0 END) AS BIGINT)
               AS rows_scanned
      FROM f1),
    s2 AS (
      SELECT 'key_sorted' AS layout,
             CAST(count(*) AS BIGINT) AS n_files,
             CAST(sum(CASE WHEN dmax < DATE '1996-03-01'
                             OR dmin > DATE '1996-03-31'
                           THEN 1 ELSE 0 END) AS BIGINT) AS files_pruned,
             CAST(sum(CASE WHEN dmax >= DATE '1996-03-01'
                            AND dmin <= DATE '1996-03-31'
                           THEN rows_n ELSE 0 END) AS BIGINT)
               AS rows_scanned
      FROM f2)
    SELECT * FROM s1 UNION ALL SELECT * FROM s2
"""
QUERIES_LLM["orders_stats_pruning"] = q_orders_stats_pruning


def q_sim_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-centroid similarity matrix — the embedding-space health
    census (are my class/source centroids collapsing?): per-label
    mean vector (components rounded to 6 BEFORE the cosine, so both
    engines score identical inputs), then cosine between every label
    pair computed COMPONENT-WISE: centroid components equi-join on
    the dimension index (64 keys x #labels rows — dimension-bounded,
    not corpus-bounded) and one (label_a, label_b) agg forms
    dot/norms. No array reassembly, no cartesian, no BNLJ — the
    inequality is a residual filter on the idx-key hash join."""
    e = _t(spark, sf_dir, "embeddings")
    comp = e.select("label", F.posexplode("embedding").alias("idx", "val"))
    cent = comp.groupBy("label", "idx").agg(
        F.round(F.avg(F.col("val").cast("double")), 6).alias("v")
    )
    a = cent.select(
        F.col("label").alias("label_a"), "idx", F.col("v").alias("va")
    )
    b = cent.select(
        F.col("label").alias("label_b"), "idx", F.col("v").alias("vb")
    )
    j = a.join(b, "idx").filter(F.col("label_a") < F.col("label_b"))
    return (
        j.groupBy("label_a", "label_b")
        .agg(
            F.sum(F.col("va") * F.col("vb")).alias("_dot"),
            F.sum(F.col("va") * F.col("va")).alias("_na"),
            F.sum(F.col("vb") * F.col("vb")).alias("_nb"),
        )
        .select(
            "label_a",
            "label_b",
            F.round(
                F.col("_dot") / F.sqrt(F.col("_na") * F.col("_nb")), 6
            ).alias("cos_sim"),
        )
    )


ORACLE_SQL_LLM["sim_centroid_drift"] = """
    WITH comp AS (
      SELECT label,
             unnest(range(1, len(embedding) + 1)) AS idx,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings),
    cent AS (
      SELECT label, idx, round(avg(val), 6) AS v
      FROM comp GROUP BY 1, 2),
    j AS (
      SELECT x.label AS label_a, y.label AS label_b,
             x.v AS va, y.v AS vb
      FROM cent x JOIN cent y
        ON x.idx = y.idx AND x.label < y.label)
    SELECT label_a, label_b,
           round(sum(va * vb) / sqrt(sum(va * va) * sum(vb * vb)), 6)
             AS cos_sim
    FROM j GROUP BY 1, 2
"""
QUERIES_LLM["sim_centroid_drift"] = q_sim_centroid_drift


def q_stream_topk_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k per tumbling window: hourly event-type counts
    accumulate as streaming state (complete mode, availableNow
    replay), and the RANKING runs in the sink on each batch's
    compacted state — ordinary window functions are unsupported on a
    streaming DataFrame, so production ranks post-aggregation where
    the state is already window-grain (bounded: #windows x #types
    rows, never the event stream). The final batch's state equals
    the batch answer, so the oracle is plain SQL: hourly counts,
    row_number <= 3 per window by (count desc, type)."""
    from rust_dms_cdc_operator_spark.fixtures import normalized_ts  # noqa: PLC0415

    stream, dirs = _linked_stream(
        spark, sf_dir, "stream_topk_per_window", "events", "topk_stream",
        "out",
    )
    stream = stream.withColumn("ts", normalized_ts(stream, "ts"))
    agg = (
        stream.select(F.window("ts", "1 hour").alias("w"), "event_type")
        .groupBy(F.col("w.start").alias("window_start"), "event_type")
        .agg(F.count(F.lit(1)).alias("events_n"))
    )

    def sink(batch_df: DataFrame, _bid: int) -> None:
        wr = Window.partitionBy("window_start").orderBy(
            F.col("events_n").desc(), F.col("event_type")
        )
        top = (
            batch_df.withColumn("rk", F.row_number().over(wr).cast("long"))
            .filter(F.col("rk") <= 3)
        )
        top.write.mode("overwrite").parquet(dirs["out"])

    drain(agg, sink, dirs["ck"], "complete")
    return spark.read.parquet(dirs["out"])


ORACLE_SQL_LLM["stream_topk_per_window"] = """
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS window_start, event_type,
             CAST(count(*) AS BIGINT) AS events_n
      FROM events GROUP BY 1, 2),
    r AS (
      SELECT *, CAST(row_number() OVER (
               PARTITION BY window_start
               ORDER BY events_n DESC, event_type) AS BIGINT) AS rk
      FROM hourly)
    SELECT window_start, event_type, events_n, rk FROM r WHERE rk <= 3
"""
QUERIES_LLM["stream_topk_per_window"] = q_stream_topk_per_window


def q_docs_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marginal-novelty curve of the corpus in doc_id order: per
    document, the fraction of its word-trigram POSITIONS whose
    trigram first appears in this document (global first occurrence
    = min doc_id over the corpus). The curation read: how fast does
    each additional document stop contributing new n-grams — the
    dedup-marginal-value signal behind 'stop crawling this source'.
    One trigram-key agg for first-doc (map-side partial min, shuffle
    carries the n-gram vocabulary), one vocabulary-keyed join back
    over the positions, one doc-key agg. Exact integers plus one
    IEEE division."""
    d = _t(spark, sf_dir, "documents")
    words = d.select(
        "doc_id",
        F.regexp_extract_all(F.col("text"), F.lit("[a-z0-9]+"), 0).alias("w"),
    )
    tri = F.when(
        F.size("w") >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size("w") - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at("w", i),
                F.element_at("w", i + 1),
                F.element_at("w", i + 2),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    pos = words.select("doc_id", F.explode(tri).alias("g"))
    first = pos.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    per = (
        pos.join(first, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            F.sum(
                (F.col("first_doc") == F.col("doc_id")).cast("long")
            ).alias("n_novel"),
        )
    )
    return per.select(
        "doc_id",
        "n_trigrams",
        "n_novel",
        (F.col("n_novel").cast("double") / F.col("n_trigrams")).alias(
            "novelty"
        ),
    )


ORACLE_SQL_LLM["docs_ngram_novelty"] = """
    WITH words AS (
      SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS w
      FROM documents),
    pos AS (
      SELECT doc_id,
             unnest(list_transform(
               range(greatest(len(w) - 2, 0)),
               i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS g
      FROM words),
    first AS (SELECT g, min(doc_id) AS first_doc FROM pos GROUP BY 1),
    per AS (
      SELECT p.doc_id,
             CAST(count(*) AS BIGINT) AS n_trigrams,
             CAST(sum(CASE WHEN f.first_doc = p.doc_id THEN 1 ELSE 0 END)
               AS BIGINT) AS n_novel
      FROM pos p JOIN first f USING (g) GROUP BY 1)
    SELECT doc_id, n_trigrams, n_novel,
           CAST(n_novel AS DOUBLE) / n_trigrams AS novelty
    FROM per
"""
QUERIES_LLM["docs_ngram_novelty"] = q_docs_ngram_novelty


def q_events_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global quantiles at scale — the companion to the
    sketch-based events_value_quantiles: p50/p95/p99 of the
    milli-value distribution selected by GLOBAL RANK (operators/
    chunk.with_global_rank — boundary-bucketed two-pass, no
    single-partition sort, no collect of the column). The sketch
    answers 'roughly where is p99' in one pass; this answers it
    exactly in two, the trade every large-scale pipeline makes
    consciously. Target ranks are ceil(q*n) on the nearest-rank
    definition; n is a bounded driver scalar (one number, the chunk-
    offset pattern)."""
    import math as _math  # noqa: PLC0415

    from rust_dms_cdc_operator_spark.operators.chunk import (  # noqa: PLC0415
        with_global_rank,
    )

    e = _t(spark, sf_dir, "events").select(
        "event_id", F.round(F.col("value") * 1000).cast("long").alias("milli")
    )
    n = e.count()  # bounded driver scalar
    targets = [("p50", 0.50), ("p95", 0.95), ("p99", 0.99)]
    ranks = {name: _math.ceil(q * n) for name, q in targets}
    ranked = with_global_rank(e, ["milli", "event_id"], rank_col="_rk")
    cond = None
    for name, rk in ranks.items():
        c = F.when(F.col("_rk") == rk, F.lit(name))
        cond = c if cond is None else cond.when(F.col("_rk") == rk, F.lit(name))
    return (
        ranked.withColumn("quantile", cond)
        .filter(F.col("quantile").isNotNull())
        .select(
            "quantile",
            F.col("_rk").cast("long").alias("rank"),
            F.col("milli").alias("value_milli"),
        )
    )


ORACLE_SQL_LLM["events_exact_quantiles"] = """
    WITH r AS (
      SELECT CAST(round(value * 1000) AS BIGINT) AS milli,
             CAST(row_number() OVER (
               ORDER BY CAST(round(value * 1000) AS BIGINT), event_id)
               AS BIGINT) AS rk,
             count(*) OVER () AS n
      FROM events)
    SELECT 'p50' AS quantile, rk AS rank, milli AS value_milli
    FROM r WHERE rk = CAST(ceil(0.50 * n) AS BIGINT)
    UNION ALL
    SELECT 'p95', rk, milli FROM r WHERE rk = CAST(ceil(0.95 * n) AS BIGINT)
    UNION ALL
    SELECT 'p99', rk, milli FROM r WHERE rk = CAST(ceil(0.99 * n) AS BIGINT)
"""
QUERIES_LLM["events_exact_quantiles"] = q_events_exact_quantiles


def q_events_state_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-constraint data-quality gate: per user, count adjacent
    event transitions that violate the declared protocol (here:
    'purchase' may not directly follow 'error', and 'signup' may not
    repeat) — the streaming-ETL validity census that runs before a
    funnel is trusted. One user-partitioned window (lag by event
    time, event_id tiebreak), one user agg; emits only offending
    users. Transition rules are expression-level literals — adding a
    rule is a WHEN branch, not a new shuffle."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = e.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    invalid = (
        ((F.col("prev_type") == "error") & (F.col("event_type") == "purchase"))
        | ((F.col("prev_type") == "signup") & (F.col("event_type") == "signup"))
    ).cast("long")
    return (
        t.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_transitions"),
            F.sum(invalid).alias("n_invalid"),
        )
        .filter(F.col("n_invalid") > 0)
    )


ORACLE_SQL_LLM["events_state_validity"] = """
    WITH t AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events),
    v AS (
      SELECT user_id,
             CASE WHEN (prev_type = 'error' AND event_type = 'purchase')
                    OR (prev_type = 'signup' AND event_type = 'signup')
                  THEN 1 ELSE 0 END AS invalid
      FROM t WHERE prev_type IS NOT NULL)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_transitions,
           CAST(sum(invalid) AS BIGINT) AS n_invalid
    FROM v GROUP BY 1 HAVING sum(invalid) > 0
"""
QUERIES_LLM["events_state_validity"] = q_events_state_validity


def q_sim_label_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean intra-label pairwise cosine WITHOUT enumerating pairs —
    the sum-vector identity: with unit-normalized members u_i,
    mean_{i<j} cos(u_i,u_j) = (||Σu||² − n) / (n(n−1)). The pairwise
    census is O(n²) per label; this is ONE component-wise aggregation
    (linear, dimension-bounded shuffle) and is how dispersion/
    cohesion metrics stay feasible at 100 TB. Members normalize with
    round-6 components first, so both engines aggregate identical
    inputs; the final expression is rounded once more."""
    e = _t(spark, sf_dir, "embeddings")
    comp = e.select(
        "vec_id", "label", F.posexplode("embedding").alias("idx", "val")
    ).withColumn("val", F.col("val").cast("double"))
    norms = comp.groupBy("vec_id").agg(
        F.sqrt(F.sum(F.col("val") * F.col("val"))).alias("nrm")
    )
    unit = comp.join(norms, "vec_id").select(
        "label", "idx", F.round(F.col("val") / F.col("nrm"), 6).alias("u")
    )
    sums = unit.groupBy("label", "idx").agg(F.sum("u").alias("s"))
    ss = sums.groupBy("label").agg(
        F.sum(F.col("s") * F.col("s")).alias("s2")
    )
    n_by = e.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    return (
        ss.join(n_by, "label")
        .filter(F.col("n") >= 2)
        .select(
            "label",
            "n",
            F.round(
                (F.col("s2") - F.col("n"))
                / (F.col("n") * (F.col("n") - 1)),
                6,
            ).alias("mean_cos"),
        )
    )


ORACLE_SQL_LLM["sim_label_dispersion"] = """
    WITH comp AS (
      SELECT vec_id, label,
             unnest(range(1, len(embedding) + 1)) AS idx,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings),
    norms AS (
      SELECT vec_id, sqrt(sum(val * val)) AS nrm
      FROM comp GROUP BY 1),
    unit AS (
      SELECT c.label, c.idx, round(c.val / n.nrm, 6) AS u
      FROM comp c JOIN norms n USING (vec_id)),
    sums AS (SELECT label, idx, sum(u) AS s FROM unit GROUP BY 1, 2),
    ss AS (SELECT label, sum(s * s) AS s2 FROM sums GROUP BY 1),
    nb AS (SELECT label, CAST(count(*) AS BIGINT) AS n
           FROM embeddings GROUP BY 1)
    SELECT ss.label, nb.n,
           round((ss.s2 - nb.n) / (nb.n * (nb.n - 1)), 6) AS mean_cos
    FROM ss JOIN nb USING (label) WHERE nb.n >= 2
"""
QUERIES_LLM["sim_label_dispersion"] = q_sim_label_dispersion


def q_events_type_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information between event types over user
    co-occurrence — 'which behaviors travel together': PMI(a,b) =
    ln(n_ab * N / (n_a * n_b)) over DISTINCT (user, type) incidence.
    The per-user type set is bounded by the type alphabet, so the
    user-keyed self-join emits <= |types|²/2 rows per user — linear
    in users, never quadratic in events. Counts are exact integers;
    one ln at the end (round 6)."""
    e = _t(spark, sf_dir, "events")
    ut = e.select("user_id", "event_type").distinct()
    n_users = ut.select("user_id").distinct().count()  # driver scalar
    n_t = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    return (
        pairs.join(
            n_t.select(F.col("event_type").alias("type_a"),
                       F.col("n").alias("n_a")), "type_a")
        .join(
            n_t.select(F.col("event_type").alias("type_b"),
                       F.col("n").alias("n_b")), "type_b")
        .select(
            "type_a", "type_b", "n_ab",
            F.round(
                F.log(
                    F.col("n_ab").cast("double") * F.lit(float(n_users))
                    / (F.col("n_a") * F.col("n_b"))
                ),
                6,
            ).alias("pmi"),
        )
    )


ORACLE_SQL_LLM["events_type_pmi"] = """
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    nu AS (SELECT count(DISTINCT user_id)::DOUBLE AS n_users FROM ut),
    nt AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1),
    p AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS n_ab
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2)
    SELECT p.type_a, p.type_b, p.n_ab,
           round(ln(p.n_ab::DOUBLE * nu.n_users / (x.n * y.n)), 6) AS pmi
    FROM p
    JOIN nt x ON x.event_type = p.type_a
    JOIN nt y ON y.event_type = p.type_b
    CROSS JOIN nu
"""
QUERIES_LLM["events_type_pmi"] = q_events_type_pmi


def q_docs_length_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tail-exponent estimate of the document-length distribution
    (Clauset/Shalizi/Newman MLE for a discrete-ish tail): alpha = 1 +
    n_tail / Σ ln(x/xmin) over docs with n_chars >= xmin, per source.
    The corpus-health read: crawler truncation or boilerplate
    injection shifts alpha before any content metric moves. One scan,
    one source agg; xmin is the corpus median length (a bounded
    driver scalar via exact percentile)."""
    d = _t(spark, sf_dir, "documents")
    xmin = int(
        d.agg(F.expr("percentile(n_chars, 0.5)").alias("m")).first()["m"]
    )  # driver scalar; percentile over longs is deterministic
    tail = d.filter(F.col("n_chars") >= xmin)
    return (
        tail.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tail"),
            F.sum(
                F.log(F.col("n_chars").cast("double") / F.lit(float(xmin)))
            ).alias("_sln"),
        )
        .select(
            "source",
            "n_tail",
            F.lit(xmin).cast("long").alias("xmin"),
            # degenerate tail (every length == xmin): Σln = 0 — Spark's
            # IEEE x/0 is Infinity but DuckDB's is NULL; align on NULL
            F.when(
                F.col("_sln") != 0,
                F.round(F.lit(1.0) + F.col("n_tail") / F.col("_sln"), 6),
            ).alias("alpha"),
        )
    )


def _powerlaw_oracle_sql() -> str:
    return """
    WITH xm AS (
      SELECT CAST(floor(quantile_cont(n_chars, 0.5)) AS BIGINT) AS xmin
      FROM documents),
    t AS (
      SELECT d.source, d.n_chars, xm.xmin
      FROM documents d CROSS JOIN xm WHERE d.n_chars >= xm.xmin)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_tail,
           CAST(min(xmin) AS BIGINT) AS xmin,
           round(1.0 + count(*) / nullif(sum(ln(n_chars::DOUBLE / xmin)), 0),
                 6) AS alpha
    FROM t GROUP BY source
"""


ORACLE_SQL_LLM["docs_length_powerlaw"] = _powerlaw_oracle_sql()
QUERIES_LLM["docs_length_powerlaw"] = q_docs_length_powerlaw


def q_docs_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-hygiene census: near-duplicate pairs that STRADDLE the
    train/val/test split — the leak that silently inflates held-out
    metrics. Composes the engine's own primitives end-to-end: MinHash
    LSH candidate pairs x the md5-bucket split assignment, normalized
    to unordered split combinations. Same-split rows stay in the
    output so the censused total equals the pair census (leaked rows
    are the off-diagonal). Scale: pairs come from the banded LSH join
    (never all-pairs); the split attach is two id-keyed joins; the
    final agg is <= |splits|² rows."""
    from rust_dms_cdc_operator_spark.operators.split import (  # noqa: PLC0415
        with_split,
    )

    d = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(d, "doc_id", "text", num_hashes=16, bands=2)
    sp = with_split(
        d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    ).select("doc_id", "split")
    j = (
        pairs.join(
            sp.select(F.col("doc_id").alias("id_a"),
                      F.col("split").alias("split_a")), "id_a")
        .join(
            sp.select(F.col("doc_id").alias("id_b"),
                      F.col("split").alias("split_b")), "id_b")
    )
    return (
        j.select(
            F.least("split_a", "split_b").alias("split_lo"),
            F.greatest("split_a", "split_b").alias("split_hi"),
        )
        .groupBy("split_lo", "split_hi")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .withColumn(
            "leaked", (F.col("split_lo") != F.col("split_hi"))
        )
    )


ORACLE_SQL_LLM["docs_split_leakage"] = f"""
    WITH pairs AS ({_minhash_sql()}),
    sp AS (
      SELECT doc_id,
             CASE WHEN {_sql_hex_to_long("md5(doc_id::VARCHAR || 'split')", 8)} % 10000 < 8000
                  THEN 'train'
                  WHEN {_sql_hex_to_long("md5(doc_id::VARCHAR || 'split')", 8)} % 10000 < 9000
                  THEN 'val'
                  ELSE 'test' END AS split
      FROM documents),
    j AS (
      SELECT least(sa.split, sb.split) AS split_lo,
             greatest(sa.split, sb.split) AS split_hi
      FROM pairs p
      JOIN sp sa ON sa.doc_id = p.id_a
      JOIN sp sb ON sb.doc_id = p.id_b)
    SELECT split_lo, split_hi,
           CAST(count(*) AS BIGINT) AS n_pairs,
           split_lo <> split_hi AS leaked
    FROM j GROUP BY 1, 2
"""
QUERIES_LLM["docs_split_leakage"] = q_docs_split_leakage


def q_docs_group_split(
    spark: SparkSession, sf_dir: str, _pairs: DataFrame | None = None
) -> DataFrame:
    """The FIX for split leakage: group-aware splitting. Near-dup
    groups (MinHash pairs → connected components; singletons are
    their own group) are assigned to train/val/test as UNITS — the
    split bucket hashes the group id, so correlated documents can
    never straddle a boundary. Returns every doc with its group and
    split; zero leakage by construction (asserted in the unit test
    against the leakage census's own pair stream).

    EXACT-REQUIRED (round 11, bench.EXACT_REQUIRED): rides the
    UNCAPPED pair stream into exact CC because a capped stream would
    leak near-dups across split boundaries — the very defect this
    query exists to prevent. Unlike the exact-mode audits it has no
    capped twin; its 100 TB path is INCREMENTALITY:
    docs_group_split_incr maintains the group assignment as a
    persisted artifact per ingest (CC over batch edges only), and the
    full rebuild here runs once / at compaction cadence."""
    from rust_dms_cdc_operator_spark.operators.graph import (  # noqa: PLC0415
        dedup_groups,
    )
    from rust_dms_cdc_operator_spark.operators.split import (  # noqa: PLC0415
        with_split,
    )

    d = _t(spark, sf_dir, "documents")
    # salt=8: CC swallows the full uncapped pair stream; one hot band
    # bucket otherwise emits its quadratic pair volume from a single
    # task (AQE can't split output-exploding joins — see
    # minhash_lsh_pairs docstring). Same pair set, 8x emission spread.
    # ``_pairs``: the rebuild-migration audit runs BOTH stacks over
    # ONE persisted pair stream (round 12) — identical set either way.
    pairs = _pairs if _pairs is not None else minhash_lsh_pairs(
        d, "doc_id", "text", num_hashes=16, bands=2, salt=8
    )
    groups = dedup_groups(pairs)
    withg = (
        d.select("doc_id")
        .join(groups, "doc_id", "left")
        .withColumn("group_id", F.coalesce(F.col("group_id"), F.col("doc_id")))
    )
    return with_split(
        withg, "group_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    ).select("doc_id", "group_id", "split")


ORACLE_SQL_LLM["docs_group_split"] = f"""
    WITH RECURSIVE pairs AS MATERIALIZED ({_minhash_sql()}),
    sym AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
    lbl(node, comp) AS (
      SELECT a, LEAST(a, MIN(b)) FROM sym GROUP BY a
      UNION
      SELECT s.b, l.comp
      FROM lbl l JOIN sym s ON s.a = l.node
      WHERE l.comp < s.b
    ),
    g AS (SELECT node AS doc_id, MIN(comp) AS group_id
          FROM lbl GROUP BY node),
    allg AS (
      SELECT d.doc_id, coalesce(g.group_id, d.doc_id) AS group_id
      FROM documents d LEFT JOIN g ON g.doc_id = d.doc_id)
    SELECT doc_id, group_id,
           CASE WHEN {_sql_hex_to_long("md5(group_id::VARCHAR || 'split')", 8)} % 10000 < 8000
                THEN 'train'
                WHEN {_sql_hex_to_long("md5(group_id::VARCHAR || 'split')", 8)} % 10000 < 9000
                THEN 'val'
                ELSE 'test' END AS split
    FROM allg
"""
QUERIES_LLM["docs_group_split"] = q_docs_group_split


_OVERLAP_SEQ = itertools.count(1)  # job-tag ids for _overlap2


def _overlap2(spark, thunk_a, thunk_b):
    """Run two INDEPENDENT eager pipelines on driver threads, so the
    scheduler back-fills one stack's idle stage tails with the other's
    tasks, with failure containment. Both stacks' jobs carry
    this call's job tag plus every tag of the submitting thread, with
    interrupt-on-cancel. As soon as either stack raises — or the
    submitting thread is interrupted while futures are live — every
    job tagged with this call's tag is cancelled, so the sibling stops
    instead of being waited out. A nested ``_overlap2`` inside a stack
    inherits the tag, so its jobs are cancelled too and no job runs
    detached. Returns (result_a, result_b); results are identical to
    sequential execution by construction (both thunks build
    independent plans over already-materialized inputs)."""
    tag = f"overlap-{next(_OVERLAP_SEQ)}"
    sc = spark.sparkContext
    # job tags are thread-local (pinned-thread mode): a worker thread
    # starts with none, so it takes on the submitter's tags
    tags = [*sc.getJobTags(), tag]

    def run(thunk):
        for t in tags:
            sc.addJobTag(t)
        sc.setInterruptOnCancel(True)
        try:
            return thunk()
        finally:
            # a pooled thread reused by a later caller must not keep
            # cancellable tags
            sc.clearJobTags()
            sc.setInterruptOnCancel(False)

    with ThreadPoolExecutor(max_workers=2) as pool:
        fa = pool.submit(run, thunk_a)
        fb = pool.submit(run, thunk_b)
        try:
            # surface the FIRST failure at once, not after the sibling
            # finishes
            for f in as_completed((fa, fb)):
                f.result()
            return fa.result(), fb.result()
        except BaseException:
            for f in (fa, fb):
                f.cancel()
            try:
                sc.cancelJobsWithTag(tag)
            except Exception:
                pass
            raise


def q_docs_group_split_incr(
    spark: SparkSession, sf_dir: str, _pairs: DataFrame | None = None
) -> DataFrame:
    """INCREMENTAL group-aware splitting — the 100 TB deployment path
    of docs_group_split (round 11, verdict item 1). docs_group_split
    is EXACT-REQUIRED: its pair stream cannot be capped without
    letting near-dups straddle split boundaries, so its scale answer
    is incrementality, not a cap. Here the corpus is an already-
    ingested epoch (doc_id % 4 != 0 — the incremental_dedup batch
    convention) whose group assignment is a FROZEN persisted
    artifact, and the ingest batch (doc_id % 4 == 0) is grouped
    against it by operators/graph.incremental_groups: CC over
    batch-internal pairs only, one id-keyed join against the prior
    assignment for anchor adoption (min prior group per batch
    component), frozen prior rows pass through untouched — a doc's
    split can never migrate between epochs. Returns the SAME schema
    as docs_group_split (doc_id, group_id, split) over the full
    corpus; the per-ingest cost is O(batch edges), not O(corpus).

    The banded pair stream is computed once here and filtered three
    ways (prior-prior for the artifact stand-in, batch-batch, cross
    anchors); in production the prior-prior block IS the persisted
    artifact and the band-key table prices anchor discovery at
    O(batch) bucket lookups. Bridge residual (one batch component
    anchored to two prior groups keeps only the min): reconciled by
    the periodic full rebuild — the incremental-index + compaction
    trade, see SCALE.md."""
    from rust_dms_cdc_operator_spark.operators.graph import (  # noqa: PLC0415
        dedup_groups,
        incremental_groups,
    )
    from rust_dms_cdc_operator_spark.operators.split import (  # noqa: PLC0415
        with_split,
    )

    d = _t(spark, sf_dir, "documents")
    # the uncapped pair stream feeds three filtered consumers (prior
    # CC, batch CC, anchor extraction) — materialize it ONCE. Round
    # 13: eager cache, not checkpoint — the r12 lineage cut
    # serialized the corpus-quadratic stream through the block store
    # and OOMed the local[32] bench at sf1 (see materialize_leaf /
    # materialize_cache docstrings for the A/B). The kept-lineage
    # cost (the banded-LSH DAG in task binaries) is driver/codegen
    # latency, not per-row cpu. ``_pairs``: the rebuild-migration
    # audit passes ONE already-materialized stream shared with the
    # full stack.
    pairs = _pairs if _pairs is not None else materialize_cache(
        minhash_lsh_pairs(
            d, "doc_id", "text", num_hashes=16, bands=2, salt=8
        ).select("id_a", "id_b")
    )
    a_new = F.col("id_a") % 4 == 0
    b_new = F.col("id_b") % 4 == 0
    # the prior-epoch CC and the batch-internal CC are independent
    # eager pipelines over the same materialized leaf — overlap them
    # (guide §2.6); ``_comp`` hands the batch CC's result to
    # incremental_groups, which would otherwise recompute it.
    prior_groups, batch_comp = _overlap2(
        spark,
        lambda: dedup_groups(pairs.filter(~a_new & ~b_new)),
        lambda: dedup_groups(pairs.filter(a_new & b_new)),
    )
    prior_assign = (
        d.filter(F.col("doc_id") % 4 != 0)
        .select("doc_id")
        .join(prior_groups, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("group_id"), F.col("doc_id")).alias("group_id"),
        )
    )
    incr = incremental_groups(
        prior_assign,
        d.filter(F.col("doc_id") % 4 == 0).select("doc_id"),
        pairs.filter(a_new & b_new),
        pairs.filter(a_new != b_new).select(
            F.when(a_new, F.col("id_a")).otherwise(F.col("id_b"))
            .alias("new_id"),
            F.when(a_new, F.col("id_b")).otherwise(F.col("id_a"))
            .alias("prior_id"),
        ),
        _comp=batch_comp,
    )
    allg = prior_assign.unionByName(incr)
    return with_split(
        allg, "group_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    ).select("doc_id", "group_id", "split")


ORACLE_SQL_LLM["docs_group_split_incr"] = f"""
    WITH RECURSIVE pairs AS MATERIALIZED ({_minhash_sql()}),
    ppair AS MATERIALIZED (
      SELECT id_a, id_b FROM pairs
      WHERE id_a % 4 <> 0 AND id_b % 4 <> 0),
    psym AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM ppair
            UNION SELECT id_b, id_a FROM ppair),
    plbl(node, comp) AS (
      SELECT a, LEAST(a, MIN(b)) FROM psym GROUP BY a
      UNION
      SELECT s.b, l.comp
      FROM plbl l JOIN psym s ON s.a = l.node
      WHERE l.comp < s.b
    ),
    pg AS (SELECT node AS doc_id, MIN(comp) AS group_id
           FROM plbl GROUP BY node),
    prior AS (
      SELECT d.doc_id, coalesce(pg.group_id, d.doc_id) AS group_id
      FROM documents d LEFT JOIN pg USING (doc_id)
      WHERE d.doc_id % 4 <> 0),
    npair AS MATERIALIZED (
      SELECT id_a, id_b FROM pairs
      WHERE id_a % 4 = 0 AND id_b % 4 = 0),
    nsym AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM npair
            UNION SELECT id_b, id_a FROM npair),
    nlbl(node, comp) AS (
      SELECT a, LEAST(a, MIN(b)) FROM nsym GROUP BY a
      UNION
      SELECT s.b, l.comp
      FROM nlbl l JOIN nsym s ON s.a = l.node
      WHERE l.comp < s.b
    ),
    ng AS (SELECT node AS doc_id, MIN(comp) AS comp
           FROM nlbl GROUP BY node),
    newc AS (
      SELECT d.doc_id, coalesce(ng.comp, d.doc_id) AS comp
      FROM documents d LEFT JOIN ng USING (doc_id)
      WHERE d.doc_id % 4 = 0),
    anchors AS (
      SELECT CASE WHEN id_a % 4 = 0 THEN id_a ELSE id_b END AS new_id,
             CASE WHEN id_a % 4 = 0 THEN id_b ELSE id_a END AS prior_id
      FROM pairs WHERE (id_a % 4 = 0) <> (id_b % 4 = 0)),
    adopt AS (
      SELECT nc.comp, MIN(p.group_id) AS adopt_g
      FROM anchors a
      JOIN prior p ON p.doc_id = a.prior_id
      JOIN newc nc ON nc.doc_id = a.new_id
      GROUP BY nc.comp),
    incr AS (
      SELECT nc.doc_id, coalesce(ad.adopt_g, nc.comp) AS group_id
      FROM newc nc LEFT JOIN adopt ad USING (comp)),
    allg AS (SELECT * FROM prior UNION ALL SELECT * FROM incr)
    SELECT doc_id, group_id,
           CASE WHEN {_sql_hex_to_long("md5(group_id::VARCHAR || 'split')", 8)} % 10000 < 8000
                THEN 'train'
                WHEN {_sql_hex_to_long("md5(group_id::VARCHAR || 'split')", 8)} % 10000 < 9000
                THEN 'val'
                ELSE 'test' END AS split
    FROM allg
"""
QUERIES_LLM["docs_group_split_incr"] = q_docs_group_split_incr


def q_docs_group_rebuild_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rebuild-acceptance audit (round 12, verdict item 4;
    operators/graph.group_rebuild_migration): the incremental
    stability contract defers cross-group merges to the periodic full
    rebuild, so a rebuild MOVES documents between groups — and
    therefore potentially between train/val/test splits — which is
    train/test leakage if accepted blind. This query diffs the frozen
    incremental assignment (docs_group_split_incr) against the
    candidate full rebuild (docs_group_split) and reports every doc
    whose group or split would change, with both sides of the move —
    row-level so it joins against holdout registries ("which eval
    docs would leak into train"), summary counts one groupBy away.
    The r11 bridge residual (a batch component anchored to two prior
    groups keeps only the min) surfaces here as the docs of the
    non-adopted prior group merging in — unit-pinned by
    tests/test_graph.py::test_group_rebuild_migration_bridge_residual.

    EXACT_REQUIRED family: rides BOTH uncapped stacks by definition
    (the audit must see exactly what the rebuild would do). Its own
    marginal cost is one full-outer id-keyed join of two narrow
    corpus-sized frames — migration-sized output, which the stability
    contract keeps small between rebuilds."""
    from rust_dms_cdc_operator_spark.operators.graph import (  # noqa: PLC0415
        group_rebuild_migration,
    )

    # ONE materialized pair stream feeds BOTH stacks (round 12: the
    # audit's only corpus-quadratic cost is the banded stream; running
    # it twice doubled the round's top bench wall for no information).
    # Round 13: eager cache, not checkpoint — serializing the
    # corpus-quadratic stream through the block store is what OOMed
    # the r12 local[32] bench at sf1 (A/B in materialize_leaf's
    # docstring); the kept-lineage DAG in task binaries is driver
    # latency, not per-row cpu.
    d = _t(spark, sf_dir, "documents")
    pairs = materialize_cache(
        minhash_lsh_pairs(
            d, "doc_id", "text", num_hashes=16, bands=2, salt=8
        ).select("id_a", "id_b")
    )
    # overlap the two independent stacks (guide §2.6): each stack's
    # construction runs eager CC jobs (labels init, contraction,
    # bounded collects) whose stage tails leave most cores idle;
    # submitting both from driver threads lets the scheduler back-fill
    # (FAIR mode is on session-wide). Both threads read the same
    # already-materialized leaf, so there is no cold-cache race, and
    # each builds an independent plan — results are identical to the
    # sequential construction by construction.
    old_r, new_r = _overlap2(
        spark,
        lambda: q_docs_group_split_incr(spark, sf_dir, pairs),
        lambda: q_docs_group_split(spark, sf_dir, pairs),
    )
    return group_rebuild_migration(old_r, new_r)


ORACLE_SQL_LLM["docs_group_rebuild_migration"] = f"""
    WITH oldr AS ({ORACLE_SQL_LLM["docs_group_split_incr"]}),
    newr AS ({ORACLE_SQL_LLM["docs_group_split"]})
    SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
           o.group_id AS old_group, n.group_id AS new_group,
           o.split AS old_split, n.split AS new_split
    FROM oldr o FULL OUTER JOIN newr n ON o.doc_id = n.doc_id
    WHERE o.group_id IS DISTINCT FROM n.group_id
       OR o.split IS DISTINCT FROM n.split
"""
QUERIES_LLM["docs_group_rebuild_migration"] = q_docs_group_rebuild_migration


def q_dedup_incremental_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-ingest candidate discovery against the PERSISTED band-key
    index (round 11): the batch (doc_id % 4 == 0) computes band keys
    for its own docs only (operators/dedup.minhash_band_keys) and
    probes the prior corpus's index (lsh_pairs_incremental) — the
    production path whose measured per-ingest cost at sf10 is 100.6 s
    vs a 1256 s full rebuild (SCALE.md). Output = exactly the
    full-corpus banded pair stream restricted to batch-touching pairs
    (set equality with minhash_lsh_pairs is unit-pinned; the oracle
    replays the full stream + the membership filter).

    EXACT-REQUIRED family: candidate volume is batch-size x
    bucket-occupancy by construction — uncappable for the same reason
    as docs_group_split (a dropped candidate is a potential
    cross-boundary leak). A deployment bounds it by watching the
    truncation census and capping probe buckets, exactly like the
    batch path."""
    from rust_dms_cdc_operator_spark.operators.dedup import (  # noqa: PLC0415
        lsh_pairs_incremental,
        minhash_band_keys,
    )

    d = _t(spark, sf_dir, "documents")
    keys_b = minhash_band_keys(
        d.filter(F.col("doc_id") % 4 == 0), "doc_id", "text",
        num_hashes=16, bands=2,
    )
    keys_c = minhash_band_keys(
        d.filter(F.col("doc_id") % 4 != 0), "doc_id", "text",
        num_hashes=16, bands=2,
    )
    return lsh_pairs_incremental(keys_b, keys_c)


ORACLE_SQL_LLM["dedup_incremental_pairs"] = f"""
    SELECT id_a, id_b FROM ({_minhash_sql()})
    WHERE id_a % 4 = 0 OR id_b % 4 = 0
"""
QUERIES_LLM["dedup_incremental_pairs"] = q_dedup_incremental_pairs


def q_dedup_incremental_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DEPLOYMENT form of per-ingest candidate discovery (round
    12, verdict item 1): the probe runs under the same hot-bucket cap
    as the batch path — occupancies come from the persisted
    band_key_bucket_counts artifact (maintained additively per
    ingest), buckets whose FULL-corpus occupancy (batch + prior)
    exceeds the cap are skipped on the batch side before either join,
    and operators/dedup.lsh_probe_truncation_census reports exactly
    what was skipped (no silent cap). Output SET equals
    minhash_lsh_pairs(max_bucket) restricted to batch-touching pairs
    (test-pinned), so the capped incremental path feeds
    incremental_groups with exactly what a capped rebuild would —
    per-ingest cost is bounded at batch-size x cap whatever the
    vocabulary does, which closes the one unbounded step the round-11
    incremental contract narrated but did not code."""
    from rust_dms_cdc_operator_spark.operators.dedup import (  # noqa: PLC0415
        band_key_bucket_counts,
        lsh_pairs_incremental,
        minhash_band_keys,
    )

    d = _t(spark, sf_dir, "documents")
    keys_b = minhash_band_keys(
        d.filter(F.col("doc_id") % 4 == 0), "doc_id", "text",
        num_hashes=16, bands=2,
    )
    keys_c = minhash_band_keys(
        d.filter(F.col("doc_id") % 4 != 0), "doc_id", "text",
        num_hashes=16, bands=2,
    )
    return lsh_pairs_incremental(
        keys_b, keys_c, max_bucket=_LSH_MAX_BUCKET,
        corpus_bucket_counts=band_key_bucket_counts(keys_c),
    )


ORACLE_SQL_LLM["dedup_incremental_pairs_capped"] = f"""
    SELECT id_a, id_b FROM ({_minhash_sql(16, 2, _LSH_MAX_BUCKET)})
    WHERE id_a % 4 = 0 OR id_b % 4 = 0
"""
QUERIES_LLM["dedup_incremental_pairs_capped"] = q_dedup_incremental_pairs_capped


def _probe_census_sql(
    num_hashes: int = 16, bands: int = 2, max_bucket: int = _LSH_MAX_BUCKET
) -> str:
    """DuckDB rendering of dedup.lsh_probe_truncation_census over the
    %4 ingest split: band keys over the full corpus, per-bucket
    occupancy split into batch (doc_id % 4 = 0) and prior-corpus
    slots, censused over batch-TOUCHED buckets only."""
    from rust_dms_cdc_operator_spark.operators.dedup import (  # noqa: PLC0415
        _MERSENNE,
        _mix_a,
        _mix_b,
    )

    rows = num_hashes // bands
    sigs = ", ".join(
        "list_aggregate(list_transform(wh, "
        f"h -> ({_mix_a(i)} * h + {_mix_b(i)}) % {_MERSENNE}), 'min') AS mh_{i}"
        for i in range(num_hashes)
    )
    band_exprs = [
        " || '|' || ".join(f"mh_{b * rows + r}::VARCHAR" for r in range(rows))
        for b in range(bands)
    ]
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS bk, {i} AS band_idx FROM sigs"
        for i, b in enumerate(band_exprs)
    )
    hot = f"cb + cc > {max_bucket}"
    return f"""
        WITH wh AS (
          SELECT doc_id,
                 list_transform(list_distinct(string_split(text, ' ')),
                                w -> {_sql_hex_to_long('md5(w)', 8)}) AS wh
          FROM documents),
        sigs AS (SELECT doc_id, {sigs} FROM wh),
        banded AS ({band_selects}),
        occ AS (SELECT band_idx, bk,
                  sum(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END) AS cb,
                  sum(CASE WHEN doc_id % 4 <> 0 THEN 1 ELSE 0 END) AS cc
                FROM banded GROUP BY 1, 2)
        SELECT band_idx,
               CAST(count(*) AS BIGINT) AS n_buckets_touched,
               CAST(coalesce(sum(CASE WHEN {hot} THEN 1 ELSE 0 END), 0)
                 AS BIGINT) AS n_hot_buckets,
               CAST(coalesce(sum(CASE WHEN {hot} THEN cb ELSE 0 END), 0)
                 AS BIGINT) AS n_batch_slots_hot,
               CAST(coalesce(sum(CASE WHEN {hot} THEN cc ELSE 0 END), 0)
                 AS BIGINT) AS n_corpus_slots_hot
        FROM occ WHERE cb > 0 GROUP BY band_idx
    """


def q_dedup_probe_truncation_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The probe-side no-silent-cap report for
    dedup_incremental_pairs_capped
    (operators/dedup.lsh_probe_truncation_census): per band, how many
    buckets the ingest batch touched, how many were over-cap at
    full-corpus occupancy, and how many batch/corpus key slots sat
    inside them — the candidates the capped probe did NOT enumerate
    (a doc in a hot bucket still pairs via its other bands). One
    batch-sized agg + one keyed join against the occupancy artifact;
    one row per band — bounded driver output at any scale. A
    deployment alerts on this exactly like the batch-side
    dedup_lsh_hot_buckets census."""
    from rust_dms_cdc_operator_spark.operators.dedup import (  # noqa: PLC0415
        band_key_bucket_counts,
        lsh_probe_truncation_census,
        minhash_band_keys,
    )

    d = _t(spark, sf_dir, "documents")
    keys_b = minhash_band_keys(
        d.filter(F.col("doc_id") % 4 == 0), "doc_id", "text",
        num_hashes=16, bands=2,
    )
    keys_c = minhash_band_keys(
        d.filter(F.col("doc_id") % 4 != 0), "doc_id", "text",
        num_hashes=16, bands=2,
    )
    return lsh_probe_truncation_census(
        keys_b, max_bucket=_LSH_MAX_BUCKET,
        corpus_bucket_counts=band_key_bucket_counts(keys_c),
    )


ORACLE_SQL_LLM["dedup_probe_truncation_census"] = _probe_census_sql()
QUERIES_LLM["dedup_probe_truncation_census"] = q_dedup_probe_truncation_census


def q_dedup_bucket_counts_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The occupancy artifact's ADDITIVE per-ingest maintenance
    (operators/dedup.merge_bucket_counts): fold the batch's band keys
    into the persisted corpus counts; the merged table must equal a
    from-scratch census over the full corpus — which is exactly what
    the oracle computes (per-(band, bk) occupancy of all docs). This
    is the step that keeps probe-side capping O(batch) at every
    epoch: no corpus scan ever re-derives occupancies."""
    from rust_dms_cdc_operator_spark.operators.dedup import (  # noqa: PLC0415
        band_key_bucket_counts,
        merge_bucket_counts,
        minhash_band_keys,
    )

    d = _t(spark, sf_dir, "documents")
    keys_b = minhash_band_keys(
        d.filter(F.col("doc_id") % 4 == 0), "doc_id", "text",
        num_hashes=16, bands=2,
    )
    keys_c = minhash_band_keys(
        d.filter(F.col("doc_id") % 4 != 0), "doc_id", "text",
        num_hashes=16, bands=2,
    )
    return merge_bucket_counts(band_key_bucket_counts(keys_c), keys_b)


def _bucket_counts_sql(num_hashes: int = 16, bands: int = 2) -> str:
    """DuckDB rendering of band_key_bucket_counts over the FULL
    corpus — the from-scratch census the additive merge must equal."""
    from rust_dms_cdc_operator_spark.operators.dedup import (  # noqa: PLC0415
        _MERSENNE,
        _mix_a,
        _mix_b,
    )

    rows = num_hashes // bands
    sigs = ", ".join(
        "list_aggregate(list_transform(wh, "
        f"h -> ({_mix_a(i)} * h + {_mix_b(i)}) % {_MERSENNE}), 'min') AS mh_{i}"
        for i in range(num_hashes)
    )
    band_exprs = [
        " || '|' || ".join(f"mh_{b * rows + r}::VARCHAR" for r in range(rows))
        for b in range(bands)
    ]
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS bk, {i} AS band FROM sigs"
        for i, b in enumerate(band_exprs)
    )
    return f"""
        WITH wh AS (
          SELECT doc_id,
                 list_transform(list_distinct(string_split(text, ' ')),
                                w -> {_sql_hex_to_long('md5(w)', 8)}) AS wh
          FROM documents),
        sigs AS (SELECT doc_id, {sigs} FROM wh),
        banded AS ({band_selects})
        SELECT band, bk, CAST(count(*) AS BIGINT) AS c
        FROM banded GROUP BY 1, 2
    """


ORACLE_SQL_LLM["dedup_bucket_counts_merge"] = _bucket_counts_sql()
QUERIES_LLM["dedup_bucket_counts_merge"] = q_dedup_bucket_counts_merge


def q_orders_open_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval concurrency by sweep — how many orders are OPEN
    (placed, not yet fully shipped) on each day. The naive form is a
    per-day interval containment join (days x orders — quadratic);
    the sweep form emits +1 at o_orderdate and -1 the day after the
    order's LAST shipment, aggregates deltas to date grain, and takes
    a running sum over the (calendar-bounded) day table. This is the
    standard trick for 'concurrent sessions / open tickets / active
    loans over time' at any scale: one order-key agg, one date-grain
    agg, one bounded cumsum window. Orders with no lineitems never
    close — they contribute +1 forever, which is the honest reading
    of 'not yet shipped'."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.to_date("o_orderdate").alias("start_d")
    )
    li = _t(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.max(F.to_date("l_shipdate")).alias("last_ship")
    )
    j = o.join(li, o["o_orderkey"] == li["l_orderkey"], "left")
    opens = j.select(F.col("start_d").alias("d"), F.lit(1).alias("delta"))
    closes = j.filter(F.col("last_ship").isNotNull()).select(
        F.date_add(F.col("last_ship"), 1).alias("d"),
        F.lit(-1).alias("delta"),
    )
    daily = (
        opens.unionByName(closes)
        .groupBy("d")
        .agg(F.sum("delta").cast("long").alias("net"))
    )
    w = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return daily.select(
        F.col("d").alias("day"),
        "net",
        F.sum("net").over(w).alias("open_orders"),
    )


ORACLE_SQL_LLM["orders_open_backlog_daily"] = """
    WITH o AS (
      SELECT o_orderkey, CAST(o_orderdate AS DATE) AS start_d FROM orders),
    li AS (
      SELECT l_orderkey, max(CAST(l_shipdate AS DATE)) AS last_ship
      FROM lineitem GROUP BY 1),
    j AS (
      SELECT o.start_d, li.last_ship
      FROM o LEFT JOIN li ON li.l_orderkey = o.o_orderkey),
    deltas AS (
      SELECT start_d AS d, 1 AS delta FROM j
      UNION ALL
      SELECT last_ship + 1, -1 FROM j WHERE last_ship IS NOT NULL),
    daily AS (
      SELECT d, CAST(sum(delta) AS BIGINT) AS net
      FROM deltas GROUP BY 1)
    SELECT d AS day, net,
           CAST(sum(net) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
             AS BIGINT) AS open_orders
    FROM daily
"""
QUERIES_LLM["orders_open_backlog_daily"] = q_orders_open_backlog_daily


def q_stream_late_data_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DATA semantics, oracle-checked: the event stream
    replays as three mtime-ordered microbatches — on-time early hours
    (f1, minus a withheld slice), the remaining hours (f2, carrying
    the corpus max event time), then the withheld early-hour slice
    arriving LAST (f3, genuinely late). With a 1-hour watermark in
    append mode, batch 3's late rows sit far below the watermark the
    f2 batch advanced, so they are DROPPED from state and from
    output; windows newer than (max event time − 1h) never finalize
    and never emit. The DuckDB oracle states that contract directly:
    hourly counts over the NON-late rows, restricted to windows whose
    end precedes the final watermark — no streaming machinery, just
    the semantics. The split/late rules are exact integer arithmetic
    on epoch-hours, so both engines agree on every boundary.
    (maxFilesPerTrigger=1 + strictly increasing mtimes pin the batch
    order — the repo's established replay determinism contract.)"""
    import glob  # noqa: PLC0415

    from rust_dms_cdc_operator_spark.fixtures import read_events  # noqa: PLC0415

    e = read_events(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    hr = F.floor(F.unix_timestamp("ts") / 3600).cast("long")
    bounds = e.agg(
        F.min(hr).alias("hmin"), F.max(hr).alias("hmax")
    ).first()
    cut = bounds["hmin"] + (bounds["hmax"] - bounds["hmin"]) * 3 // 5
    is_early = hr <= F.lit(cut)
    # the withheld slice stays >= 2 hours BELOW the cut: its windows are
    # closed under the watermark whether the runtime batches f3 alone
    # (watermark from f2's max) or together with f2 (watermark from
    # f1's max ≈ cut) — the drop decision is identical either way, so
    # the census is batching-invariant, not a fluke of trigger sizing
    is_late_slice = (hr <= F.lit(cut - 2)) & (F.col("event_id") % 97 == 0)

    with _scratch("stream_late_data_census") as mkdir:
        src_dir = mkdir("late_stream_src_")
        for i, part in enumerate(
            (
                e.filter(is_early & ~is_late_slice),   # f1: on-time early
                e.filter(~is_early),                   # f2: advances watermark
                e.filter(is_late_slice),               # f3: arrives LAST
            )
        ):
            tmp_out = mkdir(f"late_slice_{i}_")
            part.coalesce(1).write.mode("overwrite").parquet(tmp_out)
            [pf] = glob.glob(os.path.join(tmp_out, "part-*.parquet"))
            dst = os.path.join(src_dir, f"f{i}.parquet")
            shutil.copy(pf, dst)
            os.utime(dst, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))

        out_dir = mkdir("late_stream_out_")
        ck_dir = mkdir("late_stream_ck_")

    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("events_n"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "events_n"
        )
    )

    # append mode: each finalized window arrives exactly once
    return _parquet_drain(agg, out_dir, ck_dir, "append")


ORACLE_SQL_LLM["stream_late_data_census"] = """
    WITH e AS (
      SELECT event_id, ts, event_type,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr
      FROM events),
    b AS (
      SELECT min(hr) + (max(hr) - min(hr)) * 3 // 5 AS cut,
             max(ts) AS max_ts
      FROM e),
    kept AS (
      SELECT e.* FROM e CROSS JOIN b
      WHERE NOT (e.hr <= b.cut - 2 AND e.event_id % 97 = 0)),
    counts AS (
      SELECT date_trunc('hour', ts) AS window_start, event_type,
             CAST(count(*) AS BIGINT) AS events_n
      FROM kept GROUP BY 1, 2)
    SELECT c.window_start, c.event_type, c.events_n
    FROM counts c CROSS JOIN b
    WHERE c.window_start + INTERVAL 1 HOUR
          <= b.max_ts - INTERVAL 1 HOUR
"""
QUERIES_LLM["stream_late_data_census"] = q_stream_late_data_census


def q_orders_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto skyline (cheaper is better, newer is better) per order
    priority — the multi-objective shortlist ('no other order is both
    cheaper and newer'). The textbook form is an O(n²) dominance
    self-join; the scalable form is sort-and-sweep: collapse to price
    grain (max date per price), take the running max of date over
    STRICTLY cheaper prices (one partitioned window, rows-frame with
    1-preceding on the price-grain table), and keep points whose date
    beats it — O(n log n), one shuffle on the partition key. Survivor
    rule: date > running-max(cheaper) AND date == max(date at own
    price); equal (price, date) duplicates all survive (no STRICT
    dominator exists)."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.to_date("o_orderdate").alias("od"),
    )
    pg = o.groupBy("o_orderpriority", "o_totalprice").agg(
        F.max("od").alias("pmax")
    )
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("o_totalprice")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pg = pg.withColumn("rm", F.max("pmax").over(w))
    j = o.join(pg, ["o_orderpriority", "o_totalprice"])
    return j.filter(
        (F.col("od") == F.col("pmax"))
        & (F.col("rm").isNull() | (F.col("od") > F.col("rm")))
    ).select(
        "o_orderkey", "o_orderpriority", "o_totalprice",
        F.col("od").alias("o_orderdate"),
    )


ORACLE_SQL_LLM["orders_skyline"] = """
    WITH o AS (
      SELECT o_orderkey, o_orderpriority, o_totalprice,
             CAST(o_orderdate AS DATE) AS od
      FROM orders),
    pg AS (
      SELECT o_orderpriority, o_totalprice, max(od) AS pmax
      FROM o GROUP BY 1, 2),
    r AS (
      SELECT *, max(pmax) OVER (
               PARTITION BY o_orderpriority ORDER BY o_totalprice
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS rm
      FROM pg)
    SELECT o.o_orderkey, o.o_orderpriority, o.o_totalprice,
           o.od AS o_orderdate
    FROM o JOIN r USING (o_orderpriority, o_totalprice)
    WHERE o.od = r.pmax AND (r.rm IS NULL OR o.od > r.rm)
"""
QUERIES_LLM["orders_skyline"] = q_orders_skyline


def q_dedup_simhash_bit_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch health check: per-bit balance of the 16-bit SimHash over
    the corpus. A well-mixed hash sets each bit on ~half the docs;
    a skewed bit carries no discrimination and silently degrades
    banded Hamming recall — this census catches that BEFORE a dedup
    run trusts the signature. One signature pass (reuses the
    simhash16 operator), 16 integer counts via bit-shift sums;
    skew = |2*n_set - n| exact integers, engine-identical."""
    d = _t(spark, sf_dir, "documents")
    s = simhash16(d, "doc_id", "text")
    aggs = [
        F.sum(F.shiftright(F.col("simhash"), b).bitwiseAND(F.lit(1)))
        .cast("long").alias(f"b{b}")
        for b in range(16)
    ]
    row = s.agg(F.count(F.lit(1)).cast("long").alias("n"), *aggs)
    stacked = row.selectExpr(
        "stack(16, " + ", ".join(
            f"{b}, b{b}, n" for b in range(16)
        ) + ") as (bit, n_set, n)"
    )
    return stacked.select(
        F.col("bit").cast("long").alias("bit"),
        "n_set",
        "n",
        (2 * F.col("n_set") - F.col("n")).alias("skew"),
    )


ORACLE_SQL_LLM["dedup_simhash_bit_balance"] = f"""
    WITH s AS ({_simhash_sql()}),
    bits AS (
      SELECT unnest(range(0, 16)) AS bit),
    c AS (
      SELECT b.bit,
             CAST(sum((s.simhash >> b.bit) & 1) AS BIGINT) AS n_set,
             CAST(count(*) AS BIGINT) AS n
      FROM s CROSS JOIN bits b GROUP BY b.bit)
    SELECT bit, n_set, n, 2 * n_set - n AS skew FROM c
"""
QUERIES_LLM["dedup_simhash_bit_balance"] = q_dedup_simhash_bit_balance


def q_events_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral entropy per user — the classic bot/power-user
    feature: Shannon entropy of the user's event-type distribution,
    H = ln(n) − (1/n)·Σ c·ln(c) (exact integer counts, logs only in
    the final expression, round 6). One (user, type) agg + one user
    agg — both map-side combined; no window, no join."""
    e = _t(spark, sf_dir, "events")
    ut = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        ut.groupBy("user_id")
        .agg(
            F.sum("c").alias("n"),
            F.count(F.lit(1)).alias("n_types"),
            F.sum(F.col("c") * F.log(F.col("c").cast("double"))).alias("_sc"),
        )
        .select(
            "user_id",
            "n",
            "n_types",
            F.round(
                F.log(F.col("n").cast("double"))
                - F.col("_sc") / F.col("n"),
                6,
            ).alias("entropy"),
        )
    )


ORACLE_SQL_LLM["events_user_entropy"] = """
    WITH ut AS (
      SELECT user_id, event_type, count(*) AS c
      FROM events GROUP BY 1, 2)
    SELECT user_id,
           CAST(sum(c) AS BIGINT) AS n,
           CAST(count(*) AS BIGINT) AS n_types,
           round(ln(sum(c)::DOUBLE) - sum(c * ln(c::DOUBLE)) / sum(c), 6)
             AS entropy
    FROM ut GROUP BY user_id
"""
QUERIES_LLM["events_user_entropy"] = q_events_user_entropy


def q_orders_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal index per calendar month: month's mean order value /
    the overall mean — the multiplicative seasonality census that
    precedes any forecast. Exact integer-cent sums and counts; the
    ratio is computed by integer cross-multiplication (sum_m * n_tot)
    / (n_m * sum_tot) as ONE double division, so index parity cannot
    drift on partial-sum order. The global scalars ride a 1-row
    broadcast (tagged-union form, no crossJoin)."""
    o = _t(spark, sf_dir, "orders").select(
        F.month("o_orderdate").alias("m"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    per = o.groupBy("m").agg(
        F.count(F.lit(1)).alias("n_m"),
        F.sum("cents").alias("sum_m"),
    )
    tot = per.agg(
        F.sum("n_m").alias("n_tot"), F.sum("sum_m").alias("sum_tot")
    ).first()  # two bounded driver scalars
    return per.select(
        F.col("m").cast("long").alias("month"),
        "n_m",
        "sum_m",
        F.round(
            (F.col("sum_m").cast("double") * F.lit(float(tot["n_tot"])))
            / (F.col("n_m").cast("double") * F.lit(float(tot["sum_tot"]))),
            6,
        ).alias("seasonal_index"),
    )


ORACLE_SQL_LLM["orders_seasonal_index"] = """
    WITH o AS (
      SELECT month(o_orderdate) AS m,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    per AS (
      SELECT m, CAST(count(*) AS BIGINT) AS n_m,
             CAST(sum(cents) AS BIGINT) AS sum_m
      FROM o GROUP BY 1),
    tot AS (SELECT sum(n_m)::DOUBLE AS n_tot, sum(sum_m)::DOUBLE AS sum_tot
            FROM per)
    SELECT CAST(per.m AS BIGINT) AS month, per.n_m, per.sum_m,
           round((per.sum_m::DOUBLE * tot.n_tot)
                 / (per.n_m::DOUBLE * tot.sum_tot), 6) AS seasonal_index
    FROM per CROSS JOIN tot
"""
QUERIES_LLM["orders_seasonal_index"] = q_orders_seasonal_index


def q_cdc_ambiguous_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC ordering-ambiguity census — WHY compaction needs a
    composite (commit_ts, sequence) order: real change feeds stamp
    events at BATCH grain (DMS's _dms_ingestion_timestamp is the
    batch commit time), so several changes to one key can share a
    commit stamp. At minute grain: per key, the peak same-minute
    burst and how many minutes are ambiguous — any key listed here
    would compact NONDETERMINISTICALLY under a stamp-only order (the
    reference replays files sequentially and never sees this; a
    distributed engine must prove its tiebreak). Two map-side-
    combined aggs; no window, no join; emits only ambiguous keys."""
    e = _t(spark, sf_dir, "events")
    per_min = e.groupBy(
        "user_id", F.date_trunc("minute", "ts").alias("m")
    ).agg(F.count(F.lit(1)).alias("c"))
    return (
        per_min.groupBy("user_id")
        .agg(
            F.sum("c").alias("n_events"),
            F.max("c").alias("peak_burst"),
            F.sum((F.col("c") > 1).cast("long")).alias("ambiguous_minutes"),
        )
        .filter(F.col("peak_burst") > 1)
        .select(
            "user_id",
            "n_events",
            F.col("peak_burst").cast("long").alias("peak_burst"),
            "ambiguous_minutes",
        )
    )


ORACLE_SQL_LLM["cdc_ambiguous_ordering"] = """
    WITH per_min AS (
      SELECT user_id, date_trunc('minute', ts) AS m, count(*) AS c
      FROM events GROUP BY 1, 2),
    agg AS (
      SELECT user_id,
             CAST(sum(c) AS BIGINT) AS n_events,
             CAST(max(c) AS BIGINT) AS peak_burst,
             CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS ambiguous_minutes
      FROM per_min GROUP BY 1)
    SELECT user_id, n_events, peak_burst, ambiguous_minutes
    FROM agg WHERE peak_burst > 1
"""
QUERIES_LLM["cdc_ambiguous_ordering"] = q_cdc_ambiguous_ordering


def q_lineitem_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-concentration HHI per part: Σ_s (q_s/Q)² over supplier
    quantity shares — the single-source-risk census. EXACT integer
    arithmetic end-to-end: HHI = Σ q_s² / Q² where q_s and Q are
    milli-quantity longs, emitted as numerator/denominator PLUS one
    final IEEE division — the 'ratio-bearing queries emit exact
    integers' contract. Two aggs on (part, supplier) then part; only
    multi-supplier parts are interesting, single-supplier parts are
    HHI=1 by definition and kept for the calibration read."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        F.round(F.col("l_quantity") * 1000).cast("long").alias("q"),
    )
    per_s = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("q").alias("qs")
    )
    return (
        per_s.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum("qs").alias("q_total"),
            F.sum(F.col("qs") * F.col("qs")).alias("sum_sq"),
        )
        .select(
            "l_partkey",
            "n_suppliers",
            "q_total",
            "sum_sq",
            (
                F.col("sum_sq").cast("double")
                / (F.col("q_total").cast("double") * F.col("q_total"))
            ).alias("hhi"),
        )
    )


ORACLE_SQL_LLM["lineitem_supplier_hhi"] = """
    WITH li AS (
      SELECT l_partkey, l_suppkey,
             CAST(round(l_quantity * 1000) AS BIGINT) AS q
      FROM lineitem),
    per_s AS (
      SELECT l_partkey, l_suppkey, sum(q) AS qs
      FROM li GROUP BY 1, 2)
    SELECT l_partkey,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           CAST(sum(qs) AS BIGINT) AS q_total,
           CAST(sum(qs * qs) AS BIGINT) AS sum_sq,
           sum(qs * qs)::DOUBLE
             / (sum(qs)::DOUBLE * sum(qs)::DOUBLE) AS hhi
    FROM per_s GROUP BY 1
"""
QUERIES_LLM["lineitem_supplier_hhi"] = q_lineitem_supplier_hhi


def q_events_inter_arrival_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median inter-arrival gap per user (integer seconds, lower
    median) — the bot-cadence signal: humans are bursty, schedulers
    are metronomic. One user-partitioned lag window for the gaps,
    one rank window for the order-statistic pick — the deterministic
    integer-median pattern of events_mad_anomalies (no interpolation,
    no float averaging); users with < 2 events have no gap and drop
    out."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        e.select(
            "user_id",
            (
                F.unix_timestamp("ts")
                - F.unix_timestamp(F.lag("ts").over(w))
            ).alias("gap"),
        )
        .filter(F.col("gap").isNotNull())
    )
    wr = Window.partitionBy("user_id").orderBy("gap")
    ranked = gaps.withColumn("rn", F.row_number().over(wr))
    counts = gaps.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_gaps"))
    return (
        ranked.join(counts, "user_id")
        # integral div: `/` is IEEE double division in Spark and the
        # x.5 target for even n_gaps would match no integer rank
        .filter(F.col("rn") == F.expr("(n_gaps + 1) div 2"))
        .select(
            "user_id",
            "n_gaps",
            F.col("gap").cast("long").alias("median_gap_s"),
        )
    )


ORACLE_SQL_LLM["events_inter_arrival_median"] = """
    WITH gaps AS (
      -- floor, not ::BIGINT: DuckDB's double->int cast ROUNDS while
      -- Spark's unix_timestamp truncates — 1s skew on ~half the gaps
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT)
               - CAST(floor(epoch(lag(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT)
               AS gap
      FROM events),
    g AS (SELECT * FROM gaps WHERE gap IS NOT NULL),
    r AS (
      SELECT user_id, gap,
             row_number() OVER (PARTITION BY user_id ORDER BY gap) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n_gaps
      FROM g)
    SELECT user_id, CAST(n_gaps AS BIGINT) AS n_gaps,
           CAST(gap AS BIGINT) AS median_gap_s
    FROM r WHERE rn = (n_gaps + 1) // 2
"""
QUERIES_LLM["events_inter_arrival_median"] = q_events_inter_arrival_median


def q_docs_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction — adjacent word pairs whose PMI says
    they travel together (ln(c2·N / (c1a·c1b)), support >= 5): the
    phrase-mining pass that feeds tokenizer merge candidates and
    stop-phrase lists. Count tables are vocabulary-sized (map-side
    partial agg); two unigram joins AQE-broadcasts; the 50-row cut is
    TakeOrderedAndProject on (rounded PMI desc, gram) — deterministic
    at any parallelism."""
    d = _t(spark, sf_dir, "documents")
    words = d.select(
        F.regexp_extract_all(F.col("text"), F.lit("[a-z0-9]+"), 0).alias("w")
    )
    big = F.when(
        F.size("w") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("w") - 1),
            lambda i: F.concat_ws(
                " ", F.element_at("w", i), F.element_at("w", i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    c2 = words.select(F.explode(big).alias("g")).groupBy("g").agg(
        F.count(F.lit(1)).alias("c2")
    )
    c1 = words.select(F.explode("w").alias("tok")).groupBy("tok").agg(
        F.count(F.lit(1)).alias("c1")
    )
    total = c1.agg(F.sum("c1")).first()[0] or 1  # bounded driver scalar
    scored = (
        c2.filter(F.col("c2") >= 5)
        .withColumn("w1", F.split_part(F.col("g"), F.lit(" "), F.lit(1)))
        .withColumn("w2", F.split_part(F.col("g"), F.lit(" "), F.lit(2)))
        .join(c1.select(F.col("tok").alias("w1"), F.col("c1").alias("c1a")),
              "w1")
        .join(c1.select(F.col("tok").alias("w2"), F.col("c1").alias("c1b")),
              "w2")
        .select(
            "g",
            F.col("c2").alias("support"),
            F.round(
                F.log(
                    F.col("c2").cast("double") * F.lit(float(total))
                    / (F.col("c1a").cast("double") * F.col("c1b"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.col("pmi").desc(), F.col("g")).limit(50)


ORACLE_SQL_LLM["docs_collocations"] = """
    WITH words AS (
      SELECT regexp_extract_all(text, '[a-z0-9]+') AS w FROM documents),
    big AS (
      SELECT unnest(list_transform(
               range(greatest(len(w) - 1, 0)),
               i -> w[i+1] || ' ' || w[i+2])) AS g
      FROM words),
    uni AS (SELECT unnest(w) AS tok FROM words),
    c2 AS (SELECT g, count(*) AS c2 FROM big GROUP BY 1),
    c1 AS (SELECT tok, count(*) AS c1 FROM uni GROUP BY 1),
    tot AS (SELECT sum(c1)::DOUBLE AS total FROM c1),
    scored AS (
      SELECT c2.g, CAST(c2.c2 AS BIGINT) AS support,
             round(ln(c2.c2::DOUBLE * tot.total
                      / (a.c1::DOUBLE * b.c1)), 6) AS pmi
      FROM c2
      JOIN c1 a ON a.tok = split_part(c2.g, ' ', 1)
      JOIN c1 b ON b.tok = split_part(c2.g, ' ', 2)
      CROSS JOIN tot
      WHERE c2.c2 >= 5)
    SELECT g, support, pmi FROM scored
    ORDER BY pmi DESC, g LIMIT 50
"""
QUERIES_LLM["docs_collocations"] = q_docs_collocations


def _group_cohesion_body(d: DataFrame, pairs: DataFrame) -> DataFrame:
    """Shared body of dedup_group_cohesion / *_capped: CC labels over
    the given pair stream, exact hashed-shingle Jaccard per LSH edge,
    one group agg (size, n_edges, min/max jaccard). The pair stream
    must already be persisted by the caller — it feeds BOTH the CC
    iteration and the exact-verify joins.

    Round-11 verify rework (the r10 verdict's cohesion-wall item —
    the shared-token-agg trick the ORACLE already used, applied
    engine-side): the old body dragged two full shingle arrays
    through every pair row, so the second attach join shuffled
    |pairs| x ~0.4 KB (~84 GB at native sf1). Shingle lists are
    DISTINCT (hashed_shingle_set), so the shared-token equi-join's
    per-pair row count IS |A inter B|: explode the participating
    docs' shingles narrow (the CC label table doubles as the
    participant list — no extra distinct over the pair stream), count
    shared tokens per doc pair, and LEFT-join those exact inter
    counts back onto the pair stream (absent pair -> inter 0). Every
    pair-stream shuffle is now ~16-24 B/row; the token join is
    intra-cluster-bounded (measured sf0.1: 1.16M joined rows vs 2.08M
    pairs — SMALLER than the pair stream). Measured 97 -> ~36 s at
    native sf1; oracle unchanged (it had this shape since r9)."""
    from rust_dms_cdc_operator_spark.operators.dedup import (  # noqa: PLC0415
        hashed_shingle_set,
    )
    from rust_dms_cdc_operator_spark.operators.graph import (  # noqa: PLC0415
        dedup_groups,
    )

    # the CC label table has THREE consumers (participant join, edge
    # group attach, member counts) — materialized once, or each re-runs
    # the post-checkpoint resolve joins (caller-owned via the returned
    # lazy plan, same convention as the pair cache)
    groups = materialize_cache(dedup_groups(pairs))
    from rust_dms_cdc_operator_spark.session import (  # noqa: PLC0415
        scan_parallelism_floor,
    )

    # the broadcast participant join keeps the (single-file) scan's
    # partitioning, so the shingle-hash stage ran serial — floor it
    # (no-op at scale)
    sh = scan_parallelism_floor(
        d.join(groups.select("doc_id", "group_id"), "doc_id").select(
            "doc_id", "group_id", "text"
        )
    ).select(
        "doc_id", "group_id", hashed_shingle_set(F.col("text"), 3).alias("h")
    )
    sizes = sh.select("doc_id", F.size("h").cast("long").alias("sz"))
    tokh = sh.select("doc_id", "group_id", F.explode("h").alias("tok"))
    # every LSH edge lies inside one CC group, so keying the shared-token
    # join on (group_id, tok) drops only cross-group co-tokens: a hot
    # token costs Σ group_size² rows, not its corpus-wide frequency²
    st = (
        tokh.select(F.col("doc_id").alias("id_a"), "group_id", "tok")
        .join(
            tokh.select(F.col("doc_id").alias("id_b"), "group_id", "tok"),
            ["group_id", "tok"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
    )
    inter = F.coalesce(F.col("inter"), F.lit(0)).cast("long")
    scored = (
        pairs.join(st, ["id_a", "id_b"], "left")
        .join(
            sizes.select(F.col("doc_id").alias("id_a"),
                         F.col("sz").alias("sza")),
            "id_a")
        .join(
            sizes.select(F.col("doc_id").alias("id_b"),
                         F.col("sz").alias("szb")),
            "id_b")
        .select(
            "id_a",
            "id_b",
            inter.alias("inter"),
            (F.col("sza") + F.col("szb") - inter).cast("long").alias("uni"),
        )
        .withColumn(
            "jac", F.col("inter").cast("double") / F.col("uni")
        )
    )
    edges = scored.join(
        groups.select(F.col("doc_id").alias("id_a"), "group_id"), "id_a"
    )
    members = groups.groupBy("group_id").agg(
        F.count(F.lit(1)).alias("group_size")
    )
    return (
        edges.groupBy("group_id")
        .agg(
            F.count(F.lit(1)).alias("n_edges"),
            F.min("jac").alias("min_jaccard"),
            F.max("jac").alias("max_jaccard"),
        )
        .join(members, "group_id")
        .select(
            "group_id", "group_size", "n_edges",
            "min_jaccard", "max_jaccard",
        )
    )


def q_dedup_group_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup over-merge audit: connected components CHAIN — A~B and
    B~C group A with C even when sim(A,C) is tiny. Per near-dup
    group: size, edge count, and the min/max EXACT Jaccard over its
    LSH edges — a group whose min edge similarity is far below the
    intended threshold was built by chaining and deserves review
    before a canonical doc replaces the rest. Reuses the banded LSH
    pair stream + exact hashed-shingle verify (the lsh_verified
    machinery) and the CC labels; one group agg over the edge list.
    Jaccard stays an exact integer PAIR (inter, union) plus one IEEE
    division.

    EXACT MODE: rides the UNCAPPED pair stream, whose volume on the
    adversarial fixture grows with quadratic bucket occupancy (97x
    pairs across the 10x step). The deployment path is
    dedup_group_cohesion_capped (same operator over the hot-bucket-
    capped stream + truncation census). This form stays on the
    record as the exactness baseline, like its graph-family siblings."""
    d = _t(spark, sf_dir, "documents")
    # the pair stream feeds the CC iteration AND the exact-verify
    # joins — materialize it once or every consumer re-runs the
    # banded LSH self-join. Round 13: eager cache, not checkpoint —
    # the r12 lineage cut serialized the corpus-quadratic stream
    # through the block store and OOMed the local[32] bench at sf1
    # (A/B in materialize_leaf's docstring).
    pairs = materialize_cache(minhash_lsh_pairs(
        d, "doc_id", "text", num_hashes=16, bands=2, salt=8
    ))
    return _group_cohesion_body(d, pairs)


def _cohesion_oracle_sql(pairs_block: str) -> str:
    """DuckDB mirror of _group_cohesion_body over the given pairs
    CTE body (uncapped or hot-bucket-capped _minhash_sql)."""
    return f"""
    WITH RECURSIVE pairs AS MATERIALIZED ({pairs_block}),
    sym AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
    lbl(node, comp) AS (
      SELECT a, LEAST(a, MIN(b)) FROM sym GROUP BY a
      UNION
      SELECT s.b, l.comp
      FROM lbl l JOIN sym s ON s.a = l.node
      WHERE l.comp < s.b
    ),
    g AS (SELECT node AS doc_id, MIN(comp) AS group_id
          FROM lbl GROUP BY node),
    {_SHINGLES},
    hsh AS (SELECT doc_id,
                   list_distinct(list_transform(s,
                     x -> {_sql_hex_to_long("md5(x)", 8)})) AS h
            FROM sh),
    -- evaluation shape only (r9): dragging two full shingle arrays
    -- through every LSH pair row spilled ~80 GB at native sf1; the
    -- shared-token equi-join's per-pair row count IS |A inter B|
    -- (shingle lists are distinct), so a narrow hash agg + LEFT JOIN
    -- (absent pair -> inter 0) computes identical rows
    tokh AS (SELECT doc_id, unnest(h) AS tok FROM hsh),
    st AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  count(*) AS inter
           FROM tokh a JOIN tokh b
             ON a.tok = b.tok AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
    szs AS (SELECT doc_id, len(h) AS sz FROM hsh),
    scored AS (
      SELECT p.id_a, p.id_b,
             coalesce(st.inter, 0) AS inter,
             za.sz + zb.sz - coalesce(st.inter, 0) AS uni
      FROM pairs p
      LEFT JOIN st ON st.id_a = p.id_a AND st.id_b = p.id_b
      JOIN szs za ON za.doc_id = p.id_a
      JOIN szs zb ON zb.doc_id = p.id_b),
    edges AS (
      SELECT ga.group_id,
             CAST(inter AS DOUBLE) / uni AS jac
      FROM scored s JOIN g ga ON ga.doc_id = s.id_a),
    members AS (
      SELECT group_id, CAST(count(*) AS BIGINT) AS group_size
      FROM g GROUP BY 1)
    SELECT e.group_id, m.group_size,
           CAST(count(*) AS BIGINT) AS n_edges,
           min(e.jac) AS min_jaccard,
           max(e.jac) AS max_jaccard
    FROM edges e JOIN members m USING (group_id)
    GROUP BY e.group_id, m.group_size
"""


ORACLE_SQL_LLM["dedup_group_cohesion"] = _cohesion_oracle_sql(_minhash_sql())
QUERIES_LLM["dedup_group_cohesion"] = q_dedup_group_cohesion


def q_docs_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit over the top-1000 vocabulary: OLS slope
    of ln(freq) on ln(rank) — natural text sits near −1; template
    spam and synthetic boilerplate bend the curve. The vocabulary agg
    is map-side combined; the 1000-row head is a TakeOrdered cut
    ((count desc, token) — deterministic), and the regression runs
    over those 1000 rows in one closed-form agg. One output row."""
    d = _t(spark, sf_dir, "documents")
    counts = (
        d.select(
            F.explode(
                F.regexp_extract_all(F.col("text"), F.lit("[a-z0-9]+"), 0)
            ).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = counts.orderBy(F.col("c").desc(), F.col("tok")).limit(1000)
    w = Window.orderBy(F.col("c").desc(), F.col("tok"))
    xy = top.select(
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    return xy.agg(
        F.count(F.lit(1)).alias("n_ranks"),
        F.round(
            (F.count(F.lit(1)) * F.sum(F.col("x") * F.col("y"))
             - F.sum("x") * F.sum("y"))
            / (F.count(F.lit(1)) * F.sum(F.col("x") * F.col("x"))
               - F.sum("x") * F.sum("x")),
            6,
        ).alias("zipf_slope"),
    )


ORACLE_SQL_LLM["docs_zipf_fit"] = """
    WITH counts AS (
      SELECT tok, count(*) AS c
      FROM (SELECT unnest(regexp_extract_all(text, '[a-z0-9]+')) AS tok
            FROM documents)
      GROUP BY 1),
    top AS (SELECT * FROM counts ORDER BY c DESC, tok LIMIT 1000),
    xy AS (
      SELECT ln(CAST(row_number() OVER (ORDER BY c DESC, tok) AS DOUBLE))
               AS x,
             ln(c::DOUBLE) AS y
      FROM top)
    SELECT CAST(count(*) AS BIGINT) AS n_ranks,
           round((count(*) * sum(x * y) - sum(x) * sum(y))
                 / (count(*) * sum(x * x) - sum(x) * sum(x)), 6)
             AS zipf_slope
    FROM xy
"""
QUERIES_LLM["docs_zipf_fit"] = q_docs_zipf_fit


def q_events_benford_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit forensics on the value column: observed
    leading-digit counts vs the Benford expectation log10(1+1/d) —
    fabricated or unit-mangled metrics jump out as digit-mass
    anomalies. Leading digit by STRING head of the milli-value
    integer (no float log tricks — exact on both engines); one
    9-bucket agg; expected shares are literals."""
    import math as _math  # noqa: PLC0415

    e = _t(spark, sf_dir, "events")
    milli = F.round(F.col("value") * 1000).cast("long")
    d1 = F.substring(milli.cast("string"), 1, 1).cast("long")
    obs = (
        e.select(d1.alias("digit"))
        .filter((F.col("digit") >= 1) & (F.col("digit") <= 9))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = obs.agg(F.sum("n")).first()[0] or 1  # bounded driver scalar
    benford = {d: _math.log10(1 + 1 / d) for d in range(1, 10)}
    exp_expr = None
    for d, p in benford.items():
        c = F.when(F.col("digit") == d, F.lit(round(p, 6)))
        exp_expr = c if exp_expr is None else exp_expr.when(
            F.col("digit") == d, F.lit(round(p, 6))
        )
    return obs.select(
        "digit",
        "n",
        (F.col("n").cast("double") / F.lit(float(total))).alias("observed"),
        exp_expr.alias("benford"),
    )


ORACLE_SQL_LLM["events_benford_check"] = """
    WITH m AS (
      SELECT CAST(round(value * 1000) AS BIGINT) AS milli FROM events),
    d AS (
      SELECT CAST(substr(CAST(milli AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM m),
    obs AS (
      SELECT digit, CAST(count(*) AS BIGINT) AS n
      FROM d WHERE digit BETWEEN 1 AND 9 GROUP BY 1),
    tot AS (SELECT sum(n)::DOUBLE AS total FROM obs)
    SELECT obs.digit, obs.n,
           obs.n::DOUBLE / tot.total AS observed,
           CAST(CASE obs.digit
             WHEN 1 THEN 0.30103 WHEN 2 THEN 0.176091
             WHEN 3 THEN 0.124939 WHEN 4 THEN 0.09691
             WHEN 5 THEN 0.079181 WHEN 6 THEN 0.066947
             WHEN 7 THEN 0.057992 WHEN 8 THEN 0.051153
             ELSE 0.045757 END AS DOUBLE) AS benford
    FROM obs CROSS JOIN tot
"""
QUERIES_LLM["events_benford_check"] = q_events_benford_check


def q_lineitem_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order→ship latency distribution: exact day gaps bucketed into
    capped week bins (0..8+, integer arithmetic only) per return
    flag — the fulfillment-SLA histogram. One order-key join
    (orders side prunes to two columns at the scan), one bucket agg;
    datediff is exact integer days on both engines."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.to_date("o_orderdate").alias("od")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", F.to_date("l_shipdate").alias("sd")
    )
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"])
    days = F.datediff(F.col("sd"), F.col("od"))
    bucket = F.least(
        F.floor(days / 7).cast("long"), F.lit(8).cast("long")
    )
    return (
        j.filter(days >= 0)
        .groupBy("l_returnflag", bucket.alias("week_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(days).cast("long").alias("min_days"),
            F.max(days).cast("long").alias("max_days"),
        )
    )


ORACLE_SQL_LLM["lineitem_ship_latency"] = """
    WITH j AS (
      SELECT li.l_returnflag,
             date_diff('day', CAST(o.o_orderdate AS DATE),
                       CAST(li.l_shipdate AS DATE)) AS days
      FROM lineitem li JOIN orders o ON o.o_orderkey = li.l_orderkey)
    SELECT l_returnflag,
           CAST(least(days // 7, 8) AS BIGINT) AS week_bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(days) AS BIGINT) AS min_days,
           CAST(max(days) AS BIGINT) AS max_days
    FROM j WHERE days >= 0
    GROUP BY 1, 2
"""
QUERIES_LLM["lineitem_ship_latency"] = q_lineitem_ship_latency


# -------------------------------------------------- round 8 additions
QUERIES_LLM["dedup_lsh_hot_buckets"] = q_dedup_lsh_hot_buckets


def q_docs_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Xie et al., "Data Selection for
    Language Models via Importance Resampling"): score every document
    by how much its hashed-bigram distribution looks like a TARGET
    corpus (here lang='en') relative to the RAW pool — the standard
    lever for up-sampling in-domain text when building a training mix.
    weight(d) = sum over d's bigrams of ln((target_cnt(b)+1) /
    (raw_cnt(b)+1)) over B=4096 md5-hashed buckets.

    Scale shape: one bigram explode (corpus-token-sized, same as every
    shingle query); BOTH count tables are bounded by B=4096 rows, so
    they reduce map-side and join back as BROADCASTS — no shuffle
    carries the vocabulary; the only wide exchanges are the (doc_id,
    bucket) multiplicity agg and the final per-doc sum. At 100 TB the
    plan is identical: B stays 4096 no matter the corpus."""
    from rust_dms_cdc_operator_spark.operators.dedup import (  # noqa: PLC0415
        hex_to_long,
    )

    B = 4096
    d = _t(spark, sf_dir, "documents")
    tk = F.split(F.col("text"), " ")
    bigrams = F.when(F.size(tk) < 2, F.array()).otherwise(
        F.expr(
            "transform(sequence(0, size(split(text, ' ')) - 2), "
            "i -> concat(element_at(split(text, ' '), i + 1), ' ', "
            "element_at(split(text, ' '), i + 2)))"
        )
    )
    from rust_dms_cdc_operator_spark.session import (  # noqa: PLC0415
        scan_parallelism_floor,
    )

    # round 12: floor the bigram-explode + md5-bucket stage (no-op at
    # scale)
    bb = scan_parallelism_floor(d.select("doc_id", "lang", "text")).select(
        "doc_id",
        "lang",
        F.explode(bigrams).alias("bg"),
    ).select(
        "doc_id", "lang", (hex_to_long(F.md5("bg"), 8) % B).alias("b")
    )
    raw_cnt = bb.groupBy("b").agg(F.count(F.lit(1)).alias("r"))
    tgt_cnt = (
        bb.filter(F.col("lang") == "en")
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    counts = F.broadcast(
        raw_cnt.join(tgt_cnt, "b", "left").select(
            "b", "r", F.coalesce("t", F.lit(0)).alias("t")
        )
    )
    per_doc_b = bb.groupBy("doc_id", "b").agg(
        F.count(F.lit(1)).alias("m")
    )
    return (
        per_doc_b.join(counts, "b")
        .groupBy("doc_id")
        .agg(
            F.sum("m").cast("long").alias("n_bigrams"),
            F.round(
                F.sum(
                    F.col("m")
                    * F.log(
                        (F.col("t") + F.lit(1.0)) / (F.col("r") + F.lit(1.0))
                    )
                ),
                6,
            ).alias("dsir_logweight"),
        )
    )


ORACLE_SQL_LLM["docs_dsir_weights"] = f"""
    WITH tk AS (
      SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
    bg AS (
      SELECT doc_id, lang,
             unnest(list_transform(range(len(t) - 1),
                    i -> t[i+1] || ' ' || t[i+2])) AS bg
      FROM tk WHERE len(t) >= 2),
    bb AS (
      SELECT doc_id, lang,
             ({_sql_hex_to_long('md5(bg)', 8)}) % 4096 AS b
      FROM bg),
    cr AS (SELECT b, count(*) AS r FROM bb GROUP BY 1),
    ct AS (SELECT b, count(*) AS t FROM bb WHERE lang = 'en' GROUP BY 1),
    dm AS (SELECT doc_id, b, count(*) AS m FROM bb GROUP BY 1, 2)
    SELECT dm.doc_id,
           CAST(sum(dm.m) AS BIGINT) AS n_bigrams,
           round(sum(dm.m * ln((coalesce(ct.t, 0) + 1.0) / (cr.r + 1.0))),
                 6) AS dsir_logweight
    FROM dm JOIN cr USING (b) LEFT JOIN ct USING (b)
    GROUP BY dm.doc_id
"""
QUERIES_LLM["docs_dsir_weights"] = q_docs_dsir_weights


# the event queries' HLL width: 512 registers over a 48-bit md5 slice;
# the register pass and the denominator must use the same pair
_EVENT_HLL = {"p": 9, "hash_chars": 12}


def q_events_hll_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily distinct-user census as an EXACT-INTEGER HyperLogLog: the
    mergeable sketch a 100 TB pipeline keeps instead of per-day
    count-distinct state (operators/sketch.hll_registers +
    hll_scaled_sum at hash_chars=12). p=9 (512 registers); h = 48-bit
    md5 of the user id; register = max over hits of rho (leading-zero
    rank of the upper 39 bits). The HLL denominator sum(2^-M) is
    emitted SCALED BY 2^40 — a dyadic rational, so it is an exact
    BIGINT both engines compute bit-identically (the float estimate is
    a driver-side formula over these integers). exact_users rides
    along so the sketch's error is auditable per day.

    Scale shape: registers reduce map-side to <= 512 rows/day before
    the shuffle (groupBy(day, bucket).max); the per-day rollup then
    touches 512 rows — state is CONSTANT in the corpus, the whole
    point of the sketch. The exact count is one distinct agg on the
    same (day, user) partitioning."""
    from rust_dms_cdc_operator_spark.operators.sketch import (  # noqa: PLC0415
        hll_registers,
        hll_scaled_sum,
    )

    e = _t(spark, sf_dir, "events").select(
        F.to_date("ts").alias("event_date"), "user_id"
    )
    regs = hll_registers(
        e.select("event_date", F.col("user_id").cast("string").alias("u")),
        "u", ["event_date"], **_EVENT_HLL,
    )
    per_day = hll_scaled_sum(regs, ["event_date"], **_EVENT_HLL)
    exact = e.groupBy("event_date").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return per_day.join(exact, "event_date").select(
        "event_date",
        "exact_users",
        F.col("m_hit").alias("used_registers"),
        F.col("s_scaled").alias("denom_scaled"),
    )


ORACLE_SQL_LLM["events_hll_daily_users"] = f"""
    WITH e AS (
      SELECT CAST(ts AS DATE) AS event_date, user_id,
             {_sql_hex_to_long("md5(CAST(user_id AS VARCHAR))", 12)} AS h
      FROM events),
    r AS (
      SELECT event_date, h % 512 AS b,
             CASE WHEN h // 512 = 0 THEN 40
                  ELSE 40 - length(bin(h // 512)) END AS rho
      FROM e),
    regs AS (
      SELECT event_date, b, max(rho) AS m FROM r GROUP BY 1, 2),
    per_day AS (
      SELECT event_date,
             CAST(count(*) AS BIGINT) AS used_registers,
             CAST(sum(CAST(pow(2, 40 - m) AS BIGINT)) AS BIGINT) AS present
      FROM regs GROUP BY 1),
    exact AS (
      SELECT event_date, CAST(count(DISTINCT user_id) AS BIGINT)
               AS exact_users
      FROM e GROUP BY 1)
    SELECT p.event_date, x.exact_users, p.used_registers,
           CAST(p.present + (512 - p.used_registers) * (1::BIGINT << 40)
                AS BIGINT) AS denom_scaled
    FROM per_day p JOIN exact x USING (event_date)
"""
QUERIES_LLM["events_hll_daily_users"] = q_events_hll_daily_users


def q_docs_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    algorithm): per document, the guaranteed-coverage subset of k-gram
    hashes — from every window of w=4 consecutive trigram hashes keep
    the minimum (rightmost position on hash ties), so any shared
    substring of >= w+k-1 tokens between two documents shares a
    fingerprint. Emits exact-integer facts per doc: k-gram count,
    fingerprint count, and the sum of the selected (hash, position)
    composites — enough for a bit-exact cross-engine check and for
    downstream overlap joins on the fingerprint set.

    Scale shape: ENTIRELY array-side — the (hash*2^24 + (2^24-1-pos))
    composite, the sliding-window minima, and the distinct/sum fold
    all run inside per-row higher-order functions, so there is NO
    explode, NO window exchange, NO shuffle at all before the final
    projection; cost is O(tokens * w) per document regardless of
    corpus size. (HOFs are interpreted per row, but this is a scan-
    local map — the plan has zero exchanges.)"""
    from rust_dms_cdc_operator_spark.operators.dedup import (  # noqa: PLC0415
        hex_to_long,
    )

    d = _t(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    shingles = F.when(
        F.size(w) < 3, F.array(F.concat_ws(" ", w))
    ).otherwise(
        F.expr(
            "transform(sequence(0, size(split(text, ' ')) - 3), "
            "i -> concat(element_at(split(text, ' '), i + 1), ' ', "
            "element_at(split(text, ' '), i + 2), ' ', "
            "element_at(split(text, ' '), i + 3)))"
        )
    )
    kh = F.transform(shingles, lambda s: hex_to_long(F.md5(s), 8))
    from rust_dms_cdc_operator_spark.session import (  # noqa: PLC0415
        scan_parallelism_floor,
    )

    # round 12: the per-row HOF fingerprint stage is compute-bound —
    # floor its parallelism (single-file scan; no-op at scale)
    base = scan_parallelism_floor(d.select("doc_id", "text")).select(
        "doc_id", kh.alias("kh")
    ).select(
        "doc_id",
        F.size("kh").cast("long").alias("n_kgrams"),
        F.expr(
            "transform(kh, (h, i) -> h * 16777216 + (16777215 - i))"
        ).alias("ch"),
    )
    wins = base.select(
        "doc_id",
        "n_kgrams",
        F.when(
            F.col("n_kgrams") < 4, F.array(F.array_min("ch"))
        ).otherwise(
            F.expr(
                "transform(sequence(0, int(n_kgrams) - 4), "
                "i -> array_min(slice(ch, i + 1, 4)))"
            )
        ).alias("wn"),
    )
    fps = F.array_distinct("wn")
    return wins.select(
        "doc_id",
        "n_kgrams",
        F.size(fps).cast("long").alias("n_fingerprints"),
        F.aggregate(
            fps, F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("fp_comp_sum"),
    )


ORACLE_SQL_LLM["docs_winnowing"] = f"""
    WITH tk AS (SELECT doc_id, string_split(text, ' ') AS w
                FROM documents),
    sh AS (SELECT doc_id,
                  CASE WHEN len(w) < 3
                       THEN [array_to_string(w, ' ')]
                       ELSE list_transform(range(len(w) - 2),
                            i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])
                  END AS s
           FROM tk),
    kh AS (SELECT doc_id,
                  list_transform(s, g -> {_sql_hex_to_long('md5(g)', 8)})
                    AS kh
           FROM sh),
    ch AS (SELECT doc_id, len(kh) AS n,
                  list_transform(range(len(kh)),
                    i -> kh[i+1] * 16777216 + (16777215 - i)) AS ch
           FROM kh),
    wins AS (SELECT doc_id, n,
                    CASE WHEN n < 4 THEN [list_aggregate(ch, 'min')]
                         ELSE list_transform(range(n - 3),
                              i -> list_aggregate(ch[i+1:i+4], 'min'))
                    END AS wn
             FROM ch)
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_kgrams,
           CAST(len(list_distinct(wn)) AS BIGINT) AS n_fingerprints,
           CAST(list_aggregate(list_distinct(wn), 'sum') AS BIGINT)
             AS fp_comp_sum
    FROM wins
"""
QUERIES_LLM["docs_winnowing"] = q_docs_winnowing


def q_docs_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted SYSTEMATIC sample (size-proportional
    probability, the classic PPS grid): lay the corpus out on a line
    by exclusive prefix sum of n_chars in doc_id order, drop K=100
    evenly spaced picks t_j = floor((2j+1)*T / 2K) on it, and keep
    every doc whose [W_i, W_i + w_i) interval contains a pick — a doc
    can win multiple picks if its weight exceeds the stride. All
    integer arithmetic, so both engines select the identical set (no
    float keys, unlike exponential-key A-ES sampling).

    Scale shape: the exclusive prefix sum comes from
    chunk.with_global_rank — per-bucket window sums + a bounded
    driver-collected per-bucket total lookup, NO single-partition
    window; the grid test is then a pure per-row closed form (two
    ceil-divs), no join against the pick list. T is one bounded
    scalar agg (the q22 literal-lookup pattern)."""
    from rust_dms_cdc_operator_spark.operators.chunk import (  # noqa: PLC0415
        with_global_rank,
    )

    K = 100
    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    total = d.agg(F.sum("n_chars").alias("_t")).collect()[0]["_t"]
    if not total:
        return d.select(
            "doc_id",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.lit(0).cast("long").alias("w_prefix"),
            F.lit(0).cast("long").alias("n_picks"),
        ).filter(F.lit(False))
    T = int(total)
    ranked = with_global_rank(
        d, ["doc_id"], weight_col="n_chars", prefix_col="w_prefix"
    )
    lo_num = F.lit(2 * K) * F.col("w_prefix") - F.lit(T)
    j_low = F.when(lo_num <= 0, F.lit(0)).otherwise(
        F.floor((lo_num + F.lit(2 * T - 1)) / F.lit(2 * T))
    )
    hi_num = (
        F.lit(2 * K) * (F.col("w_prefix") + F.col("n_chars")) - F.lit(T)
    )
    j_high = F.when(hi_num <= 0, F.lit(-1)).otherwise(
        F.floor((hi_num + F.lit(2 * T - 1)) / F.lit(2 * T)) - F.lit(1)
    )
    n_picks = (
        F.least(j_high, F.lit(K - 1)) - F.greatest(j_low, F.lit(0)) + 1
    )
    return (
        ranked.select(
            "doc_id",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.col("w_prefix").cast("long").alias("w_prefix"),
            n_picks.cast("long").alias("n_picks"),
        )
        .filter(F.col("n_picks") >= 1)
    )


ORACLE_SQL_LLM["docs_weighted_sample"] = """
    WITH p AS (
      SELECT doc_id, n_chars,
             CAST(coalesce(sum(n_chars) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS w_prefix
      FROM documents),
    t AS (SELECT CAST(sum(n_chars) AS BIGINT) AS total FROM documents),
    j AS (
      SELECT p.doc_id, p.n_chars, p.w_prefix,
             CASE WHEN 200 * p.w_prefix - t.total <= 0 THEN 0
                  ELSE (200 * p.w_prefix - t.total + 2 * t.total - 1)
                       // (2 * t.total) END AS j_low,
             CASE WHEN 200 * (p.w_prefix + p.n_chars) - t.total <= 0
                  THEN -1
                  ELSE (200 * (p.w_prefix + p.n_chars) - t.total
                        + 2 * t.total - 1) // (2 * t.total) - 1
             END AS j_high
      FROM p CROSS JOIN t)
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, w_prefix,
           CAST(least(j_high, 99) - greatest(j_low, 0) + 1 AS BIGINT)
             AS n_picks
    FROM j
    WHERE least(j_high, 99) - greatest(j_low, 0) + 1 >= 1
"""
QUERIES_LLM["docs_weighted_sample"] = q_docs_weighted_sample


def _wide_dev_expr(a, b, early_n, late_n):
    """``|a*late_n - b*early_n|`` with the cross products in
    DECIMAL(38,0) — the wide-integer twin of DuckDB's HUGEINT: exact
    to ~1e38 where bare int64 products wrap/raise at 9.2e18. Operands
    enter at DECIMAL(19,0) so each product lands exactly on Spark's
    (19+19+1 -> cap 38, scale 0) result type with no precision-loss
    rescale. Shared by q_events_histogram_drift and the synthetic
    past-2^63 agreement test."""
    return F.abs(
        a.cast("decimal(19,0)") * late_n.cast("decimal(19,0)")
        - b.cast("decimal(19,0)") * early_n.cast("decimal(19,0)")
    )


def q_events_histogram_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift census (PSI-family): per event_type, the
    total-variation distance between the ``value`` histograms of the
    EARLY and LATE halves of the time range — the data-quality gate a
    100 TB ingest runs before accepting a new snapshot into a
    training mix. 16 fixed-width bins over the global value range;
    the drift stat is emitted as the EXACT integer
    ``tvd_scaled = sum_bins |a_i*B - b_i*A|`` (TVD = that / (2AB)) so
    both engines agree bit-for-bit — no float ratios cross the
    comparison. The cross products scale as n^2 per event_type, so
    they are computed WIDE (round 10, per the r9 verdict): Spark in
    DECIMAL(38,0) via :func:`_wide_dev_expr`, DuckDB in HUGEINT
    (int128) — both exact to ~1e38, i.e. ~1e19 rows per event_type,
    and both RAISE (ANSI cast / HUGEINT overflow) rather than wrap
    beyond. No silent engine divergence remains at any magnitude
    (agreement past 2^63 is pinned by
    tests/test_llm_ops.py::test_wide_dev_expr_past_int64).
    ``top_bin``/``top_dev`` name the worst bin
    (deterministic tie-break: larger bin wins, via the exact combo
    ``dev*16 + bin``).

    Scale shape: one scan for four global scalars (the q22
    literal-lookup collect — bounded, no scalar BNLJ), then one scan
    into a (type x 16)-row map-combined aggregate; the totals join is
    broadcast-small. Bin edges are IEEE-identical across engines:
    both sides evaluate ``floor((value - lo) * 16.0 / span)`` with
    the same double literals (min/max are exact selections; the
    driver-side ``span`` subtraction is the same correctly-rounded
    IEEE op DuckDB performs), so no boundary row can flip."""
    e = _t(spark, sf_dir, "events").select(
        # NTZ parquet timestamps: cast through TIMESTAMP under the
        # session's pinned UTC zone so unix_micros == DuckDB epoch_us
        F.col("ts").cast("timestamp").alias("ts"),
        "event_type",
        "value",
    )
    g = e.agg(
        F.min(F.unix_micros("ts")).alias("t0"),
        F.max(F.unix_micros("ts")).alias("t1"),
        F.min("value").alias("v0"),
        F.max("value").alias("v1"),
    ).collect()[0]
    if g["t0"] is None:
        return e.select(
            F.col("event_type"),
            F.lit(0).cast("long").alias("early_n"),
            F.lit(0).cast("long").alias("late_n"),
            F.lit(0).cast("long").alias("tvd_scaled"),
            F.lit(0).cast("int").alias("top_bin"),
            F.lit(0).cast("long").alias("top_dev"),
        ).limit(0)
    mid = (int(g["t0"]) + int(g["t1"])) // 2
    lo = float(g["v0"])
    span = float(g["v1"]) - lo
    if span == 0.0:
        # degenerate fixture: every value identical. (v-lo)*16/0 would
        # be NaN → floor→cast wraps to 0 on Spark but ERRORS in the
        # DuckDB oracle — force bin 0 explicitly on both sides (the
        # oracle SQL carries the matching CASE WHEN g.span = 0 guard)
        nbin = F.lit(0).cast("int")
    else:
        nbin = F.least(
            F.lit(15),
            F.floor(
                (F.col("value") - F.lit(lo)) * F.lit(16.0) / F.lit(span)
            ),
        ).cast("int")
    early = F.unix_micros("ts") <= F.lit(mid)
    per_bin = (
        e.select("event_type", nbin.alias("bin"), early.alias("early"))
        .groupBy("event_type", "bin")
        .agg(
            F.sum(F.when(F.col("early"), 1).otherwise(0))
            .cast("long")
            .alias("a"),
            F.sum(F.when(~F.col("early"), 1).otherwise(0))
            .cast("long")
            .alias("b"),
        )
    )
    tot = per_bin.groupBy("event_type").agg(
        F.sum("a").alias("early_n"), F.sum("b").alias("late_n")
    )
    dev = _wide_dev_expr(
        F.col("a"), F.col("b"), F.col("early_n"), F.col("late_n")
    )
    return (
        per_bin.join(F.broadcast(tot), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("early_n").alias("early_n"),
            F.max("late_n").alias("late_n"),
            # final long casts are LOUD (ANSI raise) past 9.2e18, the
            # same failure DuckDB's CAST(HUGEINT AS BIGINT) reports —
            # the intermediates above them are exact to ~1e38
            F.sum(dev).cast("long").alias("tvd_scaled"),
            F.max(dev * 16 + F.col("bin")).alias("_combo"),
        )
        .select(
            "event_type",
            "early_n",
            "late_n",
            "tvd_scaled",
            (F.col("_combo") % 16).cast("int").alias("top_bin"),
            # integer `div`, not double `/`: dev scales as n^2 per
            # event_type, and double division is only exact below
            # 2^53 — `div` matches the DuckDB `//` at any magnitude
            # (decimal div returns LONG; loud past int64 like the cast)
            F.expr("_combo div 16").cast("long").alias("top_dev"),
        )
    )


ORACLE_SQL_LLM["events_histogram_drift"] = """
    WITH g AS (
      SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid,
             min(value) AS lo, max(value) - min(value) AS span
      FROM events),
    e AS (
      SELECT event_type,
             CASE WHEN g.span = 0 THEN 0
                  ELSE least(15, CAST(floor((value - g.lo) * 16.0 / g.span)
                                      AS BIGINT)) END AS bin,
             epoch_us(ts) <= g.mid AS early
      FROM events, g),
    per_bin AS (
      SELECT event_type, bin,
             CAST(sum(CASE WHEN early THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(sum(CASE WHEN NOT early THEN 1 ELSE 0 END) AS BIGINT)
               AS b
      FROM e GROUP BY 1, 2),
    tot AS (
      SELECT event_type, CAST(sum(a) AS BIGINT) AS early_n,
             CAST(sum(b) AS BIGINT) AS late_n
      FROM per_bin GROUP BY 1)
    SELECT p.event_type,
           max(t.early_n) AS early_n,
           max(t.late_n) AS late_n,
           -- HUGEINT (int128) products: the DuckDB twin of Spark's
           -- DECIMAL(38,0) _wide_dev_expr — exact to ~1.7e38, loud
           -- (overflow error) beyond; the final BIGINT casts raise
           -- past 9.2e18 exactly where Spark's ANSI casts do
           CAST(sum(abs(CAST(p.a AS HUGEINT) * t.late_n
                        - CAST(p.b AS HUGEINT) * t.early_n)) AS BIGINT)
             AS tvd_scaled,
           CAST(max(abs(CAST(p.a AS HUGEINT) * t.late_n
                        - CAST(p.b AS HUGEINT) * t.early_n) * 16 + p.bin)
                % 16 AS INTEGER) AS top_bin,
           CAST(max(abs(CAST(p.a AS HUGEINT) * t.late_n
                        - CAST(p.b AS HUGEINT) * t.early_n) * 16 + p.bin)
                // 16 AS BIGINT) AS top_dev
    FROM per_bin p JOIN tot t USING (event_type)
    GROUP BY 1
"""
QUERIES_LLM["events_histogram_drift"] = q_events_histogram_drift


def q_events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection over the daily event-count series,
    per event_type: the classic drift alarm a pipeline runs on ingest
    volume. The cumulative sum of (daily_count - mean) peaks at the
    day the level shifts; computed EXACTLY by scaling through the
    day count: ``cusum_t = sum_{d<=t} (c_d * days - total)`` (integer;
    the real CUSUM is that / days). The peak day is picked by the
    deterministic integer combo ``|cusum| * 100000 + (99999 -
    epoch_day)`` — max deviation wins, ties go to the EARLIEST day
    (epoch days are 5 digits until year 2243, asserted nowhere
    because the combo simply degrades to a later-day tie-break).

    Scale shape: the only shuffle is the (type x day) count — state
    is calendar-bounded (types x days rows), map-side combined. The
    running sum is a per-type window over <= days rows; no
    single-partition exchange anywhere."""
    e = _t(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day")
    )
    daily = e.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tot = daily.groupBy("event_type").agg(
        F.sum("c").alias("total"),
        F.count(F.lit(1)).cast("long").alias("days"),
    )
    j = daily.join(F.broadcast(tot), "event_type")
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cusum = F.sum(
        F.col("c") * F.col("days") - F.col("total")
    ).over(w)
    epoch_day = F.datediff(F.col("day"), F.lit("1970-01-01"))
    combo = F.abs(cusum) * 100000 + (F.lit(99999) - epoch_day)
    return (
        j.select("event_type", "days", "total", combo.alias("_combo"))
        .groupBy("event_type")
        .agg(
            F.max("days").alias("days"),
            F.max("total").alias("total"),
            F.max("_combo").alias("_best"),
        )
        .select(
            "event_type",
            "days",
            "total",
            # integer `div` (exact at any magnitude), mirroring the
            # oracle's `//` — double `/` loses bits past 2^53
            F.expr("_best div 100000").cast("long").alias("peak_dev"),
            F.date_add(
                F.lit("1970-01-01"),
                (F.lit(99999) - F.col("_best") % 100000).cast("int"),
            ).alias("peak_day"),
        )
    )


ORACLE_SQL_LLM["events_cusum_changepoint"] = """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    tot AS (
      SELECT event_type, CAST(sum(c) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS days
      FROM daily GROUP BY 1),
    cu AS (
      SELECT d.event_type, t.days, t.total,
             abs(sum(d.c * t.days - t.total) OVER (
               PARTITION BY d.event_type ORDER BY d.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
               * 100000
             + (99999 - datediff('day', DATE '1970-01-01', d.day))
               AS combo
      FROM daily d JOIN tot t USING (event_type))
    SELECT event_type, max(days) AS days, max(total) AS total,
           CAST(max(combo) // 100000 AS BIGINT) AS peak_dev,
           DATE '1970-01-01'
             + CAST(99999 - max(combo) % 100000 AS INTEGER) AS peak_day
    FROM cu GROUP BY 1
"""
QUERIES_LLM["events_cusum_changepoint"] = q_events_cusum_changepoint


def q_events_hll_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day retention via HLL register MERGES — the reason a
    100 TB pipeline keeps sketches instead of exact sets: the union
    of two days is a register-wise max (512 integers), and the
    intersection estimate falls out of inclusion-exclusion
    (|A∩B| ≈ est(A) + est(B) - est(A∪B)) WITHOUT re-scanning either
    day. Same sketch as ``events_hll_daily_users`` (hll_registers +
    hll_scaled_sum: p=9, 48-bit md5, 2^40-scaled dyadic denominators
    — exact BIGINTs both engines compute bit-identically; the float
    estimates are a driver-side formula). ``exact_retained`` rides
    along so the estimate's error is auditable per day pair.

    Scale shape: registers reduce map-side to <= 512 rows/day; the
    union merge is one max(mreg) per (day, reg) over the union of two
    (days x 512)-row frames — calendar-bounded state, constant in the
    corpus. The exact audit is one distinct + a (day,user)-keyed
    self-join, the only corpus-sized shuffle here (and exactly the
    cost the sketch path deletes in production)."""
    from rust_dms_cdc_operator_spark.operators.sketch import (  # noqa: PLC0415
        hll_registers,
        hll_scaled_sum,
    )

    e = _t(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    regs = hll_registers(
        e.select("day", F.col("user_id").cast("string").alias("u")),
        "u", ["day"], **_EVENT_HLL,
    )
    # day d+1's registers keyed by d: the pair (d, d+1) shares a key
    nxt = regs.select(F.date_sub("day", 1).alias("day"), "reg", "mreg")

    def _denom(rf: DataFrame, out: str) -> DataFrame:
        return hll_scaled_sum(rf, ["day"], **_EVENT_HLL).select(
            "day", F.col("s_scaled").alias(out)
        )

    d_a = _denom(regs, "denom_a")
    d_b = _denom(nxt, "denom_b")
    d_u = _denom(
        regs.unionByName(nxt)
        .groupBy("day", "reg")
        .agg(F.max("mreg").alias("mreg")),
        "denom_union",
    )
    du = e.distinct()
    retained = (
        du.join(
            du.select(F.date_sub("day", 1).alias("day"), "user_id"),
            ["day", "user_id"],
        )
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_retained"))
    )
    return (
        d_a.join(d_b, "day")
        .join(d_u, "day")
        .join(retained, "day", "left")
        .select(
            F.col("day").alias("event_date"),
            "denom_a",
            "denom_b",
            "denom_union",
            F.coalesce("exact_retained", F.lit(0))
            .cast("long")
            .alias("exact_retained"),
        )
    )


ORACLE_SQL_LLM["events_hll_retention"] = f"""
    WITH e AS (
      SELECT CAST(ts AS DATE) AS day, user_id,
             {_sql_hex_to_long("md5(CAST(user_id AS VARCHAR))", 12)} AS h
      FROM events),
    regs AS (
      SELECT day, h % 512 AS b,
             max(CASE WHEN h // 512 = 0 THEN 40
                      ELSE 40 - length(bin(h // 512)) END) AS m
      FROM e GROUP BY 1, 2),
    da AS (
      SELECT day,
             CAST(sum(CAST(pow(2, 40 - m) AS BIGINT))
                  + (512 - count(*)) * (1::BIGINT << 40) AS BIGINT)
               AS denom_a
      FROM regs GROUP BY 1),
    db AS (
      SELECT day - 1 AS day,
             CAST(sum(CAST(pow(2, 40 - m) AS BIGINT))
                  + (512 - count(*)) * (1::BIGINT << 40) AS BIGINT)
               AS denom_b
      FROM regs GROUP BY 1),
    merged AS (
      SELECT coalesce(a.day, b.day) AS day, coalesce(a.b, b.b) AS b,
             greatest(coalesce(a.m, 0), coalesce(b.m, 0)) AS m
      FROM regs a FULL OUTER JOIN
           (SELECT day - 1 AS day, b, m FROM regs) b
        ON a.day = b.day AND a.b = b.b),
    du AS (
      SELECT day,
             CAST(sum(CAST(pow(2, 40 - m) AS BIGINT))
                  + (512 - count(*)) * (1::BIGINT << 40) AS BIGINT)
               AS denom_union
      FROM merged GROUP BY 1),
    pairs AS (SELECT DISTINCT day, user_id FROM e),
    ret AS (
      SELECT p.day, CAST(count(*) AS BIGINT) AS exact_retained
      FROM pairs p JOIN
           (SELECT day - 1 AS day, user_id FROM pairs) q
        ON p.day = q.day AND p.user_id = q.user_id
      GROUP BY 1)
    SELECT da.day AS event_date, da.denom_a, db.denom_b, du.denom_union,
           coalesce(ret.exact_retained, 0) AS exact_retained
    FROM da JOIN db USING (day) JOIN du USING (day)
    LEFT JOIN ret USING (day)
"""
QUERIES_LLM["events_hll_retention"] = q_events_hll_retention


def q_orders_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue gain table (decile lift): customers ranked by total
    spend, cut into 10 equal-count deciles, each reporting its
    customer count, exact revenue cents, and the cumulative running
    revenue — the 'top 10% of customers drive X% of revenue' census,
    and the shape of every model-lift evaluation a training pipeline
    runs. Deciles come from operators/chunk.with_global_rank
    (boundary-bucketed two-pass rank, NO single-partition window;
    rank order = spend DESC, custkey ASC for determinism); the
    decile cut is the exact integer ``(rank-1)*10 // n`` with n from
    the q22 literal-lookup collect. The final running sum is a
    window over EXACTLY 10 rows — bounded by construction.

    Scale shape: one groupBy(custkey) shuffle for spend, the rank's
    boundary-bucketed pass, then a 10-row aggregate. Nothing here
    grows faster than |customers|."""
    from rust_dms_cdc_operator_spark.operators.chunk import (  # noqa: PLC0415
        with_global_rank,
    )

    o = _t(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "rev_cents"
        )
    )
    n = spend.count()
    if n == 0:
        return spend.select(
            F.lit(0).cast("int").alias("decile"),
            F.lit(0).cast("long").alias("customers"),
            F.lit(0).cast("long").alias("revenue_cents"),
            F.lit(0).cast("long").alias("cum_revenue_cents"),
        ).limit(0)
    ranked = with_global_rank(
        spend.select(
            "o_custkey", "rev_cents", (-F.col("rev_cents")).alias("_neg")
        ),
        ["_neg", "o_custkey"],
        rank_col="_rk",
    )
    # integer `div` keeps the decile boundary exact past 2^53 rows
    # (double `/` would round the product and flip edge ranks)
    decile = F.expr(f"((_rk - 1) * 10) div {int(n)}").cast("int")
    per = ranked.groupBy(decile.alias("decile")).agg(
        F.count(F.lit(1)).cast("long").alias("customers"),
        F.sum("rev_cents").cast("long").alias("revenue_cents"),
    )
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # 10-row frame: the global window is bounded by construction
    return per.select(
        "decile",
        "customers",
        "revenue_cents",
        F.sum("revenue_cents").over(w).cast("long").alias(
            "cum_revenue_cents"
        ),
    )


ORACLE_SQL_LLM["orders_decile_lift"] = """
    WITH spend AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS rev_cents
      FROM orders GROUP BY 1),
    ranked AS (
      SELECT rev_cents,
             row_number() OVER (ORDER BY rev_cents DESC, o_custkey)
               AS rk,
             (SELECT count(*) FROM spend) AS n
      FROM spend),
    per AS (
      SELECT CAST((rk - 1) * 10 // n AS INTEGER) AS decile,
             CAST(count(*) AS BIGINT) AS customers,
             CAST(sum(rev_cents) AS BIGINT) AS revenue_cents
      FROM ranked GROUP BY 1)
    SELECT decile, customers, revenue_cents,
           CAST(sum(revenue_cents) OVER (
             ORDER BY decile
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum_revenue_cents
    FROM per
"""
QUERIES_LLM["orders_decile_lift"] = q_orders_decile_lift


def q_docs_bloom_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination via a BLOOM FILTER over corpus 5-grams
    — the sketch a 100 TB pipeline ships instead of the corpus gram
    set: m=4096 bits as 128 x 32-bit words, k=3 salted-md5 positions.
    The build is ONE map-side-combined bit_or aggregate straight off
    the gram explode (no distinct, no gram-string shuffle — OR is
    idempotent); the probe side reads the 128-word filter as a
    LITERAL array (the q22 literal-lookup collect, the same shape as
    broadcasting the filter to 1000 executors) so per-gram membership
    is a pure expression — zero joins on the hot path. ``exact_hits``
    rides along (eval grams are bounded: broadcast join into one
    corpus gram scan) so the filter's false-positive rate is
    auditable per doc; production drops that audit and keeps only the
    constant-size sketch. bloom_hits >= exact_hits always (no false
    negatives) — asserted in tests.

    Eval set = doc_id < 40, corpus = doc_id >= 40 (the
    docs_contamination convention). Build and probe are
    operators/sketch.bloom_word_table and bloom_contains."""
    from rust_dms_cdc_operator_spark.operators.dedup import (  # noqa: PLC0415
        sliding_word_ngrams,
    )
    from rust_dms_cdc_operator_spark.operators.sketch import (  # noqa: PLC0415
        bloom_contains,
        bloom_word_table,
    )
    from rust_dms_cdc_operator_spark.session import (  # noqa: PLC0415
        scan_parallelism_floor,
    )

    d = _t(spark, sf_dir, "documents")
    # floor the gram-explode + salted-md5 build stage's parallelism
    # (single-file scan; no-op at scale)
    corpus_grams = scan_parallelism_floor(
        d.filter(F.col("doc_id") >= 40).select("text")
    ).select(
        F.explode(sliding_word_ngrams(F.col("text"), 5)).alias("g")
    )
    words = bloom_word_table(corpus_grams).collect()
    ev = d.filter(F.col("doc_id") < 40).select(
        "doc_id",
        F.explode(
            F.array_distinct(sliding_word_ngrams(F.col("text"), 5))
        ).alias("g"),
    )
    hit = bloom_contains(F.col("g"), words)
    bloom = ev.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.sum(hit).cast("long").alias("bloom_hits"),
    )
    exact = (
        corpus_grams.join(
            F.broadcast(ev.withColumnRenamed("doc_id", "_d")),
            "g",
        )
        .groupBy(F.col("_d").alias("doc_id"))
        .agg(F.countDistinct("g").cast("long").alias("exact_hits"))
    )
    return (
        bloom.join(exact, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            "bloom_hits",
            F.coalesce("exact_hits", F.lit(0)).cast("long").alias(
                "exact_hits"
            ),
        )
    )


def _sql_bloom_pos(g: str, salt: str) -> str:
    return f"({_sql_hex_to_long(f'md5({g} || {salt!r})', 8)} % 4096)"


ORACLE_SQL_LLM["docs_bloom_contamination"] = f"""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    grams AS (
      SELECT doc_id,
             list_transform(range(greatest(len(w) - 4, 0)),
               i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                    || ' ' || w[i+4] || ' ' || w[i+5]) AS gs
      FROM words),
    cg AS (
      SELECT unnest(gs) AS g FROM grams WHERE doc_id >= 40),
    pos AS (
      SELECT {_sql_bloom_pos('g', 'b1')} AS p FROM cg
      UNION ALL SELECT {_sql_bloom_pos('g', 'b2')} FROM cg
      UNION ALL SELECT {_sql_bloom_pos('g', 'b3')} FROM cg),
    bloom AS (
      SELECT CAST(p // 32 AS INTEGER) AS w,
             bit_or(1::BIGINT << CAST(p % 32 AS INTEGER)) AS bits
      FROM pos GROUP BY 1),
    ev AS (
      SELECT doc_id, unnest(list_distinct(gs)) AS g
      FROM grams WHERE doc_id < 40),
    probes AS (
      SELECT doc_id, g, {_sql_bloom_pos('g', 'b1')} AS p FROM ev
      UNION ALL SELECT doc_id, g, {_sql_bloom_pos('g', 'b2')} FROM ev
      UNION ALL SELECT doc_id, g, {_sql_bloom_pos('g', 'b3')} FROM ev),
    per_gram AS (
      SELECT doc_id, g,
             min(coalesce((b.bits >> CAST(p.p % 32 AS INTEGER)) & 1, 0))
               AS hit
      FROM probes p
      LEFT JOIN bloom b ON b.w = CAST(p.p // 32 AS INTEGER)
      GROUP BY 1, 2),
    agg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
             CAST(sum(hit) AS BIGINT) AS bloom_hits
      FROM per_gram GROUP BY 1),
    exact AS (
      SELECT e.doc_id,
             CAST(count(DISTINCT e.g) AS BIGINT) AS exact_hits
      FROM ev e JOIN cg USING (g) GROUP BY 1)
    SELECT a.doc_id, a.n_grams, a.bloom_hits,
           coalesce(x.exact_hits, 0) AS exact_hits
    FROM agg a LEFT JOIN exact x USING (doc_id)
"""
QUERIES_LLM["docs_bloom_contamination"] = q_docs_bloom_contamination


def q_docs_bloom_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decontamination artifact's ADDITIVE per-ingest maintenance
    (operators/sketch.bloom_word_table / merge_bloom_word_tables —
    the merge_bucket_counts pattern applied to Bloom bits):
    the corpus's 5-gram Bloom filter is built as TWO epoch word
    tables (doc_id % 2 split of the docs_bloom_contamination corpus)
    and OR-merged; the result must equal the from-scratch filter over
    the whole corpus bit-for-bit — which is exactly what the oracle
    computes. OR is idempotent/associative/commutative, so a 100 TB
    deployment maintains the filter per ingest (one batch-sized
    bit_or agg + one <=128-row merge) without ever rescanning corpus
    grams. Output is the word table itself: <= m_bits/32 rows at any
    corpus size."""
    from rust_dms_cdc_operator_spark.operators.dedup import (  # noqa: PLC0415
        sliding_word_ngrams,
    )
    from rust_dms_cdc_operator_spark.operators.sketch import (  # noqa: PLC0415
        bloom_word_table,
        merge_bloom_word_tables,
    )

    d = _t(spark, sf_dir, "documents")

    def grams(cond):
        return d.filter((F.col("doc_id") >= 40) & cond).select(
            F.explode(sliding_word_ngrams(F.col("text"), 5)).alias("g")
        )

    t_even = bloom_word_table(grams(F.col("doc_id") % 2 == 0))
    t_odd = bloom_word_table(grams(F.col("doc_id") % 2 != 0))
    return merge_bloom_word_tables(t_even, t_odd)


ORACLE_SQL_LLM["docs_bloom_merge"] = f"""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    grams AS (
      SELECT doc_id,
             list_transform(range(greatest(len(w) - 4, 0)),
               i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                    || ' ' || w[i+4] || ' ' || w[i+5]) AS gs
      FROM words),
    cg AS (
      SELECT unnest(gs) AS g FROM grams WHERE doc_id >= 40),
    pos AS (
      SELECT {_sql_bloom_pos('g', 'b1')} AS p FROM cg
      UNION ALL SELECT {_sql_bloom_pos('g', 'b2')} FROM cg
      UNION ALL SELECT {_sql_bloom_pos('g', 'b3')} FROM cg)
    SELECT CAST(p // 32 AS INTEGER) AS w,
           CAST(bit_or(1::BIGINT << CAST(p % 32 AS INTEGER)) AS BIGINT)
             AS bits
    FROM pos GROUP BY 1
"""
QUERIES_LLM["docs_bloom_merge"] = q_docs_bloom_merge


def q_docs_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: what fraction of the corpus token
    MASS the top-k most frequent words cover, for k in {10, 100,
    1000, 10000} — the census that sizes a tokenizer vocabulary (and
    explains why BPE beats word-level at any k). Rank over the
    VOCABULARY (not the corpus) comes from chunk.with_global_rank —
    boundary-bucketed two-pass, order (count DESC, word ASC) so
    boundary ties are deterministic on both engines; coverage is one
    conditional-sum aggregate over vocab-sized rows, unpivoted to 4
    rows via stack(). Exact integers; the fraction is a driver-side
    division.

    Scale shape: the only corpus-sized exchange is the word count's
    map-combined groupBy; everything after is vocabulary-bounded."""
    from rust_dms_cdc_operator_spark.operators.chunk import (  # noqa: PLC0415
        with_global_rank,
    )

    d = _t(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    ranked = with_global_rank(
        counts.select("word", "c", (-F.col("c")).alias("_neg")),
        ["_neg", "word"],
        rank_col="_rk",
    )
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
        F.sum("c").cast("long").alias("total_tokens"),
        *[
            F.sum(F.when(F.col("_rk") <= k, F.col("c")).otherwise(0))
            .cast("long")
            .alias(f"_cov{k}")
            for k in (10, 100, 1000, 10000)
        ],
    )
    return agg.select(
        F.expr(
            "stack(4, 10, _cov10, 100, _cov100, 1000, _cov1000, "
            "10000, _cov10000) AS (top_k, covered_tokens)"
        ),
        "vocab_size",
        "total_tokens",
    ).select(
        F.col("top_k").cast("int").alias("top_k"),
        "covered_tokens",
        "vocab_size",
        "total_tokens",
    )


ORACLE_SQL_LLM["docs_vocab_coverage"] = """
    WITH w AS (
      SELECT unnest(string_split(text, ' ')) AS word FROM documents),
    counts AS (
      SELECT word, CAST(count(*) AS BIGINT) AS c FROM w GROUP BY 1),
    ranked AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, word) AS rk
      FROM counts),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS vocab_size,
             CAST(sum(c) AS BIGINT) AS total_tokens,
             CAST(sum(CASE WHEN rk <= 10 THEN c ELSE 0 END) AS BIGINT)
               AS cov10,
             CAST(sum(CASE WHEN rk <= 100 THEN c ELSE 0 END) AS BIGINT)
               AS cov100,
             CAST(sum(CASE WHEN rk <= 1000 THEN c ELSE 0 END) AS BIGINT)
               AS cov1000,
             CAST(sum(CASE WHEN rk <= 10000 THEN c ELSE 0 END) AS BIGINT)
               AS cov10000
      FROM ranked)
    SELECT CAST(k.top_k AS INTEGER) AS top_k,
           CASE k.top_k WHEN 10 THEN cov10 WHEN 100 THEN cov100
                WHEN 1000 THEN cov1000 ELSE cov10000 END
             AS covered_tokens,
           vocab_size, total_tokens
    FROM agg, (SELECT unnest([10, 100, 1000, 10000]) AS top_k) k
"""
QUERIES_LLM["docs_vocab_coverage"] = q_docs_vocab_coverage


def q_sim_minhash_knn_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-safe MinHash kNN: sim_minhash_knn under the
    hot-bucket enumeration cap (max_bucket=256, the
    dedup_*_capped contract) — an over-cap (band, bucket) never
    expands into candidates at all, so the per-band join output is
    bounded by cap x bucket count: LINEAR in the corpus where the
    uncapped census follows the quadratic bucket volume (measured
    16.9x at 10x data on the adversarial native-sf1 fixture; the
    capped pair censuses run ~2.1x under the same cap). Recall
    trade is explicit: neighbors reachable ONLY through a hot bucket
    are unranked — exactly the documents exact-dedup already
    collapses. Same salted in-place per-band top-k as the uncapped
    form; the oracle replays the occupancy filter bit-for-bit."""
    from rust_dms_cdc_operator_spark.operators.dedup import (  # noqa: PLC0415
        minhash_knn_topk,
    )

    d = _t(spark, sf_dir, "documents")
    return minhash_knn_topk(
        d, "doc_id", "text", num_hashes=16, bands=2, k=3, salt=8,
        max_bucket=_LSH_MAX_BUCKET,
    )


ORACLE_SQL_LLM["sim_minhash_knn_capped"] = _minhash_knn_oracle_sql(
    max_bucket=_LSH_MAX_BUCKET
)
QUERIES_LLM["sim_minhash_knn_capped"] = q_sim_minhash_knn_capped


def q_dedup_pagerank_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the HOT-BUCKET-CAPPED near-dup graph — the
    deployment twin of dedup_pagerank (round 9, the
    sim_minhash_knn_capped precedent): the exact query's edge list is
    the uncapped banded pair stream, which grows with the quadratic
    bucket volume of the adversarial fixture (2.1M -> 200.8M pairs
    across the 10x step — 97x; its 12.9x wall is SUBLINEAR per edge
    but pair-volume-bound by construction). Under the enumeration cap
    (max_bucket=256, the no-silent-drop census `dedup_lsh_hot_buckets`
    reports exactly what was dropped) the edge list is linear in the
    corpus, so 5 unrolled BSP rounds hold their shape at any scale.
    Same operator, same rounding contract, same unrolled oracle —
    only the pair block differs."""
    from rust_dms_cdc_operator_spark.operators.graph import (  # noqa: PLC0415
        pagerank_undirected,
    )

    d = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        d, "doc_id", "text", num_hashes=16, bands=2,
        max_bucket=_LSH_MAX_BUCKET,
    )
    # round 12: materialized leaf for the iterative consumer (see
    # session.materialize_leaf)
    return pagerank_undirected(
        materialize_leaf(pairs), iters=5, assume_distinct=True
    )


ORACLE_SQL_LLM["dedup_pagerank_capped"] = _pagerank_oracle_sql(
    5, _LSH_MAX_BUCKET
)
QUERIES_LLM["dedup_pagerank_capped"] = q_dedup_pagerank_capped


def q_dedup_label_propagation_capped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Label propagation over the HOT-BUCKET-CAPPED near-dup graph —
    the deployment twin of dedup_label_propagation (exact form is
    pair-volume-bound: 97x edges at 10x docs on this fixture, 25.7x
    wall). 3 semi-synchronous BSP rounds, identical vote/tie rules
    and unrolled oracle; only the pair block carries the cap."""
    from rust_dms_cdc_operator_spark.operators.graph import (  # noqa: PLC0415
        label_propagation,
    )

    d = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        d, "doc_id", "text", num_hashes=16, bands=2,
        max_bucket=_LSH_MAX_BUCKET,
    )
    # round 12: materialized leaf for the iterative consumer (see
    # session.materialize_leaf)
    return label_propagation(
        materialize_leaf(pairs), iters=3, assume_distinct=True
    )


ORACLE_SQL_LLM["dedup_label_propagation_capped"] = _lpa_oracle_sql(3).format(
    pairs=_minhash_sql(16, 2, _LSH_MAX_BUCKET)
)
QUERIES_LLM["dedup_label_propagation_capped"] = (
    q_dedup_label_propagation_capped
)


def q_dedup_kcore_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling over the HOT-BUCKET-CAPPED near-dup graph — the
    deployment twin of dedup_kcore (exact form is pair-volume-bound:
    97x edges at 10x docs on this fixture). k=2, 4 unrolled peel
    sweeps, identical schedule and unrolled oracle; only the pair
    block carries the cap."""
    from rust_dms_cdc_operator_spark.operators.graph import (  # noqa: PLC0415
        kcore_membership,
    )

    d = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        d, "doc_id", "text", num_hashes=16, bands=2,
        max_bucket=_LSH_MAX_BUCKET,
    )
    # round 12: materialized leaf for the iterative consumer (see
    # session.materialize_leaf)
    return kcore_membership(
        materialize_leaf(pairs), k=2, rounds=4, assume_distinct=True
    )


ORACLE_SQL_LLM["dedup_kcore_capped"] = _kcore_oracle_sql(
    2, 4, _LSH_MAX_BUCKET
)
QUERIES_LLM["dedup_kcore_capped"] = q_dedup_kcore_capped


def q_dedup_group_cohesion_capped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Group-cohesion audit over the HOT-BUCKET-CAPPED near-dup graph
    — the deployment twin of dedup_group_cohesion (round 10; the last
    graph-family member without a cap-bounded path: the exact form is
    pair-volume-bound at 97x edges per 10x docs on this fixture, 10.1x
    wall at sf1). Under the enumeration cap (max_bucket=256, dropped
    buckets reported exactly by the `dedup_lsh_hot_buckets` truncation
    census) the pair stream is LINEAR in the corpus, so the CC
    iteration, the two shingle-attach joins, and the single group agg
    all hold their shape at any scale. Same operator body, same exact
    integer (inter, union) Jaccard, same oracle — only the pair block
    carries the cap; the cap also makes emission salting unnecessary
    (per-bucket pair volume is bounded by construction)."""
    d = _t(spark, sf_dir, "documents")
    # the capped pair stream feeds the CC iteration AND the exact-
    # verify joins; localCheckpoint + coalesce for the same lineage-
    # weight reasons as the exact form (the capped plan additionally
    # carries per-band hot-flag broadcast joins in its lineage)
    pairs = materialize_leaf(minhash_lsh_pairs(
        d, "doc_id", "text", num_hashes=16, bands=2,
        max_bucket=_LSH_MAX_BUCKET,
    ))
    return _group_cohesion_body(d, pairs)


ORACLE_SQL_LLM["dedup_group_cohesion_capped"] = _cohesion_oracle_sql(
    _minhash_sql(16, 2, _LSH_MAX_BUCKET)
)
QUERIES_LLM["dedup_group_cohesion_capped"] = q_dedup_group_cohesion_capped


def _keepbest_argmax_expr(nc, doc_id):
    """The keep-best argmax as ``max(struct(n_chars, -doc_id))`` —
    lexicographic struct comparison IS the (longest, then lowest-id)
    order, map-side combinable, and EXACT for any int64 n_chars /
    any non-negative doc_id in pure long arithmetic (round 11,
    verdict item 2: this closed the last documented integer bound;
    the first cut used a DECIMAL(38,0) combo, which was equally exact
    but paid ~40% agg overhead — the struct order needs no widening
    at all). The DuckDB oracle keeps its HUGEINT combo
    ``n_chars * 2^63 + (2^63-1 - doc_id)``: both are strictly
    monotone encodings of the same total order, so the engines agree
    bit-for-bit — pinned past the old 2^32 bound by
    tests/test_llm_ops.py::test_keepbest_combo_past_int32."""
    return F.max(F.struct(nc.alias("nc"), (-doc_id).alias("nid")))


def _keepbest_decode_exprs(m):
    """Decode (keep_doc_id, keep_n_chars) from the argmax struct."""
    return (-m["nid"]).cast("long"), m["nc"].cast("long")


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representative selection per duplicate group — the step a real
    curation pipeline runs AFTER grouping: hot-bucket-capped LSH pairs
    -> connected components (operators/graph.dedup_groups) -> keep the
    LONGEST member per group (the standard keep-best heuristic; ties
    -> lowest doc_id). Returns (group_id, keep_doc_id, keep_n_chars,
    group_size); every other member of the group is the drop list.

    The argmax travels as ``max(struct(n_chars, -doc_id))`` — a
    map-side-combinable lexicographic max (no window), exact for ANY
    int64 n_chars in pure long arithmetic (round 11 closed the last
    documented-not-coded integer bound: the old ``n_chars * 2^32``
    combo; see :func:`_keepbest_argmax_expr` for the cross-engine
    order-equivalence argument — the oracle rides the HUGEINT combo).
    Capped pair stream -> linear edge volume (the round-9 graph-twin
    contract), and the closure oracle replays the same cap."""
    from rust_dms_cdc_operator_spark.operators.graph import (  # noqa: PLC0415
        dedup_groups,
    )

    d = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        d, "doc_id", "text", num_hashes=16, bands=2,
        max_bucket=_LSH_MAX_BUCKET,
    )
    # round 12: materialized leaf for the CC consumer (see
    # session.materialize_leaf)
    groups = dedup_groups(materialize_leaf(pairs.select("id_a", "id_b")))
    meta = d.select("doc_id", F.col("n_chars").cast("long").alias("nc"))
    best = (
        groups.join(meta, "doc_id")
        .groupBy("group_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("group_size"),
            _keepbest_argmax_expr(F.col("nc"), F.col("doc_id")).alias("_m"),
        )
    )
    keep_doc_id, keep_n_chars = _keepbest_decode_exprs(F.col("_m"))
    return best.select(
        "group_id",
        keep_doc_id.alias("keep_doc_id"),
        keep_n_chars.alias("keep_n_chars"),
        "group_size",
    )


ORACLE_SQL_LLM["dedup_keep_best"] = f"""
    WITH RECURSIVE pairs AS MATERIALIZED (
        {_minhash_sql(16, 2, _LSH_MAX_BUCKET)}),
    sym AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
    lbl(node, comp) AS (
      SELECT a, LEAST(a, MIN(b)) FROM sym GROUP BY a
      UNION
      SELECT s.b, l.comp
      FROM lbl l JOIN sym s ON s.a = l.node
      WHERE l.comp < s.b
    ),
    grp AS (SELECT node AS doc_id, MIN(comp) AS group_id
            FROM lbl GROUP BY node)
    SELECT g.group_id,
           -- HUGEINT combo encoding the same (n_chars, -doc_id) total
           -- order as Spark's _keepbest_argmax_expr struct max
           -- (base 2^63, exact for any int64)
           CAST(9223372036854775808::HUGEINT - 1
                - max(d.n_chars::HUGEINT * 9223372036854775808::HUGEINT
                      + (9223372036854775808::HUGEINT - 1 - d.doc_id))
                  % 9223372036854775808::HUGEINT AS BIGINT) AS keep_doc_id,
           CAST(max(d.n_chars::HUGEINT * 9223372036854775808::HUGEINT
                    + (9223372036854775808::HUGEINT - 1 - d.doc_id))
                // 9223372036854775808::HUGEINT AS BIGINT) AS keep_n_chars,
           CAST(count(*) AS BIGINT) AS group_size
    FROM grp g JOIN documents d USING (doc_id)
    GROUP BY g.group_id
"""
QUERIES_LLM["dedup_keep_best"] = q_dedup_keep_best


# ------------------------------------------------------------------
# round 9: classifier / calibration / sketch-similarity family — the
# eval-and-filter operators a curation pipeline runs AROUND dedup:
# trained language ID, a quality-filter classifier, estimator
# calibration, the dedup threshold operating curve, cross-source
# sketch resemblance, and fixed-point spectral analysis.
# ------------------------------------------------------------------

_LANGID_PROFILE_TOP = 30  # profile depth (Cavnar-Trenkle top-K)


def q_text_langid_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED language ID (Cavnar & Trenkle 1994's rank-order
    profiles, token-level): per language, the top-30 tokens by corpus
    frequency (ties -> token asc) form the profile with integer rank
    weights 30..1; a doc scores each language by the summed weights of
    its DISTINCT tokens that hit the profile, and is labeled by the
    best score (ties -> language asc; no profile hit at all -> 'und').
    Contrast with text_langid (hand-written stopword heuristic): this
    one LEARNS the profiles from the labeled corpus — the supervised
    half of the langid story. Output is the (lang, pred_lang)
    confusion census with the exact integer score mass.

    Scale shape: training is one vocabulary-sized (lang, token) agg
    whose top-30-per-lang survives a lang-partitioned window (frame =
    per-lang vocabulary, never the corpus); the 150-row profile
    broadcasts; scoring is one broadcast join + (doc, lang) agg with
    <= n_langs rows per doc; the argmax window partitions by doc_id.
    Everything is exact integers — no float can flip a label."""
    d = _t(spark, sf_dir, "documents")
    p = _LANGID_PROFILE_TOP
    toks = d.select(
        "lang", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    w_rank = Window.partitionBy("lang").orderBy(
        F.col("c").desc(), F.col("tok").asc()
    )
    prof = (
        toks.groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= p)
        .select(
            F.col("lang").alias("prof_lang"),
            "tok",
            (F.lit(p + 1) - F.col("rank")).cast("long").alias("w"),
        )
    )
    dtoks = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias(
            "tok"
        ),
    )
    scores = (
        dtoks.join(F.broadcast(prof), "tok")
        .groupBy("doc_id", "prof_lang")
        .agg(F.sum("w").alias("score"))
    )
    w_best = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("prof_lang").asc()
    )
    best = (
        scores.withColumn("rn", F.row_number().over(w_best))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("prof_lang").alias("pred_lang"), "score")
    )
    return (
        d.select("doc_id", "lang")
        .join(best, "doc_id", "left")
        .groupBy(
            "lang",
            F.coalesce(F.col("pred_lang"), F.lit("und")).alias("pred_lang"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.coalesce(F.col("score"), F.lit(0)))
            .cast("long")
            .alias("sum_score"),
        )
    )


ORACLE_SQL_LLM["text_langid_trained"] = f"""
    WITH toks AS (
      SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents),
    ranked AS (
      SELECT lang, tok,
             row_number() OVER (PARTITION BY lang
                                ORDER BY count(*) DESC, tok ASC) AS rank
      FROM toks GROUP BY lang, tok),
    prof AS (
      SELECT lang AS prof_lang, tok,
             CAST({_LANGID_PROFILE_TOP} + 1 - rank AS BIGINT) AS w
      FROM ranked WHERE rank <= {_LANGID_PROFILE_TOP}),
    dtoks AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM documents),
    scores AS (
      SELECT doc_id, prof_lang, sum(w) AS score
      FROM dtoks JOIN prof USING (tok) GROUP BY doc_id, prof_lang),
    best AS (
      SELECT doc_id, prof_lang AS pred_lang, score FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY score DESC,
                                              prof_lang ASC) AS rn
        FROM scores) WHERE rn = 1)
    SELECT d.lang,
           coalesce(b.pred_lang, 'und') AS pred_lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(coalesce(sum(b.score), 0) AS BIGINT) AS sum_score
    FROM documents d LEFT JOIN best b USING (doc_id)
    GROUP BY 1, 2
"""
QUERIES_LLM["text_langid_trained"] = q_text_langid_trained


def _wide_vote_expr(c_h, c_o, nh: int, no: int, v: int):
    """Naive-Bayes token vote by the SIGN of the exact smoothed-odds
    cross-multiplication ``(c_h+1)*(N_o+V)`` vs ``(c_o+1)*(N_h+V)``,
    both products in DECIMAL(38,0) — the Spark twin of DuckDB's
    HUGEINT: exact to ~1e38, loud (ANSI raise) beyond, never a silent
    int64 wrap. Returns +1 / -1 / 0 (abstain) as LONG. Shared by
    q_docs_nb_source_classifier and the synthetic past-2^63
    agreement test."""
    dec = "decimal(38,0)"
    lhs = (c_h + 1).cast(dec) * F.lit(no + v).cast(dec)
    rhs = (c_o + 1).cast(dec) * F.lit(nh + v).cast(dec)
    return (
        F.when(lhs > rhs, F.lit(1))
        .when(lhs < rhs, F.lit(-1))
        .otherwise(F.lit(0))
        .cast("long")
    )


def q_docs_nb_source_classifier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Naive-Bayes-vote quality-filter classifier (the fastText /
    CCNet pattern of training a linear text classifier on a trusted
    source vs the rest, here with Laplace-smoothed per-token
    likelihood VOTES instead of log-odds so every comparison is an
    exact integer cross-multiplication that both engines resolve
    identically): the positive class H is the largest source by doc
    count (ties -> source asc); a token votes +1 for H iff
    (c_h+1)*(N_o+V) > (c_o+1)*(N_h+V) — algebraically the smoothed
    P(tok|H) > P(tok|rest) — and -1 for the reverse strict
    inequality (equal likelihoods abstain). A doc's margin sums its
    tokens' votes WITH multiplicity; pred_high = margin > 0. Output
    is the per-(source, pred_high) census with the exact vote mass.

    Scale shape: the class pick and the three corpus scalars (N_h,
    N_o, V) are bounded literal-lookups (the chunk-offset pattern —
    source is a low-cardinality dimension, the scalars are one agg
    row); token votes are one vocabulary-sized agg joined broadcast
    to the token stream; the doc margin is one map-combinable sum.
    The vote cross-products (c+1)*(N+V) are computed WIDE (round 10,
    per ADVICE): Spark in DECIMAL(38,0) via :func:`_wide_vote_expr`,
    DuckDB in HUGEINT — exact to ~1e38 (per-class token totals to
    ~1e19), loud (ANSI/overflow raise) beyond, never a silent int64
    wrap (pinned past 2^63 by
    tests/test_llm_ops.py::test_wide_vote_expr_past_int64)."""
    d = _t(spark, sf_dir, "documents")
    # bounded collect #1: the positive class — source is a dimension
    src_counts = sorted(
        d.groupBy("source").agg(F.count(F.lit(1)).alias("c")).collect(),
        key=lambda r: (-r["c"], r["source"]),
    )
    if not src_counts:
        return spark.createDataFrame(
            [],
            "source string, pred_high boolean, n_docs long, "
            "sum_margin long",
        )
    hsrc = src_counts[0]["source"]
    toks = d.select(
        "doc_id",
        "source",
        F.explode(F.split(F.col("text"), " ")).alias("tok"),
    )
    per_tok = toks.groupBy("tok").agg(
        F.sum((F.col("source") == hsrc).cast("long")).alias("c_h"),
        F.sum((F.col("source") != hsrc).cast("long")).alias("c_o"),
    )
    # bounded collect #2: one 3-int row (class totals + vocab size)
    t = per_tok.agg(
        F.sum("c_h").alias("_nh"),
        F.sum("c_o").alias("_no"),
        F.count(F.lit(1)).alias("_v"),
    ).collect()[0]
    nh, no, v = int(t["_nh"]), int(t["_no"]), int(t["_v"])
    votes = per_tok.select(
        "tok",
        _wide_vote_expr(F.col("c_h"), F.col("c_o"), nh, no, v)
        .alias("vote"),
    )
    margins = (
        toks.join(F.broadcast(votes), "tok")
        .groupBy("doc_id", "source")
        .agg(F.sum("vote").alias("margin"))
    )
    return margins.groupBy(
        "source", (F.col("margin") > 0).alias("pred_high")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("margin").cast("long").alias("sum_margin"),
    )


ORACLE_SQL_LLM["docs_nb_source_classifier"] = """
    WITH hpick AS (
      SELECT source AS hsrc FROM documents
      GROUP BY source ORDER BY count(*) DESC, source ASC LIMIT 1),
    toks AS (
      SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
      FROM documents),
    per_tok AS (
      SELECT tok,
             sum(CASE WHEN source = (SELECT hsrc FROM hpick)
                      THEN 1 ELSE 0 END) AS c_h,
             sum(CASE WHEN source = (SELECT hsrc FROM hpick)
                      THEN 0 ELSE 1 END) AS c_o
      FROM toks GROUP BY tok),
    tot AS (
      SELECT sum(c_h) AS nh, sum(c_o) AS no_, count(*) AS v
      FROM per_tok),
    votes AS (
      -- c_h/c_o/nh/no_/v are DuckDB sums = HUGEINT (int128): the
      -- cross products are exact to ~1.7e38 and raise on overflow —
      -- the twin of Spark's DECIMAL(38,0) _wide_vote_expr
      SELECT tok,
             CASE WHEN (c_h + 1) * (t.no_ + t.v)
                       > (c_o + 1) * (t.nh + t.v) THEN 1
                  WHEN (c_h + 1) * (t.no_ + t.v)
                       < (c_o + 1) * (t.nh + t.v) THEN -1
                  ELSE 0 END AS vote
      FROM per_tok, tot t),
    margins AS (
      SELECT doc_id, source, sum(vote) AS margin
      FROM toks JOIN votes USING (tok)
      GROUP BY doc_id, source)
    SELECT source,
           margin > 0 AS pred_high,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(margin) AS BIGINT) AS sum_margin
    FROM margins
    GROUP BY 1, 2
"""
QUERIES_LLM["docs_nb_source_classifier"] = q_docs_nb_source_classifier


def _sigs_wh_sql(num_hashes: int) -> str:
    """CTE fragment `swh(doc_id, wh, mh_0..mh_{n-1})`: the distinct-
    word hash array + MinHash signature per doc — the DuckDB mirror of
    dedup.minhash_signature_cols, shared by the calibration oracles."""
    from rust_dms_cdc_operator_spark.operators.dedup import (  # noqa: PLC0415
        _MERSENNE,
        _mix_a,
        _mix_b,
    )

    sigs = ", ".join(
        "list_aggregate(list_transform(wh, "
        f"h -> ({_mix_a(i)} * h + {_mix_b(i)}) % {_MERSENNE}), 'min')"
        f" AS mh_{i}"
        for i in range(num_hashes)
    )
    return f"""
        wh0 AS (
          SELECT doc_id,
                 list_transform(list_distinct(string_split(text, ' ')),
                                w -> {_sql_hex_to_long('md5(w)', 8)}) AS wh
          FROM documents),
        swh AS (SELECT doc_id, wh, {sigs} FROM wh0)
    """


def _pair_wordset_join(d: DataFrame, num_hashes: int) -> DataFrame:
    """Capped-LSH candidate pairs joined with both sides' signature +
    distinct-word-hash arrays, plus the exact intersection/union sizes
    and the count of matching signature components — the shared verify
    frame of the two round-9 calibration censuses. Candidate volume is
    hot-bucket-cap-bounded (linear in the corpus); the two id-keyed
    joins against the signature table are the standard verify cost."""
    pairs = minhash_lsh_pairs(
        d, "doc_id", "text",
        num_hashes=num_hashes, bands=2, max_bucket=_LSH_MAX_BUCKET,
    )
    wh, sig = minhash_signature_cols(F.col("text"), num_hashes)
    from rust_dms_cdc_operator_spark.session import (  # noqa: PLC0415
        scan_parallelism_floor,
    )

    # round 12: the signature+wordset stage is evaluated once per join
    # side — floor its parallelism (single-file scan; no-op at scale)
    sigs = scan_parallelism_floor(d.select("doc_id", "text")).select(
        "doc_id", wh
    ).select("doc_id", "_wh", *sig)
    a = sigs.select(
        F.col("doc_id").alias("id_a"),
        F.col("_wh").alias("wh_a"),
        *[F.col(f"mh_{i}").alias(f"a_{i}") for i in range(num_hashes)],
    )
    b = sigs.select(
        F.col("doc_id").alias("id_b"),
        F.col("_wh").alias("wh_b"),
        *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(num_hashes)],
    )
    j = pairs.join(a, "id_a").join(b, "id_b")
    matches = sum(
        (F.col(f"a_{i}") == F.col(f"b_{i}")).cast("long")
        for i in range(num_hashes)
    )
    inter = F.size(F.array_intersect(F.col("wh_a"), F.col("wh_b"))).cast(
        "long"
    )
    return j.select(
        "id_a",
        "id_b",
        matches.alias("mh_matches"),
        inter.alias("inter"),
        (
            F.size(F.col("wh_a")).cast("long")
            + F.size(F.col("wh_b")).cast("long")
            - inter
        ).alias("uni"),
    )


def q_dedup_minhash_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash ESTIMATOR CALIBRATION census — the eval step that tells
    you whether 16 hashes are enough before you trust the sketch at
    100 TB: on the hot-bucket-capped LSH candidate pairs, compare the
    MinHash Jaccard estimate (matching signature components / 16)
    against the EXACT distinct-word Jaccard, and histogram the
    absolute error into eighths. Bin arithmetic is exact integer:
    bin = (|matches*union - 16*inter| * 8) div (16 * union) — no float
    touches a bucket boundary. Per bin: pair count and the exact
    numerator masses (sum of matches / intersections / unions), from
    which any downstream consumer recovers mean estimate and mean
    truth as rationals.

    Scale shape: candidates are cap-bounded (linear in the corpus);
    the signature+wordset attach is two id-keyed joins; the census is
    one 9-row agg. The word-hash arrays ride the join exactly like
    jaccard_verify_pairs' shingle arrays."""
    d = _t(spark, sf_dir, "documents")
    j = _pair_wordset_join(d, 16)
    err_num = F.abs(
        F.col("mh_matches") * F.col("uni") - F.lit(16) * F.col("inter")
    )
    # exact integer floor division (operands are non-negative)
    bin_ = ((err_num * 8) - ((err_num * 8) % (16 * F.col("uni")))) / (
        16 * F.col("uni")
    )
    return (
        j.select(bin_.cast("long").alias("err_bin"), "mh_matches",
                 "inter", "uni")
        .groupBy("err_bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("mh_matches").cast("long").alias("sum_matches"),
            F.sum("inter").cast("long").alias("sum_inter"),
            F.sum("uni").cast("long").alias("sum_union"),
        )
    )


ORACLE_SQL_LLM["dedup_minhash_error"] = f"""
    WITH pairs AS MATERIALIZED ({_minhash_sql(16, 2, _LSH_MAX_BUCKET)}),
    {_sigs_wh_sql(16)},
    j AS (
      SELECT p.id_a, p.id_b,
             {" + ".join(f"(CASE WHEN a.mh_{i} = b.mh_{i} THEN 1 ELSE 0 END)" for i in range(16))} AS mh_matches,
             len(list_intersect(a.wh, b.wh)) AS inter,
             len(a.wh) + len(b.wh) - len(list_intersect(a.wh, b.wh)) AS uni
      FROM pairs p
      JOIN swh a ON a.doc_id = p.id_a
      JOIN swh b ON b.doc_id = p.id_b)
    SELECT CAST(abs(mh_matches * uni - 16 * inter) * 8
                // (16 * uni) AS BIGINT) AS err_bin,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(mh_matches) AS BIGINT) AS sum_matches,
           CAST(sum(inter) AS BIGINT) AS sum_inter,
           CAST(sum(uni) AS BIGINT) AS sum_union
    FROM j GROUP BY 1
"""
QUERIES_LLM["dedup_minhash_error"] = q_dedup_minhash_error


def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup threshold OPERATING CURVE — the census a pipeline owner
    reads before committing a Jaccard cutoff to a 100 TB dedup run:
    from ONE capped-LSH candidate verify pass, the count of pairs at
    or above each candidate threshold t/10 for t in 5..9, with the
    exact intersection/union masses of each survivor set. Membership
    is the exact integer cross-multiplication 10*inter >= t*union
    (word-level Jaccard, the MinHash basis), so no survivor can flip
    on float rounding.

    Scale shape: the verify frame is computed once (cap-bounded
    candidates, two id-keyed joins — see _pair_wordset_join); the
    sweep itself is ONE map-combinable agg with 15 conditional sums,
    unpivoted to 5 rows via stack — no re-verification per threshold,
    no window, no second pass."""
    d = _t(spark, sf_dir, "documents")
    j = _pair_wordset_join(d, 16)
    aggs = []
    for t in range(5, 10):
        ge = (F.lit(10) * F.col("inter")) >= (F.lit(t) * F.col("uni"))
        aggs += [
            F.sum(ge.cast("long")).alias(f"n_{t}"),
            F.sum(F.when(ge, F.col("inter")).otherwise(F.lit(0)))
            .cast("long")
            .alias(f"i_{t}"),
            F.sum(F.when(ge, F.col("uni")).otherwise(F.lit(0)))
            .cast("long")
            .alias(f"u_{t}"),
        ]
    one = j.agg(*aggs)
    stack = ", ".join(
        f"{t}L, coalesce(n_{t}, 0L), coalesce(i_{t}, 0L), "
        f"coalesce(u_{t}, 0L)"
        for t in range(5, 10)
    )
    return one.select(
        F.expr(
            f"stack(5, {stack}) AS "
            "(threshold_tenths, n_pairs_ge, sum_inter, sum_union)"
        )
    )


ORACLE_SQL_LLM["dedup_threshold_sweep"] = f"""
    WITH pairs AS MATERIALIZED ({_minhash_sql(16, 2, _LSH_MAX_BUCKET)}),
    {_sigs_wh_sql(16)},
    j AS (
      SELECT len(list_intersect(a.wh, b.wh)) AS inter,
             len(a.wh) + len(b.wh)
               - len(list_intersect(a.wh, b.wh)) AS uni
      FROM pairs p
      JOIN swh a ON a.doc_id = p.id_a
      JOIN swh b ON b.doc_id = p.id_b),
    one AS (
      SELECT
        {", ".join(
            f"coalesce(sum(CASE WHEN 10 * inter >= {t} * uni THEN 1 ELSE 0 END), 0) AS n_{t}, "
            f"coalesce(sum(CASE WHEN 10 * inter >= {t} * uni THEN inter ELSE 0 END), 0) AS i_{t}, "
            f"coalesce(sum(CASE WHEN 10 * inter >= {t} * uni THEN uni ELSE 0 END), 0) AS u_{t}"
            for t in range(5, 10)
        )}
      FROM j)
    {" UNION ALL ".join(
        f"SELECT CAST({t} AS BIGINT) AS threshold_tenths, "
        f"CAST(n_{t} AS BIGINT) AS n_pairs_ge, "
        f"CAST(i_{t} AS BIGINT) AS sum_inter, "
        f"CAST(u_{t} AS BIGINT) AS sum_union FROM one"
        for t in range(5, 10)
    )}
"""
QUERIES_LLM["dedup_threshold_sweep"] = q_dedup_threshold_sweep


_KMV_JACCARD_K = 16  # estimator-branch depth on the committed fixtures


def q_docs_source_kmv_jaccard(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-source vocabulary RESEMBLANCE via KMV sketches (Beyer et
    al. 2007's k-minimum-values estimator, the mergeable form of
    pairwise set similarity): each source's token vocabulary collapses
    to its k smallest md5 hashes; a source pair's Jaccard estimate is
    |union-k ∩ A_k ∩ B_k| / |union-k|, where union-k is the k smallest
    of the merged sketches — per source the state is k longs however
    many tokens the source holds, which is why this is the shape that
    survives 100 TB (vs the exact token self-join, emitted alongside
    as the calibration truth: its per-token fanout is bounded by the
    SOURCE dimension's cardinality squared, not the corpus). All
    outputs are exact integers: the estimate travels as
    (kmv_matches, k_used) and the truth as (exact_inter, exact_union).

    Scale shape: one (source, token-hash) distinct agg; k-smallest via
    a source-partitioned window; the pair frame is a bounded
    dimension-metadata collect (the chunk-offset pattern) joined
    broadcast against the k-row-per-source sketch lists; the exact
    truth is one token-keyed self-join whose fanout per token is
    <= |sources|^2. Sketch and merge are operators/sketch.kmv_sketch
    (hash_chars=8) and kmv_union."""
    from rust_dms_cdc_operator_spark.operators.sketch import (  # noqa: PLC0415
        kmv_hash,
        kmv_sketch,
        kmv_union,
    )

    k = _KMV_JACCARD_K
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias(
            "tok"
        ),
    )
    sk = kmv_sketch(toks, ["source"], "tok", k, hash_chars=8)
    # bounded collect: the source dimension (pair spine, |S|^2/2 rows)
    sources = sorted(r["source"] for r in sk.select("source").collect())
    pairs = [
        (a, b) for i, a in enumerate(sources) for b in sources[i + 1:]
    ]
    if not pairs:
        return spark.createDataFrame(
            [],
            "src_a string, src_b string, k_used long, kmv_matches long, "
            "exact_inter long, exact_union long",
        )
    pair_df = spark.createDataFrame(pairs, "src_a string, src_b string")
    ska = sk.select(
        F.col("source").alias("src_a"), F.col("kmv_hashes").alias("hs_a")
    )
    skb = sk.select(
        F.col("source").alias("src_b"), F.col("kmv_hashes").alias("hs_b")
    )
    j = pair_df.join(F.broadcast(ska), "src_a").join(
        F.broadcast(skb), "src_b"
    )
    union_k = kmv_union(F.col("hs_a"), F.col("hs_b"), k)
    both = F.array_intersect(F.col("hs_a"), F.col("hs_b"))
    est = j.select(
        "src_a",
        "src_b",
        F.size(union_k).cast("long").alias("k_used"),
        F.size(F.array_intersect(union_k, both))
        .cast("long")
        .alias("kmv_matches"),
    )
    # exact truth: token-keyed self-join, fanout bounded by |S| per tok
    th = toks.select(
        "source", kmv_hash(F.col("tok"), 8).alias("h")
    ).distinct()
    ta = th.select(F.col("source").alias("src_a"), F.col("h").alias("ha"))
    tb = th.select(F.col("source").alias("src_b"), F.col("h").alias("hb"))
    # h is never NULL; the null-safe match keeps the optimizer from
    # inferring an isnotnull(h) filter below this side's distinct, so
    # the sketch, the vocabulary and this join share one exchange
    inter = (
        ta.join(tb, F.col("ha").eqNullSafe(F.col("hb")))
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_inter"))
    )
    vocab = th.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("v")
    )
    va = vocab.select(F.col("source").alias("src_a"), F.col("v").alias("va"))
    vb = vocab.select(F.col("source").alias("src_b"), F.col("v").alias("vb"))
    exact_inter = F.coalesce(F.col("exact_inter"), F.lit(0))
    return (
        est.join(inter, ["src_a", "src_b"], "left")
        .join(F.broadcast(va), "src_a")
        .join(F.broadcast(vb), "src_b")
        .select(
            "src_a",
            "src_b",
            "k_used",
            "kmv_matches",
            exact_inter.cast("long").alias("exact_inter"),
            (F.col("va") + F.col("vb") - exact_inter)
            .cast("long")
            .alias("exact_union"),
        )
    )


ORACLE_SQL_LLM["docs_source_kmv_jaccard"] = f"""
    WITH th AS (
      SELECT DISTINCT source,
             {_sql_hex_to_long('md5(tok)', 8)} AS h
      FROM (SELECT source,
                   unnest(list_distinct(string_split(text, ' '))) AS tok
            FROM documents)),
    sk AS (
      SELECT source, list_sort(list(h)) AS hs FROM (
        SELECT source, h,
               row_number() OVER (PARTITION BY source ORDER BY h) AS rn
        FROM th) WHERE rn <= {_KMV_JACCARD_K}
      GROUP BY source),
    ps AS (
      SELECT a.source AS src_a, b.source AS src_b
      FROM (SELECT DISTINCT source FROM th) a
      JOIN (SELECT DISTINCT source FROM th) b ON a.source < b.source),
    est AS (
      SELECT p.src_a, p.src_b,
             len(list_slice(list_sort(list_distinct(a.hs || b.hs)),
                            1, {_KMV_JACCARD_K})) AS k_used,
             len(list_intersect(
                   list_slice(list_sort(list_distinct(a.hs || b.hs)),
                              1, {_KMV_JACCARD_K}),
                   list_intersect(a.hs, b.hs))) AS kmv_matches
      FROM ps p
      JOIN sk a ON a.source = p.src_a
      JOIN sk b ON b.source = p.src_b),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b, count(*) AS exact_inter
      FROM th a JOIN th b ON a.h = b.h AND a.source < b.source
      GROUP BY 1, 2),
    vocab AS (SELECT source, count(*) AS v FROM th GROUP BY source)
    SELECT e.src_a, e.src_b,
           CAST(e.k_used AS BIGINT) AS k_used,
           CAST(e.kmv_matches AS BIGINT) AS kmv_matches,
           CAST(coalesce(i.exact_inter, 0) AS BIGINT) AS exact_inter,
           CAST(va.v + vb.v - coalesce(i.exact_inter, 0) AS BIGINT)
             AS exact_union
    FROM est e
    LEFT JOIN inter i ON i.src_a = e.src_a AND i.src_b = e.src_b
    JOIN vocab va ON va.source = e.src_a
    JOIN vocab vb ON vb.source = e.src_b
"""
QUERIES_LLM["docs_source_kmv_jaccard"] = q_docs_source_kmv_jaccard


_POWER_ITER_ROUNDS = 3
_POWER_ITER_Q = 100  # fixed-point quantization scale


def q_sim_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus via FIXED-POINT
    power iteration (von Mises & Pollaczek-Geiringer 1929), the
    spectral probe a curation pipeline runs to find the dominant
    axis of its embedding space (anisotropy / "rogue dimension"
    detection): 3 rounds of v <- X^T (X v) with the embeddings
    quantized to integers (floor(x*100)) and v renormalized to
    max-abs 100 by EXACT integer floor division each round — every
    engine reproduces the identical trajectory, no float sum order
    can flip a digit. The corpus-facing output is the per-label
    census of the final projection (n, sum/min/max of <xq, v>).

    Scale shape: each round is two corpus passes — a per-row dot
    against the broadcast-literal v (zip_with fold, zero exchange)
    and one 64-row dimension agg (posexplode, map-combined); the
    driver holds only the 64-int v between rounds (the chunk-offset
    literal-lookup pattern). Int64 bound: per-row terms are
    <= d*Q^2*Q = 6.4e7, so the dimension sums stay exact below ~1.4e11
    rows; rescale Q beyond (documented, the TVD precedent)."""
    d_dim = 64
    q = _POWER_ITER_Q
    emb = _t(spark, sf_dir, "embeddings")
    xq = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * q).cast("long"),
    )
    e = emb.select("vec_id", "label", xq.alias("xq"))
    v = [q] * d_dim
    for _ in range(_POWER_ITER_ROUNDS):
        vlit = F.array(*[F.lit(int(c)).cast("long") for c in v])
        dot = F.aggregate(
            F.zip_with(F.col("xq"), vlit, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        y_rows = (
            e.select(
                F.posexplode(
                    F.transform(F.col("xq"), lambda x: x * dot)
                ).alias("dim", "t")
            )
            .groupBy("dim")
            .agg(F.sum("t").alias("y"))
            .collect()  # bounded: exactly d rows of longs
        )
        if not y_rows:
            break  # empty corpus: v (and the output) are vacuous
        y = {r["dim"]: int(r["y"]) for r in y_rows}
        m = max(abs(c) for c in y.values())
        if m == 0:
            break  # degenerate spectrum: keep the current direction
        v = [(y.get(i, 0) * q) // m for i in range(d_dim)]
    vlit = F.array(*[F.lit(int(c)).cast("long") for c in v])
    proj = F.aggregate(
        F.zip_with(F.col("xq"), vlit, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        e.select("label", proj.alias("p"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum("p").cast("long").alias("sum_proj"),
            F.min("p").cast("long").alias("min_proj"),
            F.max("p").cast("long").alias("max_proj"),
        )
    )


def _power_iter_sql(rounds: int, q: int, d_dim: int) -> str:
    """DuckDB mirror of the fixed-point power iteration: round 0's v
    is the constant-q vector (dot = q * sum(xq)); each later round
    joins the previous 64-row v CTE. Floor division is emulated
    exactly for signed numerators: (n - ((n % m + m) % m)) / m."""
    ctes = [
        "e AS (SELECT vec_id, label, "
        "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) "
        f"* {q}) AS BIGINT)) AS xq FROM embeddings)",
        f"d0 AS (SELECT label, xq, {q} * list_aggregate(xq, 'sum') AS dot "
        "FROM e)",
    ]
    prev = "d0"
    for r in range(1, rounds + 1):
        ctes.append(
            f"y{r} AS (SELECT t.i AS dim, sum(xq[t.i + 1] * dot) AS y "
            f"FROM {prev}, range({d_dim}) t(i) GROUP BY t.i)"
        )
        ctes.append(
            f"m{r} AS (SELECT max(abs(y)) AS m FROM y{r})"
        )
        ctes.append(
            f"v{r} AS (SELECT dim, CASE WHEN m.m = 0 THEN "
            + (f"{q}" if r == 1 else f"(SELECT v FROM v{r - 1} pv "
                                     f"WHERE pv.dim = y{r}.dim)")
            + f" ELSE CAST((y * {q} - ((y * {q} % m.m + m.m) % m.m)) "
            f"// m.m AS BIGINT) END AS v FROM y{r}, m{r} m)"
        )
        if r < rounds:
            ctes.append(
                f"d{r} AS (SELECT label, xq, "
                f"(SELECT sum(xq[v.dim + 1] * v.v) FROM v{r} v) AS dot "
                f"FROM e)"
            )
            prev = f"d{r}"
    last = rounds
    return f"""
    WITH {", ".join(ctes)},
    fin AS (SELECT label,
                   (SELECT sum(xq[v.dim + 1] * v.v) FROM v{last} v) AS p
            FROM e)
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(p) AS BIGINT) AS sum_proj,
           CAST(min(p) AS BIGINT) AS min_proj,
           CAST(max(p) AS BIGINT) AS max_proj
    FROM fin GROUP BY label
    """


ORACLE_SQL_LLM["sim_power_iteration"] = _power_iter_sql(
    _POWER_ITER_ROUNDS, _POWER_ITER_Q, 64
)
QUERIES_LLM["sim_power_iteration"] = q_sim_power_iteration


_BAND_CONFIGS = (2, 4, 8)  # bands over the shared 16-hash signature
# The tuning census runs under a TIGHTER shared cap than the
# production stream (64 vs 256): with 2-hash bands nearly every
# bucket sits just under the cap, so emission volume scales as
# bands x buckets x cap^2/2 — at cap 256 the 8x2 config alone cost
# 45 s at sf0.001 (measured); cap 64 prices the identical trade at
# 1/16th the pair emissions. The cap is an explicit parameter of the
# experiment and the oracle replays it.
_BAND_TUNING_CAP = 64


def q_dedup_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH PARAMETER-TUNING census — the decision table an operator
    reads before picking (bands, rows) for a 100 TB dedup run: over
    the SAME 16-hash MinHash signature, the banded candidate sets at
    2x8 / 4x4 / 8x2 (each under the shared hot-bucket cap), verified
    once against exact word-Jaccard >= 0.8. Per config: candidate
    volume, true positives among its candidates, and the pooled truth
    (true positives in the UNION of all three candidate sets), so
    precision and POOLED RELATIVE RECALL (Buckley & Voorhees' pooling
    practice) read off as exact rationals. NOTE the cap interaction
    this census exists to expose: uncapped, more bands is strictly
    more candidates, but looser bands concentrate occupancy, so under
    the hot-bucket cap a loose config can surface FEWER candidates
    than a tight one — exactly the non-obvious trade the table prices
    before a corpus-scale run commits to a config.

    Scale shape: ONE flat (config, band_idx, bucket) explode off one
    signature table (14 rows/doc), one occupancy agg, one under-cap
    filter, one self-join whose per-key fanout is cap-bounded, one
    distinct — all three configs in 4 shuffles (see the inline note:
    the production per-config generator costs ~50 fixed stages here).
    The union dedups before the single exact-verify attach, so no
    pair is verified twice; the census is one 3-row agg. The
    candidate stream and the verified-pair table persist across the
    pooled-scalar pass and the per-config census (a deliberate
    bounded cache, the q11 precedent: capped-stream-sized,
    LRU-evictable; the returned plan is lazy, so unpersisting here
    would force recomputation)."""
    d = _t(spark, sf_dir, "documents")
    # ONE flat banded frame for all three configs: the production
    # generator (minhash_lsh_pairs) plans bands broadcast-gated joins
    # PER CONFIG (first-kept-colliding-band emission) — the right
    # shape for a single deployed config, but 2+4+8 bands of it cost
    # ~50 stages of fixed overhead here (measured 45 s for the 8x2
    # config alone at sf0.001). The census only needs the candidate
    # SET ("collides in >= 1 under-cap bucket"), which one
    # explode -> occupancy filter -> self-join -> distinct computes
    # identically with 4 shuffles for ALL configs at once.
    wh, sig = minhash_signature_cols(F.col("text"), 16)
    sigs = d.select("doc_id", wh).select("doc_id", *sig)
    levels = []
    for b in _BAND_CONFIGS:
        rows = 16 // b
        for i in range(b):
            levels.append(
                F.struct(
                    F.lit(f"{b}x{rows}").alias("config"),
                    F.lit(i).alias("band_idx"),
                    band_key_cols(16, b)[i].alias("bk"),
                )
            )
    banded = sigs.select(
        "doc_id", F.explode(F.array(*levels)).alias("_l")
    ).select("doc_id", "_l.config", "_l.band_idx", "_l.bk")
    occ_keys = ["config", "band_idx", "bk"]
    kept = (
        banded.groupBy(*occ_keys)
        .agg(F.count(F.lit(1)).alias("_occ"))
        .filter(F.col("_occ") <= _BAND_TUNING_CAP)
        .select(*occ_keys)
    )
    bk2 = banded.join(kept, occ_keys)
    tagged = (
        bk2.select("config", "band_idx", "bk",
                   F.col("doc_id").alias("id_a"))
        .join(
            bk2.select("config", "band_idx", "bk",
                       F.col("doc_id").alias("id_b")),
            occ_keys,
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("config", "id_a", "id_b")
        .distinct()
        .persist()
    )
    uniq = tagged.select("id_a", "id_b").distinct()
    sets = d.select("doc_id", wh).select(
        F.col("doc_id"), F.col("_wh").alias("sh")
    )
    verified = _pair_overlap(uniq, sets, "doc_id")
    is_true = (
        F.lit(10) * F.col("inter_size") >= F.lit(8) * F.col("union_size")
    )
    vt = verified.select("id_a", "id_b", is_true.alias("is_true")).persist()
    pooled = vt.agg(
        F.sum(F.col("is_true").cast("long")).alias("_pool")
    ).collect()[0]
    n_pool = int(pooled["_pool"] or 0)  # bounded: one scalar
    return (
        tagged.join(vt, ["id_a", "id_b"])
        .groupBy("config")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.sum(F.col("is_true").cast("long"))
            .cast("long")
            .alias("n_true_pos"),
        )
        .select(
            "config", "n_candidates", "n_true_pos",
            F.lit(n_pool).cast("long").alias("n_true_pooled"),
        )
    )


def _band_tuning_sql() -> str:
    unions = " UNION ALL ".join(
        f"SELECT id_a, id_b, '{b}x{16 // b}' AS config "
        f"FROM ({_minhash_sql(16, b, _BAND_TUNING_CAP)})"
        for b in _BAND_CONFIGS
    )
    return f"""
    WITH tagged AS MATERIALIZED ({unions}),
    uniq AS (SELECT DISTINCT id_a, id_b FROM tagged),
    wh0 AS (
      SELECT doc_id,
             list_transform(list_distinct(string_split(text, ' ')),
                            w -> {_sql_hex_to_long('md5(w)', 8)}) AS wh
      FROM documents),
    vt AS (
      SELECT u.id_a, u.id_b,
             10 * len(list_intersect(a.wh, b.wh))
               >= 8 * (len(a.wh) + len(b.wh)
                       - len(list_intersect(a.wh, b.wh))) AS is_true
      FROM uniq u
      JOIN wh0 a ON a.doc_id = u.id_a
      JOIN wh0 b ON b.doc_id = u.id_b),
    pool AS (
      SELECT coalesce(sum(CASE WHEN is_true THEN 1 ELSE 0 END), 0)
             AS n_pool FROM vt)
    SELECT t.config,
           CAST(count(*) AS BIGINT) AS n_candidates,
           CAST(sum(CASE WHEN v.is_true THEN 1 ELSE 0 END) AS BIGINT)
             AS n_true_pos,
           CAST((SELECT n_pool FROM pool) AS BIGINT) AS n_true_pooled
    FROM tagged t
    JOIN vt v ON v.id_a = t.id_a AND v.id_b = t.id_b
    GROUP BY t.config
"""


ORACLE_SQL_LLM["dedup_band_tuning"] = _band_tuning_sql()
QUERIES_LLM["dedup_band_tuning"] = q_dedup_band_tuning


def q_dedup_group_size_powerlaw(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Duplicate-group SIZE-DISTRIBUTION census: connected components
    over the hot-bucket-capped pair stream, histogrammed by
    floor(log2(group_size)) — the observability row a dedup run emits
    to answer "is duplication a long tail of pairs or a few mega
    cliques?" (the answer decides whether keep-best selection or
    cluster-cap salting is the binding cost at 100 TB). The log2 bin
    travels as an INTEGER (binary-string length - 1), so no float
    logarithm can straddle a bucket boundary. Per bin: group count
    and total docs inside those groups.

    Scale shape: capped pairs (linear) -> dedup_groups (bounded
    driver union-find fast path / two-level contraction beyond) ->
    one group-size agg -> one <=32-row bin agg. Nothing here exceeds
    the components computation the dedup path already pays for."""
    from rust_dms_cdc_operator_spark.operators.graph import (  # noqa: PLC0415
        dedup_groups,
    )

    d = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        d, "doc_id", "text", num_hashes=16, bands=2,
        max_bucket=_LSH_MAX_BUCKET,
    )
    # round 12: materialized leaf for the CC consumer (see
    # session.materialize_leaf)
    groups = dedup_groups(materialize_leaf(pairs.select("id_a", "id_b")))
    sizes = groups.groupBy("group_id").agg(
        F.count(F.lit(1)).cast("long").alias("size")
    )
    size_bin = (
        F.length(F.conv(F.col("size").cast("string"), 10, 2)) - 1
    ).cast("long")
    return (
        sizes.groupBy(size_bin.alias("size_bin"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum("size").cast("long").alias("n_docs"),
        )
    )


ORACLE_SQL_LLM["dedup_group_size_powerlaw"] = f"""
    WITH RECURSIVE pairs AS MATERIALIZED (
        {_minhash_sql(16, 2, _LSH_MAX_BUCKET)}),
    sym AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
    lbl(node, comp) AS (
      SELECT a, LEAST(a, MIN(b)) FROM sym GROUP BY a
      UNION
      SELECT s.b, l.comp
      FROM lbl l JOIN sym s ON s.a = l.node
      WHERE l.comp < s.b
    ),
    grp AS (SELECT node AS doc_id, MIN(comp) AS group_id
            FROM lbl GROUP BY node),
    sizes AS (SELECT group_id, count(*) AS sz FROM grp GROUP BY group_id)
    SELECT CAST(length(bin(sz)) - 1 AS BIGINT) AS size_bin,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(sz) AS BIGINT) AS n_docs
    FROM sizes GROUP BY 1
"""
QUERIES_LLM["dedup_group_size_powerlaw"] = q_dedup_group_size_powerlaw


def q_dedup_source_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source DEDUP IMPACT census — the table a training-mix
    owner reads after a dedup pass: for each source, how many docs
    (and how much token mass) survive keep-best representative
    selection over the duplicate groups. Survivors = every doc not in
    a group, plus each group's keep-best member (longest n_chars,
    ties -> lowest doc_id — the dedup_keep_best rule, recomputed here
    via the same exact integer combo so the two censuses can never
    disagree). Token mass is the whitespace token count, so the
    output prices dedup in the same unit the token-budget planner
    consumes.

    Scale shape: capped pairs -> connected components -> one
    group-argmax agg (map-combinable combo max, no window) -> one
    per-source agg over a corpus-wide frame with two bounded joins
    (group membership, keep set). Nothing exceeds what
    dedup_keep_best already pays."""
    from rust_dms_cdc_operator_spark.operators.graph import (  # noqa: PLC0415
        dedup_groups,
    )

    d = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        d, "doc_id", "text", num_hashes=16, bands=2,
        max_bucket=_LSH_MAX_BUCKET,
    )
    # round 12: materialized leaf for the CC consumer (see
    # session.materialize_leaf)
    groups = dedup_groups(materialize_leaf(pairs.select("id_a", "id_b")))
    meta = d.select(
        "doc_id",
        "source",
        F.col("n_chars").cast("long").alias("nc"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("toks"),
    )
    keep = (
        groups.join(meta, "doc_id")
        .groupBy("group_id")
        .agg(_keepbest_argmax_expr(F.col("nc"), F.col("doc_id")).alias("_m"))
        .select(
            _keepbest_decode_exprs(F.col("_m"))[0].alias("doc_id"),
            F.lit(1).alias("_keep"),
        )
    )
    j = (
        meta.join(groups, "doc_id", "left")
        .join(keep, "doc_id", "left")
        .select(
            "source",
            "toks",
            (
                F.col("group_id").isNull() | F.col("_keep").isNotNull()
            ).alias("survives"),
        )
    )
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("survives").cast("long")).cast("long").alias("n_kept"),
        F.sum("toks").cast("long").alias("tokens_total"),
        F.sum(F.when(F.col("survives"), F.col("toks")).otherwise(F.lit(0)))
        .cast("long")
        .alias("tokens_kept"),
    )


ORACLE_SQL_LLM["dedup_source_impact"] = f"""
    WITH RECURSIVE pairs AS MATERIALIZED (
        {_minhash_sql(16, 2, _LSH_MAX_BUCKET)}),
    sym AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
    lbl(node, comp) AS (
      SELECT a, LEAST(a, MIN(b)) FROM sym GROUP BY a
      UNION
      SELECT s.b, l.comp
      FROM lbl l JOIN sym s ON s.a = l.node
      WHERE l.comp < s.b
    ),
    grp AS (SELECT node AS doc_id, MIN(comp) AS group_id
            FROM lbl GROUP BY node),
    keep AS (
      -- HUGEINT encoding of the same (n_chars, -doc_id) total order
      -- as Spark's _keepbest_argmax_expr struct max
      SELECT CAST(9223372036854775808::HUGEINT - 1
                  - max(d.n_chars::HUGEINT * 9223372036854775808::HUGEINT
                        + (9223372036854775808::HUGEINT - 1 - d.doc_id))
                    % 9223372036854775808::HUGEINT AS BIGINT) AS doc_id
      FROM grp g JOIN documents d USING (doc_id)
      GROUP BY g.group_id),
    j AS (
      SELECT d.source,
             len(string_split(d.text, ' '))::BIGINT AS toks,
             (g.doc_id IS NULL OR k.doc_id IS NOT NULL) AS survives
      FROM documents d
      LEFT JOIN grp g ON g.doc_id = d.doc_id
      LEFT JOIN keep k ON k.doc_id = d.doc_id)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN survives THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(sum(toks) AS BIGINT) AS tokens_total,
           CAST(sum(CASE WHEN survives THEN toks ELSE 0 END) AS BIGINT)
             AS tokens_kept
    FROM j GROUP BY source
"""
QUERIES_LLM["dedup_source_impact"] = q_dedup_source_impact


def q_sim_pc1_explained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPLAINED-VARIANCE census for the fixed-point PC1
    (sim_power_iteration's v): per label, the exact integer masses
    from which the PC1 explained-variance ratio reads off as a
    rational — sum of squared projections <x_q, v>^2 against the
    total quantized second moment |v|^2 * sum |x_q|^2 (the
    Rayleigh-quotient decomposition; ratio near 1 on a label means
    that cluster IS the dominant axis, the anisotropy diagnostic for
    embedding spaces). Re-runs the identical 3-round trajectory, so
    this census and the projection census can never disagree about v.

    Scale shape: the iteration cost (6 zero-exchange passes + 64-row
    aggs, driver holds 64 ints); the census itself is one
    map-combinable per-label agg. Int64 bound: proj^2 <= 4.1e11 per
    row — exact below ~2e7 rows per label at Q=100; rescale Q (or
    widen to DECIMAL(38)) beyond, the TVD precedent."""
    d_dim = 64
    q = _POWER_ITER_Q
    emb = _t(spark, sf_dir, "embeddings")
    xq = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * q).cast("long"),
    )
    e = emb.select("vec_id", "label", xq.alias("xq"))
    v = [q] * d_dim
    for _ in range(_POWER_ITER_ROUNDS):
        vlit = F.array(*[F.lit(int(c)).cast("long") for c in v])
        dot = F.aggregate(
            F.zip_with(F.col("xq"), vlit, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        y_rows = (
            e.select(
                F.posexplode(
                    F.transform(F.col("xq"), lambda x: x * dot)
                ).alias("dim", "t")
            )
            .groupBy("dim")
            .agg(F.sum("t").alias("y"))
            .collect()
        )
        if not y_rows:
            break
        y = {r["dim"]: int(r["y"]) for r in y_rows}
        m = max(abs(c) for c in y.values())
        if m == 0:
            break
        v = [(y.get(i, 0) * q) // m for i in range(d_dim)]
    v_norm2 = sum(c * c for c in v)
    vlit = F.array(*[F.lit(int(c)).cast("long") for c in v])
    proj = F.aggregate(
        F.zip_with(F.col("xq"), vlit, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    norm2 = F.aggregate(
        F.transform(F.col("xq"), lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        e.select("label", proj.alias("p"), norm2.alias("n2"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum(F.col("p") * F.col("p")).cast("long").alias("sum_proj2"),
            F.sum("n2").cast("long").alias("sum_norm2"),
        )
        .select(
            "label", "n_vecs", "sum_proj2", "sum_norm2",
            F.lit(int(v_norm2)).cast("long").alias("v_norm2"),
        )
    )


def _pc1_explained_sql(rounds: int, q: int, d_dim: int) -> str:
    base = _power_iter_sql(rounds, q, d_dim)
    # reuse the iteration CTE chain; replace the projection census
    # with the explained-variance masses (split on the shared marker)
    head = base.split("fin AS (")[0]
    return f"""{head}fin AS (SELECT label,
                   (SELECT sum(xq[v.dim + 1] * v.v) FROM v{rounds} v) AS p,
                   list_aggregate(list_transform(xq, x -> x * x), 'sum')
                     AS n2
            FROM e),
    vn AS (SELECT sum(v * v) AS v_norm2 FROM v{rounds})
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(p * p) AS BIGINT) AS sum_proj2,
           CAST(sum(n2) AS BIGINT) AS sum_norm2,
           CAST((SELECT v_norm2 FROM vn) AS BIGINT) AS v_norm2
    FROM fin GROUP BY label
    """


ORACLE_SQL_LLM["sim_pc1_explained"] = _pc1_explained_sql(
    _POWER_ITER_ROUNDS, _POWER_ITER_Q, 64
)
QUERIES_LLM["sim_pc1_explained"] = q_sim_pc1_explained


def q_sim_ivf_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF LIST-BALANCE census — the ANN observability row (the
    lsh_hot_buckets counterpart for the IVF family): per trained
    list, its occupancy under the shared seed-42 centroids, next to
    the corpus total and list count, so imbalance (max/mean as a
    rational) and dead lists read straight off. At 100 TB this is THE
    number that decides whether probe latency is uniform or one hot
    cell serves half the corpus — faiss calls it the imbalance
    factor; a run that deploys IVF without this census is flying
    blind.

    Scale shape: assignment is the broadcast-centroid struct-max
    argmax (map-side combinable, zero pre-agg exchange); the census
    is one n_lists-row agg plus one bounded scalar lookup. Oracle:
    the identical rounded-cosine / ties->lowest-cid rule rendered
    from the same artifact registry (per-sf via
    oracle_sql_overrides)."""
    from rust_dms_cdc_operator_spark.operators.similarity import (  # noqa: PLC0415
        ivf_assign_join,
    )

    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") > 0)
    cents = _trained_ivf_cents(spark, sf_dir)
    assign = ivf_assign_join(
        e, cents, "vec_id", vec_col="embedding", out_col="cid"
    )
    occ = assign.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs")
    )
    t = occ.agg(
        F.sum("n_vecs").alias("_tot"), F.count(F.lit(1)).alias("_nl")
    ).collect()[0]  # bounded: one 2-int row
    tot = int(t["_tot"] or 0)
    nl_used = int(t["_nl"] or 0)
    return occ.select(
        F.col("cid").cast("long").alias("cid"),
        "n_vecs",
        F.lit(tot).cast("long").alias("n_total"),
        F.lit(len(cents)).cast("long").alias("n_lists"),
        F.lit(nl_used).cast("long").alias("n_lists_used"),
    )


def _ivf_occupancy_oracle_sql(cents=None) -> str:
    """sim_ivf_occupancy oracle: assignment by the identical
    rounded-cosine / ties->lowest-cid rule over the trained centroid
    literals, then the occupancy census."""
    if cents is None:
        from rust_dms_cdc_operator_spark.ivf_constants import (  # noqa: PLC0415
            _IVF_TRAINED_CENTROIDS_SF001 as cents,
        )
    rows = ",\n          ".join(
        f"({i}, {c}::DOUBLE[])" for i, c in enumerate(cents)
    )
    return f"""
        WITH cents AS (
          SELECT * FROM (VALUES
          {rows}
          ) AS t(cid, cemb)
        ),
        ranked AS (
          SELECT e.vec_id, c.cid,
                 row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY round(list_cosine_similarity(
                       e.embedding::DOUBLE[], c.cemb), 6) DESC, c.cid
                 ) AS rn
          FROM embeddings e CROSS JOIN cents c WHERE e.vec_id > 0
        ),
        assign AS (SELECT vec_id, cid FROM ranked WHERE rn = 1),
        occ AS (SELECT cid, count(*) AS n_vecs FROM assign GROUP BY cid),
        tot AS (SELECT sum(n_vecs) AS t, count(*) AS nl FROM occ)
        SELECT CAST(o.cid AS BIGINT) AS cid,
               CAST(o.n_vecs AS BIGINT) AS n_vecs,
               CAST((SELECT t FROM tot) AS BIGINT) AS n_total,
               CAST({len(cents)} AS BIGINT) AS n_lists,
               CAST((SELECT nl FROM tot) AS BIGINT) AS n_lists_used
        FROM occ o
    """


ORACLE_SQL_LLM["sim_ivf_occupancy"] = _ivf_occupancy_oracle_sql()
QUERIES_LLM["sim_ivf_occupancy"] = q_sim_ivf_occupancy


def _wide_sig_expr(conv_a, conv_b, n_a: int, n_b: int):
    """Pooled two-proportion |z| > 2 membership as one exact integer
    inequality ``(c_a*n_b - c_b*n_a)^2 * N > 4*n_a*n_b*C*(N-C)``,
    every product in DECIMAL(38,0) — the Spark twin of DuckDB's
    HUGEINT sums: exact to ~1e38, loud (ANSI raise) beyond, never a
    silent int64 wrap. Shared by q_events_ab_test and the synthetic
    past-2^63 agreement test."""
    dec = "decimal(38,0)"
    ca, cb = conv_a.cast(dec), conv_b.cast(dec)
    la = F.lit(n_a).cast(dec)
    lb = F.lit(n_b).cast(dec)
    d = ca * lb - cb * la
    c_all = ca + cb
    n_all = F.lit(n_a + n_b).cast(dec)
    return (d * d * n_all) > (
        F.lit(4).cast(dec) * la * lb * c_all * (n_all - c_all)
    )


def q_events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout with EXACT-INTEGER significance — the
    analytics table an experimentation pipeline emits per metric: arms
    split deterministically by user parity (the hash-bucket diversion
    every real system uses), exposure = any event, conversion on a
    metric = the user emitted that event_type. Per event_type:
    per-arm conversion counts, exposure totals, and the two-proportion
    pooled z-test at |z| > 2 decided by the exact cross-multiplication
    (c_a*n_b - c_b*n_a)^2 * N > 4 * n_a*n_b * C * (N-C)
    (algebraically z^2 > 4 with pooled variance, the
    events_anomaly_hours pattern) — membership can never flip on
    float rounding, and the zero-conversion / full-conversion
    degenerate cases fall out as not-significant with no division.
    Both sides of the inequality are computed WIDE (round 10, per
    ADVICE): Spark in DECIMAL(38,0) via :func:`_wide_sig_expr`,
    DuckDB in HUGEINT (its sums are already int128) — exact to ~1e38,
    i.e. ~3e7 users per arm even at the d ~ n^2 full-conversion-
    imbalance worst case (realistic near-boundary d keeps the bound
    orders higher; the old bare-int64 bound was 55k), and LOUD
    (ANSI/overflow raise) beyond on BOTH engines; no silent
    divergence at any magnitude (pinned past 2^63 by
    tests/test_llm_ops.py::test_wide_sig_expr_past_int64).

    Scale shape: one distinct-users pass for the two exposure scalars
    (bounded literal-lookup), one (event_type, arm) distinct-user agg
    (map-combinable), one per-type pivot via conditional sums. No
    window, no join against the event stream."""
    e = read_events(spark, sf_dir)
    arm = (F.col("user_id") % 2 == 0).cast("int")
    exp_row = (
        e.select("user_id").distinct()
        .agg(
            F.sum((F.col("user_id") % 2 == 0).cast("long")).alias("_na"),
            F.sum((F.col("user_id") % 2 != 0).cast("long")).alias("_nb"),
        )
        .collect()[0]
    )  # bounded: one 2-int row (the chunk-offset pattern)
    n_a, n_b = int(exp_row["_na"] or 0), int(exp_row["_nb"] or 0)
    conv = (
        e.select("event_type", "user_id", arm.alias("arm"))
        .distinct()
        .groupBy("event_type")
        .agg(
            F.sum((F.col("arm") == 1).cast("long")).alias("conv_a"),
            F.sum((F.col("arm") == 0).cast("long")).alias("conv_b"),
        )
    )
    sig = _wide_sig_expr(
        F.col("conv_a"), F.col("conv_b"), n_a, n_b
    )
    return conv.select(
        "event_type",
        "conv_a",
        "conv_b",
        F.lit(n_a).cast("long").alias("n_a"),
        F.lit(n_b).cast("long").alias("n_b"),
        sig.alias("significant"),
    )


ORACLE_SQL_LLM["events_ab_test"] = """
    WITH u AS (SELECT DISTINCT user_id FROM events),
    exps AS (
      SELECT sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS n_a,
             sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS n_b
      FROM u),
    conv AS (
      SELECT event_type,
             sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS conv_a,
             sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS conv_b
      FROM (SELECT DISTINCT event_type, user_id,
                   CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS arm
            FROM events)
      GROUP BY event_type)
    SELECT c.event_type,
           CAST(c.conv_a AS BIGINT) AS conv_a,
           CAST(c.conv_b AS BIGINT) AS conv_b,
           CAST(x.n_a AS BIGINT) AS n_a,
           CAST(x.n_b AS BIGINT) AS n_b,
           -- conv_*/n_* are DuckDB sums = HUGEINT (int128): products
           -- exact to ~1.7e38, raise on overflow — the twin of
           -- Spark's DECIMAL(38,0) _wide_sig_expr
           (c.conv_a * x.n_b - c.conv_b * x.n_a)
             * (c.conv_a * x.n_b - c.conv_b * x.n_a)
             * (x.n_a + x.n_b)
             > 4 * x.n_a * x.n_b * (c.conv_a + c.conv_b)
               * (x.n_a + x.n_b - c.conv_a - c.conv_b) AS significant
    FROM conv c, exps x
"""
QUERIES_LLM["events_ab_test"] = q_events_ab_test


# ------------------------------------------------------------ round 10
def q_sim_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF recall census — the index-health audit an ANN deployment
    runs BEFORE trusting probe results at corpus scale (the
    sim_ivf_occupancy companion: occupancy says the lists are
    balanced, this says the probes actually find the true
    neighbors). Over a FIXED deterministic eval panel (every 50th
    vec_id below 5000 — a deployment pins its eval set; scaling the
    corpus must NOT scale the audit, or the brute-force ground truth
    goes quadratic: the unbounded %50 sample measured 19.3x at the
    10x step, the bounded panel ~2x), computes the EXACT cosine
    top-10 (brute force, the ground truth) and the nprobe=3 IVF
    top-10 from the shared seed-42 trained quantizer, then reports
    the per-query overlap as an exact integer histogram
    (hits@10 -> n_queries) — recall@10 reads off as
    sum(hits*n)/(10*sum(n)). Every ranking is round(cos, 6) DESC
    with vec_id tie-break on both engines, so the top-k SETS are
    engine-identical and the census hash-matches.

    Scale shape: ground truth is batch_cosine_topk (queries
    BROADCAST, corpus scanned once, two-stage shard rank — the
    sample is a census parameter, not corpus-sized); the IVF side is
    the broadcast-quantizer assign/probe joins (build side = the
    trained artifact, KB-MB at any corpus size) + one per-query
    window over list-bounded candidates; the final overlap join and
    histogram are sample-sized. Self is always a candidate (its own
    list is its top probe), so hits >= 1 and no query row vanishes."""
    from rust_dms_cdc_operator_spark.operators.similarity import (  # noqa: PLC0415
        _cell_pairs,
        batch_cosine_topk,
        ivf_assign_join,
        ivf_probe_lists_join,
    )

    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") > 0)
    cents = _trained_ivf_cents(spark, sf_dir)
    k, nprobe = 10, 3
    q = e.filter(
        (F.col("vec_id") % 50 == 1) & (F.col("vec_id") < 5000)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    exact = batch_cosine_topk(
        e, q, "vec_id", "embedding", k=k
    ).select("query_id", "vec_id")
    assigned = ivf_assign_join(
        e, cents, "vec_id", vec_col="embedding", out_col="lst"
    ).withColumnRenamed("vec_id", "id_b")
    probes = ivf_probe_lists_join(
        q, cents, "query_id", nprobe, vec_col="query_vec", out_col="lst"
    ).withColumnRenamed("query_id", "id_a")
    cand = _cell_pairs(
        probes, assigned, "lst", F.broadcast(q), e.select("vec_id", "embedding")
    ).select(
        F.col("id_a").alias("query_id"),
        F.col("id_b").alias("vec_id"),
        F.col("cos_sim").alias("s"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("s"), F.asc("vec_id")
    )
    ivf_top = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "vec_id")
    )
    hits = ivf_top.join(exact, ["query_id", "vec_id"]).groupBy(
        "query_id"
    ).agg(F.count(F.lit(1)).alias("hits"))
    return hits.groupBy("hits").agg(
        F.count(F.lit(1)).cast("long").alias("n_queries")
    ).select(F.col("hits").cast("long").alias("hits"), "n_queries")


def _ivf_recall_oracle_sql(cents: list | None = None) -> str:
    """sim_ivf_recall oracle: exact top-10 vs IVF(nprobe=3) top-10
    overlap histogram with the trained centroids as literals — same
    per-sf re-rendering contract as _ivf_trained_oracle_sql."""
    if cents is None:
        from rust_dms_cdc_operator_spark.ivf_constants import (  # noqa: PLC0415
            _IVF_TRAINED_CENTROIDS_SF001 as cents,
        )
    rows = ",\n          ".join(
        f"({i}, {c}::DOUBLE[])" for i, c in enumerate(cents)
    )
    return f"""
        WITH cents AS (
          SELECT * FROM (VALUES
          {rows}
          ) AS t(cid, cemb)
        ),
        q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
              FROM embeddings
              WHERE vec_id > 0 AND vec_id % 50 = 1 AND vec_id < 5000),
        exact AS (
          SELECT q.query_id, e.vec_id,
                 row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY round(list_cosine_similarity(
                       e.embedding::DOUBLE[], q.qv), 6) DESC, e.vec_id
                 ) AS rn
          FROM embeddings e CROSS JOIN q WHERE e.vec_id > 0),
        assign AS (
          SELECT e.vec_id, c.cid,
                 row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY round(list_cosine_similarity(
                       e.embedding::DOUBLE[], c.cemb), 6) DESC, c.cid
                 ) AS rn
          FROM embeddings e CROSS JOIN cents c WHERE e.vec_id > 0),
        probes AS (
          SELECT q.query_id, c.cid,
                 row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY round(list_cosine_similarity(
                       c.cemb, q.qv), 6) DESC, c.cid
                 ) AS rn
          FROM cents c CROSS JOIN q),
        ivf AS (
          SELECT p.query_id, e.vec_id,
                 row_number() OVER (
                   PARTITION BY p.query_id
                   ORDER BY round(list_cosine_similarity(
                       e.embedding::DOUBLE[], q.qv), 6) DESC, e.vec_id
                 ) AS rn
          FROM embeddings e
          JOIN assign a ON a.vec_id = e.vec_id AND a.rn = 1
          JOIN probes p ON p.cid = a.cid AND p.rn <= 3
          JOIN q ON q.query_id = p.query_id
          WHERE e.vec_id > 0),
        hits AS (
          SELECT i.query_id, count(*) AS h
          FROM ivf i
          JOIN exact x ON x.query_id = i.query_id
                      AND x.vec_id = i.vec_id AND x.rn <= 10
          WHERE i.rn <= 10 GROUP BY 1)
        SELECT CAST(h AS BIGINT) AS hits,
               CAST(count(*) AS BIGINT) AS n_queries
        FROM hits GROUP BY 1
    """


ORACLE_SQL_LLM["sim_ivf_recall"] = _ivf_recall_oracle_sql()
QUERIES_LLM["sim_ivf_recall"] = q_sim_ivf_recall


def q_events_retention_cohorts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weekly cohort retention matrix — the EXACT form of the
    retention readout events_hll_retention sketches: cohort = the
    ISO week of a user's FIRST event, age = weeks since cohort;
    each (cohort_week, age_weeks) cell counts DISTINCT returning
    users. All integers (epoch-day // 7 week indexing on both
    engines — no timezone or ISO-week edge can diverge), so the
    matrix hash-matches exactly.

    Scale shape: one distinct (user, week) projection (map-side
    combinable), one per-user min-week aggregation joined back on
    the user key, one (cohort, age) count-distinct — every
    aggregation keyed and partial, no windows, no driver
    materialization; the matrix itself is calendar-bounded
    (weeks^2 / 2 cells)."""
    e = read_events(spark, sf_dir)
    wk = F.floor(
        F.unix_date(F.col("ts").cast("date")) / F.lit(7)
    ).cast("long")
    uw = e.select(
        F.col("user_id"), wk.alias("week")
    ).distinct()
    first = uw.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        uw.join(first, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("age_weeks"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


ORACLE_SQL_LLM["events_retention_cohorts"] = """
    WITH uw AS (
      SELECT DISTINCT user_id,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7
               AS week
      FROM events),
    first AS (
      SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY 1)
    SELECT f.cohort_week,
           uw.week - f.cohort_week AS age_weeks,
           CAST(count(*) AS BIGINT) AS n_users
    FROM uw JOIN first f USING (user_id)
    GROUP BY 1, 2
"""
QUERIES_LLM["events_retention_cohorts"] = q_events_retention_cohorts


def q_docs_length_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift gate between the token-
    length distributions of the TWO LARGEST sources (ties -> source
    asc) — the distribution-shift check a training mix runs before
    blending a new source (the events_histogram_drift companion, on
    the documents table and with the exact SUP-statistic instead of
    binned TVD). The D statistic is emitted as the EXACT integer
    numerator ``d_num = max_x |cumA(x)*nB - cumB(x)*nA|``
    (D = d_num/(nA*nB)), its location ``at_len`` (smallest length
    achieving the max), and the exact parts-per-million
    ``d_ppm = (d_num * 1e6) div (nA*nB)`` — the cross products ride
    :func:`_wide_dev_expr` (DECIMAL(38,0) / HUGEINT), so no float
    and no silent wrap at any magnitude; the final long casts are
    loud. Lengths clip at 4096 tokens, making the cumulative spine a
    FIXED grid (<= 4097 rows — docs longer than the clip compare
    equal there; length drift lives in the body of the
    distribution).

    Scale shape: one doc scan into a (length x 2)-count aggregate
    bounded by the clip, one single-partition running sum over that
    fixed grid (allowlisted: grid-bounded by construction), two
    scalar lookups, one 4097-row argmax. Nothing corpus-sized past
    the first aggregation."""
    d = _t(spark, sf_dir, "documents")
    srcs = sorted(
        d.groupBy("source").agg(F.count(F.lit(1)).alias("c")).collect(),
        key=lambda r: (-r["c"], r["source"]),
    )  # bounded collect: source is a dimension
    empty = spark.createDataFrame(
        [],
        "source_a string, source_b string, n_a long, n_b long, "
        "d_num long, at_len long, d_ppm long",
    )
    if len(srcs) < 2:
        return empty
    sa, sb = srcs[0]["source"], srcs[1]["source"]
    toks = F.least(
        F.size(F.split(F.col("text"), " ")).cast("long"), F.lit(4096)
    )
    per_len = (
        d.filter(F.col("source").isin([sa, sb]))
        .select(F.col("source"), toks.alias("len"))
        .groupBy("len")
        .agg(
            F.sum((F.col("source") == sa).cast("long")).alias("ca"),
            F.sum((F.col("source") == sb).cast("long")).alias("cb"),
        )
    )
    trow = per_len.agg(F.sum("ca"), F.sum("cb")).collect()[0]
    n_a, n_b = int(trow[0] or 0), int(trow[1] or 0)
    if n_a == 0 or n_b == 0:
        return empty
    w = Window.orderBy("len").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per_len.select(
        "len",
        F.sum("ca").over(w).alias("cuma"),
        F.sum("cb").over(w).alias("cumb"),
    )
    dev = _wide_dev_expr(
        F.col("cuma"), F.col("cumb"), F.lit(n_a), F.lit(n_b)
    )
    scored = cum.select("len", dev.alias("dev"))
    dmax = scored.agg(F.max("dev").alias("m"))
    hit = (
        scored.join(F.broadcast(dmax), scored["dev"] == dmax["m"])
        .agg(F.min("len").alias("at_len"), F.max("dev").alias("d"))
    )
    prod = F.lit(n_a).cast("decimal(19,0)") * F.lit(n_b).cast(
        "decimal(19,0)"
    )
    return hit.select(
        F.lit(sa).alias("source_a"),
        F.lit(sb).alias("source_b"),
        F.lit(n_a).cast("long").alias("n_a"),
        F.lit(n_b).cast("long").alias("n_b"),
        F.col("d").cast("long").alias("d_num"),
        F.col("at_len").cast("long").alias("at_len"),
        # exact ppm: integral `div` of DECIMAL(38,0) intermediates —
        # d*1e6 <= nA*nB*1e6, inside DECIMAL(38) while nA*nB < 1e32
        ((F.col("d") * F.lit(1000000)).cast("decimal(38,0)"))
        .alias("_dn"),
    ).select(
        "source_a", "source_b", "n_a", "n_b", "d_num", "at_len",
        F.expr("_dn div " + str(n_a * n_b)).cast("long").alias("d_ppm"),
    )


ORACLE_SQL_LLM["docs_length_ks"] = """
    WITH counts AS (
      SELECT source, count(*) AS c FROM documents GROUP BY 1),
    top2 AS (
      SELECT source, row_number() OVER (ORDER BY c DESC, source) AS rn
      FROM counts),
    sa AS (SELECT source FROM top2 WHERE rn = 1),
    sb AS (SELECT source FROM top2 WHERE rn = 2),
    lens AS (
      SELECT d.source,
             least(CAST(len(string_split(d.text, ' ')) AS BIGINT), 4096)
               AS l
      FROM documents d
      WHERE d.source IN (SELECT source FROM sa)
         OR d.source IN (SELECT source FROM sb)),
    per_len AS (
      SELECT l,
             sum(CASE WHEN source = (SELECT source FROM sa)
                      THEN 1 ELSE 0 END) AS ca,
             sum(CASE WHEN source = (SELECT source FROM sb)
                      THEN 1 ELSE 0 END) AS cb
      FROM lens GROUP BY 1),
    tot AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM per_len),
    cum AS (
      SELECT l,
             sum(ca) OVER (ORDER BY l) AS cuma,
             sum(cb) OVER (ORDER BY l) AS cumb
      FROM per_len),
    -- HUGEINT cross products: the twin of Spark's DECIMAL(38,0)
    -- _wide_dev_expr
    scored AS (
      SELECT l,
             abs(CAST(cuma AS HUGEINT) * t.nb
                 - CAST(cumb AS HUGEINT) * t.na) AS dev
      FROM cum, tot t),
    hit AS (
      SELECT min(l) AS at_len, max(dev) AS d
      FROM scored WHERE dev = (SELECT max(dev) FROM scored))
    SELECT (SELECT source FROM sa) AS source_a,
           (SELECT source FROM sb) AS source_b,
           CAST(t.na AS BIGINT) AS n_a,
           CAST(t.nb AS BIGINT) AS n_b,
           CAST(h.d AS BIGINT) AS d_num,
           CAST(h.at_len AS BIGINT) AS at_len,
           CAST((h.d * 1000000) // (CAST(t.na AS HUGEINT) * t.nb)
                AS BIGINT) AS d_ppm
    FROM hit h, tot t
"""
QUERIES_LLM["docs_length_ks"] = q_docs_length_ks


