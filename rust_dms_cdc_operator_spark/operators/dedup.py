"""Deduplication operators for large-scale training-data pipelines.

All of these stay JVM-side (built-in array/hash functions inside
whole-stage codegen — no Python UDFs in the hot path) and scale as:

- exact: one hash-shuffle on the content digest;
- MinHash+LSH: signatures computed per-row with array ops (no explode,
  no shuffle), then ONE shuffle per band on the band key; candidate
  pairs come from within-bucket self-joins whose skew AQE splits;
- SimHash: per-row 16-bit signature via word-hash bit voting —
  explode(words) + one groupBy(doc) shuffle;
- n-gram Jaccard: shingle sets per row (array ops), bounded candidate
  join, array_intersect/array_union sizes — exact fractions, no
  floating point;
- thresholded near-dup censuses (Jaccard, containment): exact
  prefix-filter self-joins on each doc's globally rarest shingles, so
  candidate volume is bounded by the threshold, not the vocabulary.
  The LSH-verified census is that join followed by a band filter
  keeping the pairs that share a band key (``lsh_band_filter``); the
  candidate-stream verifiers (``jaccard_verify_pairs``,
  ``containment_verify_pairs``) serve sampled or capped candidates.
  Every prefix join builds its candidates with ``_prefix_pairs``, and
  every exact set-similarity stage verifies through ``_pair_overlap``.

Portability note: hashes are md5-hex (same on every engine) rather
than xxhash64 (Spark-specific seeds), so results are oracle-checkable;
swap ``_word_hash`` for ``F.xxhash64`` when checksum stability across
engines is not required and speed matters.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rust_dms_cdc_operator_spark.session import (
    materialize_cache,
    scan_parallelism_floor,
)


def _words(text: Column) -> Column:
    return F.split(text, " ")


def exact_dedup(
    df: DataFrame, content_col: str, id_col: str
) -> DataFrame:
    """Exact dedup via content digest: one row per distinct content,
    keeping the smallest id (deterministic winner) and the group size."""
    return (
        df.select(F.md5(F.col(content_col)).alias("content_md5"), F.col(id_col))
        .groupBy("content_md5")
        .agg(
            F.min(id_col).alias(f"kept_{id_col}"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# MinHash linear-mix family h_i(x) = (A_i * base(x) + B_i) mod MERSENNE:
# ONE md5 per distinct word, then num_hashes integer mixes — 16x less
# hashing than md5-per-(word, i), all in whole-stage codegen
_MERSENNE = (1 << 31) - 1


def _mix_a(i: int) -> int:
    return 2 * (40000 + i) + 1  # odd multipliers, fixed and portable


def _mix_b(i: int) -> int:
    return 7 + i


def hex_to_long(hexcol: Column, chars: int) -> Column:
    """Leading ``chars`` hex chars → integer (portable: identical to
    DuckDB's digit-positional parse for the lowercase hex every call
    site feeds — md5 output or substrings of it).

    Round 12 (guide §1.2 step 2, per-task work): one native ``conv``
    expression instead of ``chars`` chained instr/substring ops. The
    positional chain also re-evaluated ``hexcol`` once per digit —
    harmless under whole-stage-codegen subexpression elimination, but
    inside higher-order-function lambdas (MinHash signatures, hashed
    shingles, winnowing k-grams) evaluation is interpreted with no
    CSE, so an ``md5(w)`` argument was recomputed per digit. Measured
    at sf0.1: signature stage 0.26 → 0.15 s (HOF context), simhash
    word-hash stage 0.44 → 0.31 s (projection context); bit-identical
    output on both paths (exceptAll both ways = 0). ``chars`` ≤ 15
    keeps the value under 2^60, inside signed-long range."""
    return F.conv(F.substring(hexcol, 1, chars), 16, 10).cast("long")


def minhash_signature_cols(
    text: Column, num_hashes: int
) -> tuple[Column, list[Column]]:
    """Word-hash array (compute once) + MinHash signature columns over
    it: sig_i = min over distinct words of (A_i*h32(w) + B_i) mod M.
    Array ops only — no explode, no shuffle in the signature stage."""
    word_hashes = F.transform(
        F.array_distinct(_words(text)), lambda w: hex_to_long(F.md5(w), 8)
    )
    sig = [
        F.array_min(
            F.transform(
                F.col("_wh"),
                lambda h: (F.lit(_mix_a(i)) * h + F.lit(_mix_b(i))) % _MERSENNE,
            )
        ).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    return word_hashes.alias("_wh"), sig


def band_key_cols(num_hashes: int, bands: int) -> list[Column]:
    """The LSH band keys ``bk_0 .. bk_{bands-1}`` over the ``mh_i``
    columns of :func:`minhash_signature_cols`: band b is its
    ``num_hashes // bands`` consecutive signature values joined with
    ``|``. Every band-keyed operator here builds its keys with this
    one expression, so "two docs share a key" means the same thing to
    the pair generator, the band-key index and the band filter."""
    rows_per_band = num_hashes // bands
    return [
        F.concat_ws(
            "|",
            *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)],
        ).alias(f"bk_{b}")
        for b in range(bands)
    ]


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 2,
    carry_cols: list[str] | None = None,
    max_bucket: int | None = None,
    salt: int | None = None,
) -> DataFrame:
    """Banded-LSH candidate pairs: docs sharing any band signature.
    Returns distinct (id_a, id_b) with id_a < id_b.

    At scale: signature stage is embarrassingly parallel. Each pair is
    emitted exactly once, at its FIRST colliding band — band i's
    equi-join keeps only pairs whose band-j keys differ for all j < i —
    so no global ``distinct`` ever re-shuffles the (quadratic
    within-bucket) pair stream; the only shuffles of doc-level data are
    the per-band joins on the band key. The narrow per-doc signature
    table is persisted (not checkpointed: lineage, AQE, and fault
    tolerance stay intact) so every join side reads one cached copy.
    In-bucket skew is AQE's skew-join split problem (machine-checked:
    tests/test_plans.py::test_lsh_banded_join_aqe_skew_split gates
    skew=true in the executed SMJ node on a hot-bucket fixture), and
    band width tunes bucket size.

    ``carry_cols`` emits input columns as ``{col}_a``/``{col}_b``:
    per-doc attributes a downstream rollup needs (source shard, length
    bucket, language) ride the band joins instead of joining against
    the candidate stream afterwards. At test scale Spark would
    broadcast that dim anyway; at 100 TB a one-row-per-doc table
    exceeds every broadcast threshold and the post-hoc join becomes
    two candidate-stream shuffles — carrying makes the plan
    scale-stable by construction.

    ``max_bucket`` (round 8) bounds candidate ENUMERATION itself — the
    `triangle_stats max_degree` pattern applied to band buckets: a
    (band, bucket) whose occupancy exceeds the cap is dropped from
    that band's join entirely, so within-bucket pair volume is capped
    at ``max_bucket**2/2`` per bucket and the total stream at
    ``bands * n_docs * max_bucket / 2`` — LINEAR in the corpus,
    whatever the vocabulary does (measured: an adversarial sf1 fixture
    fell 235M → 1.6M candidates at cap 256, with 18 of 15k buckets
    truncated). Docs in a hot bucket still pair through their OTHER
    bands; the first-colliding-band dedup treats a hot band level as
    not-colliding, so each surviving pair is emitted exactly once at
    its first KEPT colliding band and the output SET equals "collides
    in >= 1 under-cap bucket". Deterministic — a pure function of the
    data, no sampling — and :func:`lsh_bucket_truncation_census`
    reports exactly what was dropped (no silent cap).

    ``salt`` (round 8) parallelizes pair EMISSION. AQE's skew split
    cannot help here: it divides partitions by their shuffle-READ
    size, and a hot bucket's inputs are tiny (thousands of doc rows)
    while its join OUTPUT explodes quadratically — so one task emits
    the whole 200M-pair bucket. Salting the self-join (probe side
    keyed by hash(id) % salt, build side replicated ``salt`` ways)
    splits that emission across ``salt`` tasks; the output SET is
    unchanged (each pair matches at exactly one salt value) and the
    replication cost is per-DOC, not per-pair. Use when a consumer
    must swallow the FULL uncapped stream (connected components,
    k-NN ranking); the capped path makes it unnecessary.
    """
    carry_cols = list(carry_cols or [])
    wh, sig_cols = minhash_signature_cols(F.col(text_col), num_hashes)
    # round 12: NO parallelism floor here, deliberately — floored
    # signature input propagates a multi-partition layout into the
    # persisted keyed table and from there into every downstream
    # cache (CC edge lists, k-core adjacencies), whose iterative
    # consumers then pay per-partition task/codegen overhead on EVERY
    # sweep (measured: dedup_kcore 3.7 -> 6.4 s). The signature
    # stage's serial cost is bounded by the eager count below; truly
    # serial-dominated pipelines floor at their own sites instead.
    sigs = df.select(F.col(id_col), *carry_cols, wh).select(
        F.col(id_col), *carry_cols, *sig_cols
    )
    # materialize the signature cache BEFORE the per-band joins fan
    # out. AQE launches the band joins' broadcast builds as concurrent
    # futures; on a cold multi-partition cache each future races to
    # compute the same partitions and the signature pipeline (scan +
    # md5 x num_hashes) runs once PER CONSUMER instead of once
    # (measured: 19.6 -> 53.4 cpu-s at sf0.1 without the eager fill).
    # The fill is one cache-sized job at any scale.
    keyed = materialize_cache(
        sigs.select(
            F.col(id_col), *carry_cols, *band_key_cols(num_hashes, bands)
        )
    )

    if max_bucket is not None:
        # hot-bucket flags per band: occupancy census over the cached
        # narrow keyed table (one map-combined agg per band), hot sets
        # are tiny (the whole point) so the flag joins broadcast. Not
        # re-persisted: each band-join side replays bands broadcast
        # joins over the cached base — cheaper than a second cache of
        # the doc table.
        for i in range(bands):
            hot = (
                keyed.groupBy(f"bk_{i}")
                .agg(F.count(F.lit(1)).alias("_c"))
                .filter(F.col("_c") > max_bucket)
                .select(f"bk_{i}", F.lit(True).alias(f"h_{i}"))
            )
            keyed = keyed.join(F.broadcast(hot), f"bk_{i}", "left")
        keyed = keyed.select(
            *[c for c in keyed.columns if not c.startswith("h_")],
            *[
                F.coalesce(F.col(f"h_{i}"), F.lit(False)).alias(f"h_{i}")
                for i in range(bands)
            ],
        )

    carry_a = [F.col(c).alias(f"{c}_a") for c in carry_cols]
    carry_b = [F.col(c).alias(f"{c}_b") for c in carry_cols]
    out_cols = ["id_a", "id_b"] + [
        f"{c}_{s}" for c in carry_cols for s in ("a", "b")
    ]
    per_band = []
    for i in range(bands):
        src = (
            keyed.filter(~F.col(f"h_{i}")) if max_bucket is not None else keyed
        )
        hot_flags_a = (
            [F.col(f"h_{j}").alias(f"a_h_{j}") for j in range(i)]
            if max_bucket is not None
            else []
        )
        a = src.select(
            F.col(id_col).alias("id_a"),
            *carry_a,
            *hot_flags_a,
            *[F.col(f"bk_{j}").alias(f"a_bk_{j}") for j in range(i + 1)],
        ).withColumnRenamed(f"a_bk_{i}", "bk")
        b = src.select(
            F.col(id_col).alias("id_b"),
            *carry_b,
            *[F.col(f"bk_{j}").alias(f"b_bk_{j}") for j in range(i + 1)],
        ).withColumnRenamed(f"b_bk_{i}", "bk")
        if salt is not None and salt > 1:
            # explicit numbered repartition on the probe side: AQE's
            # coalescing sizes partitions by shuffle-READ bytes (tiny
            # doc rows) and would re-merge the salt shards into the
            # very task the salt exists to split; a user-specified
            # partition count is exempt from coalescing, and scales
            # with the cluster (defaultParallelism), not the data.
            npart = max(
                salt * 8, df.sparkSession.sparkContext.defaultParallelism * 2
            )
            a = a.withColumn(
                "_sa", F.pmod(F.hash("id_a"), F.lit(salt))
            ).repartition(npart, "bk", "_sa")
            b = b.withColumn(
                "_sa",
                F.explode(F.array(*[F.lit(s) for s in range(salt)])),
            )
            j = (
                a.join(b, ["bk", "_sa"])
                .drop("_sa")
                .filter(F.col("id_a") < F.col("id_b"))
            )
        else:
            j = a.join(b, "bk").filter(F.col("id_a") < F.col("id_b"))
        for jj in range(i):
            # first-KEPT-colliding-band dedup: a hot band level never
            # emitted the pair, so it must not suppress a later kept
            # collision either. When the keys are equal both docs sit
            # in the same bucket, so a's hotness flag is the bucket's.
            neq = F.col(f"a_bk_{jj}") != F.col(f"b_bk_{jj}")
            if max_bucket is not None:
                neq = neq | F.col(f"a_h_{jj}")
            j = j.filter(neq)
        per_band.append(j.select(*out_cols))
    out = per_band[0]
    for p in per_band[1:]:
        out = out.unionByName(p)
    return out


def minhash_band_keys(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 2,
) -> DataFrame:
    """The LSH BAND-KEY INDEX as a first-class frame: (id, band, bk)
    in long format — one row per document per band, same signature
    and banding arithmetic as :func:`minhash_lsh_pairs` (so a pair
    collides in this index iff the pair generator would emit it).

    This is the PERSISTED ARTIFACT of the incremental dedup/grouping
    contract (round 11; the `incremental_dedup` digest-state pattern
    applied to candidate generation): a corpus writes its band keys
    once (bands x n_docs narrow rows — parquet-partitionable by
    ``band``, bucketable by ``bk``), and each ingest batch computes
    keys for ITS OWN docs only, then probes the index
    (:func:`lsh_pairs_incremental`) — per-ingest candidate discovery
    costs O(batch keys + touched buckets), never O(corpus)."""
    entries = F.array(*[
        F.struct(F.lit(b).cast("int").alias("band"), F.col(f"bk_{b}").alias("bk"))
        for b in range(bands)
    ])
    return _band_keys_wide(df, id_col, text_col, num_hashes, bands).select(
        F.col(id_col), F.explode(entries).alias("_k")
    ).select(id_col, F.col("_k.band").alias("band"), F.col("_k.bk").alias("bk"))


def _band_keys_wide(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id_col, bk_0 .. bk_{bands-1}): one row per document."""
    wh, sig_cols = minhash_signature_cols(F.col(text_col), num_hashes)
    return (
        df.select(F.col(id_col), wh)
        .select(F.col(id_col), *sig_cols)
        .select(F.col(id_col), *band_key_cols(num_hashes, bands))
    )


def lsh_band_filter(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 2,
) -> DataFrame:
    """Keep the rows of a pair frame (``id_a``, ``id_b``, any other
    columns) whose two documents share a band key in at least one
    band — exactly the pairs :func:`minhash_lsh_pairs` with the same
    ``num_hashes``/``bands`` emits, in either orientation.

    This turns an exact threshold join into the LSH-verified census:
    for a threshold t > 0, "LSH candidate whose exact similarity is
    ≥ t" is the same set as "pair of :func:`prefix_jaccard_join` /
    :func:`prefix_containment_join` at t that collides in a band". The
    prefix join enumerates only threshold-reachable pairs through the
    rarest-token prefixes, so no candidate stream is materialized and
    no token self-join runs; this filter then costs two id-key joins
    of the (small) result against one narrow row per document. Both
    joins read the same unrenamed key frame, so Spark computes the
    signatures once and reuses that exchange for the second join."""
    keys = _band_keys_wide(docs, id_col, text_col, num_hashes, bands)
    collides = F.lit(False)
    for b in range(bands):
        collides = collides | (F.col(f"_ka.bk_{b}") == F.col(f"_kb.bk_{b}"))
    return (
        pairs.alias("_p")
        .join(keys.alias("_ka"), F.col("_p.id_a") == F.col(f"_ka.{id_col}"))
        .join(keys.alias("_kb"), F.col("_p.id_b") == F.col(f"_kb.{id_col}"))
        .filter(collides)
        .select("_p.*")
    )


def band_key_bucket_counts(keys: DataFrame) -> DataFrame:
    """Per-bucket occupancy of a band-key index: (band, bk, c) from a
    :func:`minhash_band_keys` long-format frame. This is the SECOND
    persisted artifact of the incremental dedup contract (round 12):
    a deployment maintains it next to the index itself — counts are
    additive, so each ingest upserts ``c += batch count`` per touched
    bucket — and feeds it to :func:`lsh_pairs_incremental` /
    :func:`lsh_probe_truncation_census` so the probe-side hot-bucket
    cap never scans the corpus index to learn occupancies."""
    return keys.groupBy("band", "bk").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )


def merge_bucket_counts(
    prior_counts: DataFrame, batch_keys: DataFrame
) -> DataFrame:
    """The ADDITIVE MAINTENANCE step of the occupancy artifact: fold
    an ingest batch's band keys into the persisted
    :func:`band_key_bucket_counts` table — counts are additive, so the
    merged table equals a from-scratch census over corpus ∪ batch
    (pinned by tests/test_llm_ops.py::test_bucket_counts_merge and the
    ``dedup_bucket_counts_merge`` oracle row). One batch-sized agg +
    one keyed union-agg against the artifact; a deployment writes the
    result back as the next epoch's artifact, so probe-side capping
    (:func:`lsh_pairs_incremental`) never scans the corpus index for
    occupancies at any epoch."""
    return (
        prior_counts.select("band", "bk", "c")
        .unionByName(band_key_bucket_counts(batch_keys))
        .groupBy("band", "bk")
        .agg(F.sum("c").cast("long").alias("c"))
    )


def _probe_hot_buckets(
    batch_keys: DataFrame,
    corpus_keys: DataFrame,
    max_bucket: int,
    corpus_bucket_counts: DataFrame | None,
) -> DataFrame:
    """Buckets TOUCHED by the batch whose full-corpus occupancy
    (batch members + prior-corpus members) exceeds ``max_bucket`` —
    the probe-side mirror of the hot set minhash_lsh_pairs(max_bucket)
    computes over the whole corpus. Batch-sized agg + one keyed join
    against the occupancy artifact (computed from ``corpus_keys`` when
    no artifact is supplied); output is hot buckets only, tiny by the
    cap's own design."""
    if corpus_bucket_counts is None:
        corpus_bucket_counts = band_key_bucket_counts(corpus_keys)
    return (
        band_key_bucket_counts(batch_keys)
        .withColumnRenamed("c", "_cb")
        .join(
            corpus_bucket_counts.withColumnRenamed("c", "_cc"),
            ["band", "bk"],
            "left",
        )
        .filter(
            F.col("_cb") + F.coalesce(F.col("_cc"), F.lit(0))
            > F.lit(max_bucket)
        )
        .select("band", "bk")
    )


def lsh_pairs_incremental(
    batch_keys: DataFrame,
    corpus_keys: DataFrame,
    id_col: str = "doc_id",
    max_bucket: int | None = None,
    corpus_bucket_counts: DataFrame | None = None,
    check_disjoint: bool = False,
) -> DataFrame:
    """Candidate pairs TOUCHING an ingest batch, discovered against a
    persisted band-key index (both inputs in :func:`minhash_band_keys`
    long format; ``corpus_keys`` must not contain batch ids): the
    batch self-join gives batch-batch pairs, the batch->index probe
    gives batch-corpus pairs, unioned distinct as (id_a < id_b).

    Output SET equals the full-corpus :func:`minhash_lsh_pairs`
    stream restricted to pairs with >= 1 batch member (pinned by
    tests/test_llm_ops.py::test_lsh_pairs_incremental_matches_full) —
    so :func:`operators.graph.incremental_groups` fed from here
    computes exactly what the from-scratch docs_group_split_incr
    query computes, at O(batch) probe cost. The same equality holds
    capped: with ``max_bucket`` set, the output equals
    ``minhash_lsh_pairs(max_bucket=...)`` restricted to batch-touching
    pairs (both drop every band level whose FULL-corpus occupancy —
    batch + prior members — exceeds the cap; a pair surviving through
    another under-cap band is still emitted).

    ``max_bucket`` (round 12 — the round-8 batch contract mirrored
    onto the probe path): per-ingest candidate volume is batch-size x
    bucket-occupancy, so one adversarial hot bucket makes the ingest
    step corpus-quadratic exactly like the batch path before its cap.
    Occupancies come from ``corpus_bucket_counts`` (the
    :func:`band_key_bucket_counts` artifact a deployment maintains
    additively per ingest; derived from ``corpus_keys`` when omitted)
    plus the batch's own counts — one batch-sized agg and one keyed
    artifact join, never a corpus scan. Hot buckets are removed from
    the BATCH side before both joins (a probe join can only produce
    rows for buckets the batch still holds), and
    :func:`lsh_probe_truncation_census` reports exactly what was
    skipped — no silent cap.

    ``check_disjoint=True`` materializes a bounded overlap probe (one
    left-semi count on distinct ids) and raises ``ValueError`` when
    the corpus index already contains batch ids — the precondition
    violation that would otherwise surface as duplicate/degenerate
    candidates. Independent of the flag, self-pairs can never be
    emitted: the probe join filters ``_ida != _idb``.

    Scale shape: both joins are (band, bk)-keyed; the batch side is
    batch-sized, and the index side prunes to TOUCHED buckets (a
    bucketed/partitioned index makes that a storage-level prune). The
    final distinct shuffles only batch-touching candidates — the
    volume that a batch's own bucket occupancy implies, which is the
    quantity a deployment monitors via the truncation census. The
    first-colliding-band trick is deliberately NOT replicated here:
    it saves a distinct on CORPUS-quadratic streams, while this
    stream is batch-bounded by construction."""
    if check_disjoint:
        overlap = (
            batch_keys.select(id_col)
            .distinct()
            .join(corpus_keys.select(id_col).distinct(), id_col, "left_semi")
            .limit(1)
            .count()
        )
        if overlap:
            raise ValueError(
                "lsh_pairs_incremental: corpus_keys contains batch ids — "
                "the persisted index must not include the ingest batch "
                "(re-point the probe at the pre-ingest index snapshot)"
            )
    b = batch_keys.select(
        F.col(id_col).alias("_ida"), "band", "bk"
    )
    if max_bucket is not None:
        hot = _probe_hot_buckets(
            batch_keys, corpus_keys, max_bucket, corpus_bucket_counts
        )
        b = b.join(F.broadcast(hot), ["band", "bk"], "left_anti")
    bb = (
        b.join(
            b.select(F.col("_ida").alias("_idb"), "band", "bk"),
            ["band", "bk"],
        )
        .filter(F.col("_ida") < F.col("_idb"))
        .select(F.col("_ida").alias("id_a"), F.col("_idb").alias("id_b"))
    )
    bc = (
        b.join(
            corpus_keys.select(F.col(id_col).alias("_idb"), "band", "bk"),
            ["band", "bk"],
        )
        # degrades safely when the disjointness precondition is
        # violated unchecked: a doc present in both inputs must not
        # self-pair (it would corrupt downstream CC with a loop edge)
        .filter(F.col("_ida") != F.col("_idb"))
        .select(
            F.least("_ida", "_idb").alias("id_a"),
            F.greatest("_ida", "_idb").alias("id_b"),
        )
    )
    return bb.unionByName(bc).distinct()


def lsh_probe_truncation_census(
    batch_keys: DataFrame,
    corpus_keys: DataFrame | None = None,
    max_bucket: int = 256,
    corpus_bucket_counts: DataFrame | None = None,
) -> DataFrame:
    """The no-silent-cap companion of ``lsh_pairs_incremental(...,
    max_bucket=...)`` — the probe-side twin of
    :func:`lsh_bucket_truncation_census`: per band, what the ingest's
    hot-bucket cap skipped. Returns (band_idx, n_buckets_touched,
    n_hot_buckets, n_batch_slots_hot, n_corpus_slots_hot) over the
    buckets the batch TOUCHES (untouched buckets produce no probe
    pairs and are invisible to the ingest by construction): how many
    were over-cap at full-corpus occupancy, and how many batch/corpus
    key slots sat inside them. A deployment alerts on this exactly
    like the batch census — slots in hot buckets are candidates the
    ingest did NOT enumerate (the doc still pairs via its other
    bands).

    Cost: one batch-sized agg + one keyed join against the occupancy
    artifact (:func:`band_key_bucket_counts`, derived from
    ``corpus_keys`` when no artifact is supplied); output is one row
    per band — bounded driver output at any scale."""
    if corpus_bucket_counts is None:
        if corpus_keys is None:
            raise ValueError(
                "lsh_probe_truncation_census: pass corpus_keys or "
                "corpus_bucket_counts"
            )
        corpus_bucket_counts = band_key_bucket_counts(corpus_keys)
    occ = (
        band_key_bucket_counts(batch_keys)
        .withColumnRenamed("c", "_cb")
        .join(
            corpus_bucket_counts.withColumnRenamed("c", "_cc"),
            ["band", "bk"],
            "left",
        )
        .select(
            "band",
            F.col("_cb"),
            F.coalesce(F.col("_cc"), F.lit(0)).alias("_cc"),
        )
    )
    hot = F.col("_cb") + F.col("_cc") > F.lit(max_bucket)
    zero = F.lit(0).cast("long")
    return occ.groupBy(F.col("band").alias("band_idx")).agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets_touched"),
        F.coalesce(
            F.sum(F.when(hot, F.lit(1)).otherwise(F.lit(0))), zero
        ).cast("long").alias("n_hot_buckets"),
        F.coalesce(
            F.sum(F.when(hot, F.col("_cb")).otherwise(F.lit(0))), zero
        ).cast("long").alias("n_batch_slots_hot"),
        F.coalesce(
            F.sum(F.when(hot, F.col("_cc")).otherwise(F.lit(0))), zero
        ).cast("long").alias("n_corpus_slots_hot"),
    )


def lsh_bucket_truncation_census(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 2,
    max_bucket: int = 256,
) -> DataFrame:
    """The no-silent-cap companion of ``minhash_lsh_pairs(...,
    max_bucket=...)``: per band, how much the hot-bucket cap truncated
    — (band_idx, n_buckets, n_hot_buckets, n_doc_slots_hot), where
    ``n_doc_slots_hot`` counts doc occupancies inside over-cap buckets
    (a doc dropped from band i still pairs via its other bands, so
    these are SLOTS, not lost documents). Same signature pipeline as
    the pair generator; one narrow occupancy aggregation per band, a
    ``2*bands``-row result — bounded driver output at any scale."""
    keyed = _band_keys_wide(df, id_col, text_col, num_hashes, bands)
    per_band = [
        keyed.groupBy(F.col(f"bk_{i}").alias("bk"))
        .agg(F.count(F.lit(1)).alias("c"))
        .select(F.lit(i).alias("band_idx"), "bk", "c")
        for i in range(bands)
    ]
    occ = per_band[0]
    for p in per_band[1:]:
        occ = occ.unionByName(p)
    return occ.groupBy("band_idx").agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum((F.col("c") > max_bucket).cast("long"))
        .cast("long")
        .alias("n_hot_buckets"),
        F.sum(F.when(F.col("c") > max_bucket, F.col("c")).otherwise(0))
        .cast("long")
        .alias("n_doc_slots_hot"),
    )


def minhash_knn_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 2,
    k: int = 3,
    salt: int = 8,
    max_bucket: int | None = None,
) -> DataFrame:
    """Per-document top-``k`` nearest neighbors by ESTIMATED Jaccard
    (matching MinHash components / ``num_hashes``) over the banded-LSH
    candidate graph — the doc-level k-NN join a semantic-dedup
    reviewer reads. Returns (doc_id, neighbor_id, n_match,
    est_jaccard, rn); ties break by ascending neighbor id.

    Scale shape (round 8, replaces the union-then-global-rank form
    whose one exchange carried the full 2x-directed candidate
    stream): each band runs a DIRECTED salted self-join — every
    ordered (doc, neighbor) appears exactly once per colliding band,
    and ALL of a doc's band candidates land in its own (bucket, salt)
    shard, because the salt keys the probe side by hash(doc). The
    per-doc rank therefore runs as a window over (bk, _sa, doc):
    hash-partitioning on the join keys already satisfies that
    clustered distribution, so the local top-k SORTS IN PLACE — the
    quadratic candidate stream never crosses an exchange. What
    remains is tiny: <= k rows per doc per band, deduped (a pair
    colliding in both bands appears once per band) and globally
    ranked. Top-k distributes over the per-band partition of the
    candidate set, so the result is exact."""
    from pyspark.sql import Window  # noqa: PLC0415

    wh, sig_cols = minhash_signature_cols(F.col(text_col), num_hashes)
    keyed = (
        df.select(F.col(id_col), wh)
        .select(F.col(id_col), *sig_cols)
        .select(
            F.col(id_col),
            F.array(*[F.col(f"mh_{i}") for i in range(num_hashes)]).alias(
                "sig"
            ),
            *band_key_cols(num_hashes, bands),
        )
        .persist()
    )
    npart = max(
        salt * 8, df.sparkSession.sparkContext.defaultParallelism * 2
    )
    n_match = sum(
        F.when(F.col("sig")[i] == F.col("nsig")[i], 1).otherwise(0)
        for i in range(num_hashes)
    )
    w_local = Window.partitionBy("bk", "_sa", "doc_id").orderBy(
        F.desc("n_match"), F.asc("neighbor_id")
    )
    per_band = []
    for i in range(bands):
        side = keyed
        if max_bucket is not None:
            # hot-bucket enumeration cap (the minhash_lsh_pairs
            # contract): a (band, bucket) with occupancy > cap never
            # expands into candidates AT ALL, so the per-band join
            # output is bounded by cap x bucket count — linear in the
            # corpus where the uncapped form follows the quadratic
            # bucket volume. Hot buckets are few by construction:
            # broadcast anti-join.
            hot = (
                keyed.groupBy(F.col(f"bk_{i}").alias("bk"))
                .agg(F.count(F.lit(1)).alias("_c"))
                .filter(F.col("_c") > max_bucket)
                .select("bk")
            )
            side = keyed.join(
                F.broadcast(hot),
                keyed[f"bk_{i}"] == hot["bk"],
                "left_anti",
            )
        a = (
            side.select(
                F.col(id_col).alias("doc_id"),
                "sig",
                F.col(f"bk_{i}").alias("bk"),
            )
            .withColumn("_sa", F.pmod(F.hash("doc_id"), F.lit(salt)))
            .repartition(npart, "bk", "_sa")
        )
        b = side.select(
            F.col(id_col).alias("neighbor_id"),
            F.col("sig").alias("nsig"),
            F.col(f"bk_{i}").alias("bk"),
        ).withColumn(
            "_sa", F.explode(F.array(*[F.lit(s) for s in range(salt)]))
        )
        j = (
            a.join(b, ["bk", "_sa"])
            .filter(F.col("doc_id") != F.col("neighbor_id"))
            .select(
                "bk",
                "_sa",
                "doc_id",
                "neighbor_id",
                n_match.cast("long").alias("n_match"),
            )
        )
        per_band.append(
            j.withColumn("rn", F.row_number().over(w_local))
            .filter(F.col("rn") <= k)
            .select("doc_id", "neighbor_id", "n_match")
        )
    cand = per_band[0]
    for p in per_band[1:]:
        cand = cand.unionByName(p)
    # a pair colliding in both bands contributes one row per band —
    # collapse before the (tiny) global rank
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("n_match"), F.asc("neighbor_id")
    )
    return (
        cand.groupBy("doc_id", "neighbor_id")
        .agg(F.max("n_match").alias("n_match"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "doc_id",
            "neighbor_id",
            "n_match",
            F.round(F.col("n_match") / num_hashes, 6).alias("est_jaccard"),
            F.col("rn").cast("long").alias("rn"),
        )
    )


def simhash16(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """16-bit SimHash: each word votes ±1 per bit of its 16-bit hash;
    signature bit b is 1 iff the vote sum is positive. One explode +
    one groupBy(doc) shuffle; 16 conditional sums in a single agg."""
    words = df.select(
        F.col(id_col), F.explode(_words(F.col(text_col))).alias("w")
    ).withColumn("h16", hex_to_long(F.md5(F.col("w")), 4))
    votes = words.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h16"), b).bitwiseAND(1) == 1, 1).otherwise(-1)
            ).alias(f"v_{b}")
            for b in range(16)
        ]
    )
    sig = F.lit(0)
    for b in range(16):
        sig = sig + F.when(F.col(f"v_{b}") > 0, F.lit(1 << b)).otherwise(0)
    return votes.select(F.col(id_col), sig.cast("long").alias("simhash"))


def sliding_word_ngrams(text: Column, n: int) -> Column:
    """All overlapping word ``n``-grams of a single-space-tokenized
    text, in one linear regex pass. A zero-width lookahead anchored at
    each word boundary captures the next ``n`` words, so the expression
    never re-reads an outer array inside a lambda — higher-order
    functions are interpreted (no codegen), where a captured
    ``split(text)`` is re-evaluated per element_at, turning the naive
    transform-over-indices formulation quadratic per row."""
    pat = "(?= (" + " ".join(["\\S+"] * n) + "))"
    return F.regexp_extract_all(F.concat(F.lit(" "), text), F.lit(pat), 1)


def shingle_set(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles as an array (empty-safe)."""
    return F.when(
        F.size(_words(text)) < n, F.array_distinct(F.array(text))
    ).otherwise(F.array_distinct(sliding_word_ngrams(text, n)))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    n: int = 3,
    max_id_gap: int = 5,
) -> DataFrame:
    """n-gram Jaccard similarity for bounded candidate pairs (same
    block, id gap ≤ max_id_gap). Returns exact integer intersection /
    union sizes — no floating point, fully engine-portable.

    At scale, ``block_col`` is the blocking key (e.g. an LSH band from
    ``minhash_lsh_pairs``); the join shuffles on it once.
    """
    # persist: the shingle arrays are consumed by both join sides —
    # compute them once, not once per side
    s = df.select(
        F.col(id_col), F.col(block_col), shingle_set(F.col(text_col), n).alias("sh")
    ).persist()
    # the bounded id gap turns the candidate join into an EQUI-join:
    # each left row proposes its ≤ max_id_gap candidate ids via
    # explode(sequence(...)), so candidates are linear in the input and
    # the join hash-shuffles on (block, id) — never the quadratic
    # within-block cross product a post-join gap filter would scan
    a = s.select(
        F.col(block_col).alias("blk"),
        F.col(id_col).alias("id_a"),
        F.col("sh").alias("sh_a"),
        F.explode(
            F.sequence(F.col(id_col) + 1, F.col(id_col) + max_id_gap)
        ).alias("id_b"),
    )
    b = s.select(
        F.col(block_col).alias("blk"), F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")
    )
    pairs = a.join(b, ["blk", "id_b"])
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return pairs.select(
        "id_a",
        "id_b",
        inter.cast("long").alias("inter_size"),
        union.cast("long").alias("union_size"),
    )


def contamination_hits(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    broadcast_bench: bool = True,
) -> DataFrame:
    """Benchmark-contamination scan: which corpus documents share any
    word ``n``-gram with an eval/benchmark set (the pre-training
    hygiene check that keeps test sets out of training data). Returns
    ``(doc_id, n_hits)`` — distinct shared n-grams per contaminated
    document; clean documents are absent.

    Scale: the corpus side is ONE linear explode of its n-grams (the
    zero-width-lookahead regex from ``sliding_word_ngrams``, no
    quadratic lambdas); eval suites are small (~10^5-10^6 grams), so
    the benchmark gram set broadcasts and the corpus never shuffles.
    Set ``broadcast_bench=False`` for a genuinely large reference set
    (falls back to a hash join on the gram).
    """
    grams = lambda col: F.explode(  # noqa: E731
        F.array_distinct(sliding_word_ngrams(col, n))
    )
    d = docs.select(F.col(id_col).alias("doc_id"), grams(F.col(text_col)).alias("gram"))
    b = bench.select(grams(F.col(text_col)).alias("gram")).distinct()
    if broadcast_bench:
        b = F.broadcast(b)
    # (doc_id, gram) pairs are already unique — the corpus side is
    # array_distinct per doc and the bench side is globally distinct —
    # so a plain count equals count_distinct without the second
    # dedup aggregation pass
    return d.join(b, "gram").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_hits")
    )


def incremental_dedup(
    new_df: DataFrame,
    existing_df: DataFrame,
    id_col: str,
    text_col: str,
    digest_col: str = "digest",
) -> DataFrame:
    """Dedup a NEW ingest batch against an already-ingested corpus —
    the CDC-incremental form of :func:`exact_dedup`.

    Both sides reduce to content digests before anything shuffles: the
    corpus contributes ONE narrow distinct-digest column (its text
    payload never moves), the batch anti-joins on digest, then keeps
    the smallest id per digest within itself (one agg, no window).
    At 100 TB the corpus digest set is the only state carried between
    ingests — materialize it once as a parquet side table and this
    costs O(batch) + a digest-key shuffle, independent of corpus
    payload width.

    Returns (id_col, digest) for the batch rows that are genuinely
    new: not in the corpus, first of their content within the batch.
    """
    nd = new_df.select(
        F.col(id_col), F.md5(F.col(text_col)).alias(digest_col)
    )
    seen = existing_df.select(
        F.md5(F.col(text_col)).alias(digest_col)
    ).distinct()
    return (
        nd.join(seen, digest_col, "left_anti")
        .groupBy(digest_col)
        .agg(F.min(id_col).alias(id_col))
        .select(id_col, digest_col)
    )


def top_ngrams(
    df: DataFrame,
    text_col: str,
    n: int = 3,
    k: int = 20,
) -> DataFrame:
    """Corpus-level top-k word n-grams by occurrence count (every
    occurrence counts, not once per doc) — the standard corpus-health
    report (boilerplate detection, template spam, over-represented
    headers).

    One linear explode + one gram-key shuffle; the top-k is a
    TakeOrderedAndProject (per-partition heaps, no global sort
    materialization). Ties break on the gram string, so the cut at
    ``k`` is deterministic across engines and partitionings.
    """
    grams = df.select(
        F.explode(sliding_word_ngrams(F.col(text_col), n)).alias("gram")
    )
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("gram"))
        .limit(k)
    )


def hashed_shingle_set(text: Column, n: int = 3) -> Column:
    """Distinct shingles as 32-bit hashes (first 8 md5 hex chars):
    8-byte array elements instead of ~20-byte strings cut the
    candidate-join shuffle ~3x, and long equality beats string
    equality inside array_intersect. Collisions (~|S|²/2³² per doc,
    ~1e-5 at 150 shingles) are reproduced bit-for-bit by the oracle's
    identical construction, so cross-engine parity is exact even when
    a collision fires."""
    return F.array_distinct(
        F.transform(shingle_set(text, n), lambda s: hex_to_long(F.md5(s), 8))
    )


def candidate_budget_sample(
    pairs: DataFrame, max_candidates: int
) -> DataFrame:
    """Deterministic candidate-budget guardrail for verify stages: when
    the candidate stream exceeds ``max_candidates``, degrade to a keyed
    1-in-k census sample (k = ceil(n / max_candidates), pairs kept
    where md5(id_a|id_b) % k == 0) instead of letting an adversarial
    vocabulary drag the verifier through every pair — the
    dedup_eval_confusion pattern, made budget-adaptive.

    Scale shape: the candidate stream is persisted NARROW (two ids per
    row) and counted once — one linear aggregation, no wide shingle
    arrays move; k is the single scalar that reaches the driver. The
    md5 keying makes the sample independent of partitioning, ordering,
    AND of id arithmetic patterns (a modular id filter correlates with
    blocked/sequential id layouts; a hash doesn't), so the census
    estimate is unbiased and bit-reproducible on every engine.
    Exactly-k semantics are intentionally NOT promised — a count-then-
    limit would need a global sort; the budget is a cost bound, not an
    output size contract. Callers scale surviving counts by k to
    estimate full-census totals. The caller owns the persisted
    candidate cache lifetime (same contract as the shingle tables)."""
    if max_candidates <= 0:
        raise ValueError("max_candidates must be positive")
    pairs = pairs.persist()
    n = pairs.count()  # bounded driver result: ONE scalar
    k = max(1, (n + max_candidates - 1) // max_candidates)
    if k == 1:
        return pairs
    key = hex_to_long(F.md5(F.concat_ws("|", "id_a", "id_b")), 8)
    return pairs.filter(key % k == 0)


def jaccard_verify_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_jaccard: float | None = None,
    hash_shingles: bool = False,
    max_candidates: int | None = None,
) -> DataFrame:
    """Exact-Jaccard verification stage for a candidate pair stream:
    (id_a, id_b, inter_size, union_size) per candidate, thresholded
    at ``min_jaccard`` when set. It serves candidate sets that are
    sampled or capped (the budget-sampled ``*_capped`` queries) and
    hand-built ones; the full LSH census at a threshold is
    :func:`prefix_jaccard_join` followed by :func:`lsh_band_filter`,
    which never materializes the candidate stream.

    With ``min_jaccard`` set, a SIZE PREPASS runs before any array
    moves: J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|), so a pair whose shingle
    counts alone cap Jaccard below the threshold is dropped from a
    narrow (id, size) join — semantics-preserving for the thresholded
    output, and it keeps hash-luck candidates from ever shuffling the
    wide shingle arrays (the dominant cost when LSH selectivity is
    poor).

    Scale shape: the candidate stream joins the narrow per-doc shingle
    table twice on the id key — two id-key shuffles, both linear in
    |surviving pairs| + |docs|; nothing quadratic, no re-tokenization
    per pair (shingle arrays are computed once per doc). Candidates
    may come in either orientation; each row is verified as given.

    With ``max_candidates`` set, the (prepass-surviving) candidate
    stream additionally passes through :func:`candidate_budget_sample`
    — a deterministic keyed 1-in-k census sample that bounds verifier
    cost on adversarial vocabularies where LSH selectivity collapses;
    the output is then a census SAMPLE, scaled by k for full-census
    estimates.

    Cache lifetime: the per-doc shingle table is ``persist()``-ed and
    referenced by the RETURNED lazy plan, so this function cannot
    unpersist it. The caller owns the lifetime: after materializing
    the result, drop it with ``spark.catalog.clearCache()`` (or keep a
    long-lived session's memory bounded by the LRU store eviction,
    which is the default behavior). Repeated calls in one session each
    pin a fresh shingle table until evicted.
    """
    s = _shingle_table(docs, id_col, text_col, n, hash_shingles)
    if min_jaccard is not None:
        sizes = s.select(F.col(id_col), F.size("sh").alias("sz"))
        pa = sizes.select(
            F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a")
        )
        pb = sizes.select(
            F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b")
        )
        pairs = (
            pairs.join(pa, "id_a")
            .join(pb, "id_b")
            .filter(
                F.least("sz_a", "sz_b")
                >= F.greatest("sz_a", "sz_b") * F.lit(min_jaccard)
            )
            .select("id_a", "id_b")
        )
    if max_candidates is not None:
        pairs = candidate_budget_sample(pairs, max_candidates)
    out = _pair_overlap(pairs, s, id_col)
    if min_jaccard is not None:
        out = out.filter(
            F.col("inter_size")
            >= F.col("union_size") * F.lit(min_jaccard)
        )
    return out


def _shingle_table(
    docs: DataFrame, id_col: str, text_col: str, n: int, hash_shingles: bool
) -> DataFrame:
    """(id_col, sh): the persisted and materialized per-doc shingle
    array table the verify and prefix-join stages read. The shingle
    hashing stage gets a parallelism floor (serial on a single-file
    corpus otherwise; a no-op at scale), and the cache is filled by
    one count before its consumers fan out — concurrent consumers of
    a cold multi-partition cache each recompute it."""
    mk = hashed_shingle_set if hash_shingles else shingle_set
    return materialize_cache(
        scan_parallelism_floor(
            docs.select(F.col(id_col), F.col(text_col))
        ).select(F.col(id_col), mk(F.col(text_col), n).alias("sh"))
    )


def _pair_overlap(
    cand: DataFrame,
    s: DataFrame,
    id_col: str,
    containment: bool = False,
    ids: tuple[str, ...] = ("id_a", "id_b"),
) -> DataFrame:
    """The exact verify join every set-similarity stage ends in: the
    candidates' ``id_a``/``id_b`` join the ``(id_col, sh)`` shingle
    table once per side, and each pair gets ``inter_size`` =
    |A ∩ B| plus ``union_size`` = |A ∪ B| (or, with ``containment``,
    ``size_a`` and ``size_b``), counted on the arrays as given.
    Returns ``ids`` (candidate columns, so a caller may carry other
    ids through) followed by those counts, all long; the caller
    applies its own threshold."""
    sa = s.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    sb = s.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    na, nb = F.size("sh_a"), F.size("sh_b")
    sizes = (
        [na.cast("long").alias("size_a"), nb.cast("long").alias("size_b")]
        if containment
        else [(na + nb - inter).cast("long").alias("union_size")]
    )
    return cand.join(sa, "id_a").join(sb, "id_b").select(
        *ids, inter.cast("long").alias("inter_size"), *sizes
    )


def segment_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seg_words: int = 10,
) -> DataFrame:
    """Corpus-wide SEGMENT-level dedup (the C4/RefinedWeb
    "deduplicate repeated lines/paragraphs" pass, on fixed
    ``seg_words``-word segments since the fixture has no line
    structure): every repeated segment keeps only its FIRST occurrence
    under the (id, position) total order; documents are reassembled
    from their surviving segments in position order.

    Returns (id, n_segs, n_kept, clean_text) — clean_text NULL when
    every segment was seen earlier (fully-boilerplate doc).

    Scale shape: segmentization is one (id, seg)-keyed aggregation
    over the exploded words; the first-occurrence choice is a
    row_number over the segment DIGEST key (one hash shuffle of
    vocabulary-not-corpus-sized digests + positions, text rides only
    to the winner); reassembly is one id-keyed aggregation. No
    windows without PARTITION BY, no driver materialization.
    """
    from pyspark.sql import Window  # noqa: PLC0415

    words = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), " ")).alias("_idx", "_w"),
    )
    segs = (
        words.groupBy(
            id_col, F.floor(F.col("_idx") / seg_words).alias("seg_pos")
        )
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_idx", "_w"))),
                    lambda x: x["_w"],
                ),
            ).alias("seg_text")
        )
    )
    w = Window.partitionBy(F.md5(F.col("seg_text"))).orderBy(
        id_col, "seg_pos"
    )
    kept = (
        segs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    totals = segs.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_segs"))
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_pos", "seg_text"))),
                lambda x: x["seg_text"],
            ),
        ).alias("clean_text"),
    )
    return (
        df.select(id_col)
        .join(totals, id_col, "left")
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_segs"), F.lit(0)).cast("long").alias("n_segs"),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            "clean_text",
        )
    )


def containment_verify_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_containment: float = 0.9,
    hash_shingles: bool = False,
    max_candidates: int | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup verification: containment
    C = |A ∩ B| / min(|A|, |B|) — a short document embedded inside a
    longer one scores ~1.0 here while its Jaccard can be arbitrarily
    low (the long side's extra shingles inflate the union), so the
    Jaccard threshold silently misses quote/excerpt/boilerplate
    duplication. The companion disposal stage to
    :func:`jaccard_verify_pairs` over the same candidates; returns
    (id_a, id_b, inter_size, size_a, size_b) in the candidates'
    orientation. The full LSH census at a threshold is
    :func:`prefix_containment_join` followed by
    :func:`lsh_band_filter`.

    No size prepass exists for containment (a tiny set can be 100%
    contained in any larger one — sizes alone never disqualify a
    pair), which makes this the ONE verify shape fully exposed to
    candidate volume: ``max_candidates`` is the guardrail — a
    deterministic keyed 1-in-k census sample
    (:func:`candidate_budget_sample`) that bounds the shingle-array
    reads when an adversarial vocabulary makes LSH collide broadly,
    degrading gracefully to a scaled census instead of a wall-clock
    cliff. Same scale shape otherwise: two id-key joins of the
    candidate stream against the once-computed shingle table; the
    caller owns the persisted shingle cache lifetime."""
    s = _shingle_table(docs, id_col, text_col, n, hash_shingles)
    if max_candidates is not None:
        pairs = candidate_budget_sample(pairs, max_candidates)
    out = _pair_overlap(pairs, s, id_col, containment=True)
    return out.filter(
        F.col("inter_size")
        >= F.least("size_a", "size_b") * F.lit(min_containment)
    )


def simhash_bits(
    df: DataFrame, id_col: str, text_col: str, bits: int = 60
) -> DataFrame:
    """``bits``-wide SimHash (generalizes :func:`simhash16`): each word
    votes ±1 per bit of its ``bits``-wide md5-derived hash; signature
    bit b is 1 iff the vote sum is positive. Same plan shape as
    simhash16 — explode(words) + ONE groupBy(doc) shuffle carrying
    ``bits`` conditional sums in a single aggregate. ``bits`` must be
    a multiple of 4 (hex-nibble hashing) and ≤ 60 so the signature
    stays positive in a signed 64-bit integer on every engine."""
    if bits % 4 or bits > 60:
        raise ValueError("bits must be a multiple of 4, at most 60")
    # round 12: the explode+md5 vote stream is the expensive row-wise
    # stage; floor its parallelism (a single-file scan otherwise votes
    # the whole corpus in one task — no-op at scale)
    base = scan_parallelism_floor(df.select(F.col(id_col), F.col(text_col)))
    words = base.select(
        F.col(id_col), F.explode(_words(F.col(text_col))).alias("w")
    ).withColumn("h", hex_to_long(F.md5(F.col("w")), bits // 4))
    votes = words.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("h"), b).bitwiseAND(1) == 1, 1
                ).otherwise(-1)
            ).alias(f"v_{b}")
            for b in range(bits)
        ]
    )
    sig = F.lit(0)
    for b in range(bits):
        sig = sig + F.when(F.col(f"v_{b}") > 0, F.lit(1 << b)).otherwise(0)
    return votes.select(F.col(id_col), sig.cast("long").alias("simhash"))


def simhash_hamming_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 60,
    bands: int = 4,
    max_distance: int = 3,
) -> DataFrame:
    """Multi-index Hamming near-dup over a wide SimHash (the classic
    simhash-dedup blocking scheme: split the signature into
    ``bands`` disjoint blocks; any pair within Hamming distance
    ``bands - 1`` agrees exactly on at least one block — pigeonhole —
    so banded equi-joins enumerate a COMPLETE candidate set with no
    all-pairs comparison). Candidates verify with one integer popcount
    ``bit_count(sig_a XOR sig_b)``.

    Scale shape: the signature table (one narrow row per doc) is
    persisted so the word-explode pipeline runs once, not once per
    join side per band; each band contributes one equi-join shuffle on
    a ``bits/bands``-bit key (15 bits at the defaults — 32k buckets,
    AQE splits residual skew). ``max_distance`` must be < ``bands``
    for completeness. Returns (id_a, id_b, hamming), id_a < id_b.
    Caller owns the persisted signature cache lifetime (same contract
    as :func:`minhash_lsh_pairs` / :func:`jaccard_verify_pairs`)."""
    # delegates to the signature-agnostic banding below (round 7
    # refactor: the image dHash path reuses the same machinery)
    return hamming_pairs_from_signatures(
        simhash_bits(df, id_col, text_col, bits),
        id_col,
        "simhash",
        bits=bits,
        bands=bands,
        max_distance=max_distance,
    )


# ---------------------------------------------------------------------------
# Prefix-filter (PPJoin-style) EXACT set-similarity self-join
# ---------------------------------------------------------------------------
# The LSH verify stages above are candidate-volume-bound on adversarial
# vocabularies (LSH proposes ~16% of ALL pairs on the synthetic corpus;
# the documented 383 s containment cliff at native sf1), and the budget
# cap degrades them to a census SAMPLE. Prefix filtering is the exact
# fix: order every doc's shingles by GLOBAL frequency (rarest first);
# a pair can reach the similarity threshold only if the two docs share
# a token inside small per-doc PREFIXES (pigeonhole: if all of A's
# first |A|-c+1 tokens miss B, at most c-1 remain to overlap — Xiao,
# Wang, Lin & Yu, "Efficient Similarity Joins for Near Duplicate
# Detection", WWW 2008). Candidate volume is bounded by the threshold
# (prefix ~ (1-t)|A| of the RAREST tokens), not by the vocabulary —
# and the result is COMPLETE + exact: every qualifying pair, no
# sampling, no LSH luck.


def _frac(threshold: float) -> tuple[int, int]:
    """Threshold as an exact small rational (9/10, 4/5, ...) so prefix
    lengths and verify filters run in INTEGER arithmetic on every
    engine — float ceil(0.9*sz) can land one off across engines, which
    silently breaks the completeness bound."""
    from fractions import Fraction  # noqa: PLC0415

    fr = Fraction(threshold).limit_denominator(1_000_000)
    if not 0 < fr <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    return fr.numerator, fr.denominator


def _ranked_shingles(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    hash_shingles: bool,
) -> tuple[DataFrame, DataFrame]:
    """(shingle-array table, globally-frequency-ranked token table).

    The ranked table has one row per (doc, token) with the doc's set
    size ``sz`` and the token's rank ``rn`` under the global order
    (document frequency ASC, token ASC) — the canonical prefix-filter
    ordering: rarest tokens first means prefixes join on the least
    populated inverted-index slots. Plan shape: one vocabulary-sized
    groupBy for document frequencies, one token-key join to attach
    them (AQE handles hot-token skew), one doc-key window sort for
    ranks — all linear shuffles; both returned frames are persisted
    and consumed multiple times by the join stages (the caller owns
    cache lifetime, same contract as the verify stages above)."""
    from pyspark.sql import Window  # noqa: PLC0415

    s = _shingle_table(docs, id_col, text_col, n, hash_shingles)
    tok = s.select(
        F.col(id_col),
        F.size("sh").alias("sz"),
        F.explode("sh").alias("tok"),
    )
    freq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy(id_col).orderBy("df", "tok")
    ranked = (
        tok.join(freq, "tok")
        .select(
            F.col(id_col),
            "tok",
            "sz",
            F.row_number().over(w).alias("rn"),
        )
        .persist()
    )
    return s, ranked


def _prefix_tokens(ranked: DataFrame, num: int, den: int) -> DataFrame:
    """The prefix rows of a :func:`_ranked_shingles` table at threshold
    num/den: each doc's first |X| - ⌈t·|X|⌉ + 1 tokens in the global
    rarity order. A token shared by most of the corpus ranks last in
    every doc that has anything rarer, so it only enters the prefix of
    a doc made almost entirely of frequent tokens."""
    plen = F.col("sz") - F.expr(f"(({num} * sz + {den - 1}) div {den})") + 1
    return ranked.filter(F.col("rn") <= plen)


def _prefix_side(
    rows: DataFrame, id_col: str, side: str, *carry: Column
) -> DataFrame:
    """One side of a prefix token join over ranked token rows:
    ``id_{side}``, ``tok``, ``sz_{side}``, ``rn_{side}``, then the
    ``carry`` columns."""
    return rows.select(
        F.col(id_col).alias(f"id_{side}"),
        "tok",
        F.col("sz").alias(f"sz_{side}"),
        F.col("rn").alias(f"rn_{side}"),
        *carry,
    )


def _prefix_pairs(
    a: DataFrame,
    b: DataFrame,
    c: Column,
    *keep: Column,
    keys: tuple[str, ...] = ("id_a", "id_b"),
) -> DataFrame:
    """Prefix-filter candidates: :func:`_prefix_side` rows equi-join
    on the token, each ``keep`` condition filters in turn, then the
    positional filter, then the distinct ``keys`` remain.

    Positional filter: at a match on ranks (i, j) the overlap is at
    most 1 + min(|A| - i, |B| - j), which must still reach the pair's
    overlap bound ``c``. A pair survives if ANY of its matches passes,
    and a pair whose overlap reaches ``c`` passes at its FIRST common
    token (every shared token ranks at or after it on both sides), so
    the filter is complete."""
    j = a.join(b, "tok")
    for cond in keep:
        j = j.filter(cond)
    reach = F.lit(1) + F.least(
        F.col("sz_a") - F.col("rn_a"), F.col("sz_b") - F.col("rn_b")
    )
    return j.filter(reach >= c).select(*keys).distinct()


def prefix_jaccard_join(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_jaccard: float = 0.8,
    hash_shingles: bool = True,
) -> DataFrame:
    """EXACT all-pairs Jaccard self-join at threshold ``min_jaccard``:
    every pair (id_a < id_b) with J = |A∩B|/|A∪B| ≥ t, via prefix
    filtering — no LSH proposal stage, so no probabilistic misses and
    no candidate-volume cliff. Output schema matches
    :func:`jaccard_verify_pairs`: (id_a, id_b, inter_size,
    union_size).

    Candidate generation: both docs keep only their first
    |X| - ⌈t·|X|⌉ + 1 tokens in the global rarity order (valid because
    J ≥ t forces overlap ≥ ⌈t·max(|A|,|B|)⌉ for both orientations);
    prefixes equi-join on the token. Three exact-safe filters run
    INSIDE the join before the pair ever exists: the size filter
    (t·max ≤ min), the positional filter (at a match on ranks
    (i, j), overlap ≤ 1 + min(|A|-i, |B|-j) must still reach the
    pair's overlap bound ⌈t/(1+t)·(|A|+|B|)⌉ — kept if ANY matching
    token row passes, and a qualifying pair's FIRST common token
    always passes, so completeness holds), and id_a < id_b. A
    groupBy(id_a, id_b) dedups multi-token matches, then the standard
    exact verify joins the shingle arrays by id. All arithmetic is
    integer (threshold as an exact rational), so the same census is
    bit-reproducible on any engine.

    Scale: shuffles are (vocab groupBy) + (token join) + (doc window)
    + (prefix-token join) + (pair groupBy) + 2 id-key verify joins —
    every one linear in its input; the quadratic-risk join touches
    only prefix tokens, whose inverted-index slots are the RAREST
    ~(1-t) fraction of each doc. Empty shingle sets never pair
    (similarity is undefined on them; explode drops them)."""
    num, den = _frac(min_jaccard)
    s, ranked = _ranked_shingles(docs, id_col, text_col, n, hash_shingles)
    pref = _prefix_tokens(ranked, num, den)
    cand = _prefix_pairs(
        _prefix_side(pref, id_col, "a"),
        _prefix_side(pref, id_col, "b"),
        # pair-level overlap bound c = ceil(num*(sz_a+sz_b) / (den+num))
        F.expr(f"(({num} * (sz_a + sz_b) + {den + num - 1}) div {den + num})"),
        F.col("id_a") < F.col("id_b"),
        F.least("sz_a", "sz_b") * den >= F.greatest("sz_a", "sz_b") * num,
    )
    return _pair_overlap(cand, s, id_col).filter(
        F.col("inter_size") * den >= F.col("union_size") * num
    )


def prefix_containment_join(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_containment: float = 0.9,
    hash_shingles: bool = True,
) -> DataFrame:
    """EXACT all-pairs containment self-join at ``min_containment``:
    every pair with C = |A∩B|/min(|A|,|B|) ≥ t — the excerpt/quote/
    boilerplate detector — via an ASYMMETRIC prefix filter. Output
    (id_a, id_b, inter_size, size_a, size_b) with id_a the SMALLER
    set (ties by id): containment is only bounded by the smaller
    side's size, so the smaller doc is the probe — it keeps its
    |A| - ⌈t·|A|⌉ + 1 rarest tokens — and the larger doc is the
    INDEX side contributing ALL its tokens (a prefix on the large
    side would need the partner's size, which no self-join side
    knows up front; indexing everything is the standard complete
    construction for overlap-over-min similarity). The positional
    filter and integer arithmetic work as in
    :func:`prefix_jaccard_join` with c = ⌈t·|A|⌉.

    This replaces the budget-capped SAMPLE as the scale-safe default:
    same exact census as the uncapped verify, candidate volume bound
    by Σ_tok prefix_count(tok)·doc_count(tok) — prefix occupancy of
    hot tokens is intrinsically low (a frequent token lands in a
    prefix only when a doc has almost nothing rarer), which is the
    whole point of the rarity order. No size prepass EXISTS for
    containment; the prefix bound is what makes the exact form
    survive adversarial vocabularies."""
    num, den = _frac(min_containment)
    s, ranked = _ranked_shingles(docs, id_col, text_col, n, hash_shingles)
    cand = _prefix_pairs(
        _prefix_side(_prefix_tokens(ranked, num, den), id_col, "a"),
        _prefix_side(ranked, id_col, "b"),  # index side: ALL tokens
        F.expr(f"(({num} * sz_a + {den - 1}) div {den})"),
        (F.col("sz_a") < F.col("sz_b"))
        | ((F.col("sz_a") == F.col("sz_b")) & (F.col("id_a") < F.col("id_b"))),
    )
    return _pair_overlap(cand, s, id_col, containment=True).filter(
        F.col("inter_size") * den >= F.least("size_a", "size_b") * num
    )


# ---------------------------------------------------------------------------
# Exact repeated-substring span census (suffix-array dedup, Spark-first)
# ---------------------------------------------------------------------------
# The famous "exact substring deduplication" pass (Lee, Ippolito et al.,
# "Deduplicating Training Data Makes Language Models Better", ACL 2022)
# finds every text span that occurs >= 2 times anywhere in the corpus.
# The paper builds a monolithic suffix array — a single-node construction
# that cannot shard past memory. The Spark-first equivalent: every
# length-W word window is a SEED (stride 1, posexplode); a window whose
# hash occurs >= min_occurrences times corpus-wide is a duplicated seed;
# per-doc gaps-and-islands merges overlapping/adjacent seeds into
# MAXIMAL duplicated spans. For spans of length >= W this census is
# exact (a repeated span of L >= W words contributes L - W + 1 repeated
# seeds, all merged back into one island); spans shorter than W are
# deliberately below the resolution floor — the same min-match-length
# cutoff the paper applies (their 50-token threshold).


def dup_span_census(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 5,
    min_occurrences: int = 2,
) -> DataFrame:
    """Maximal duplicated-span census per document. Returns one row per
    document that contains at least one duplicated seed:
    (id, n_dup_seeds, n_spans, dup_words, n_words) — n_spans maximal
    spans covering dup_words of the doc's n_words total words.

    Plan shape (all linear, nothing quadratic):
    1. posexplode of the stride-1 word windows — |corpus words| rows;
       each window keyed by a 48-bit md5 slice (12 hex chars: 8-byte
       shuffle keys instead of raw window strings; collisions
       ~|grams|²/2⁴⁸ are reproduced bit-for-bit by the oracle's
       identical construction, the hashed_shingle_set contract).
    2. ONE gram-key aggregation for corpus-wide occurrence counts
       (vocabulary-bound state, map-side partial counts), then a
       gram-key semi-join marking duplicated seeds — output LINEAR in
       |seeds|: each occurrence matches exactly one count row, so a
       boilerplate gram repeated 10^6 times emits 10^6 rows, never a
       within-gram cross product (the all-pairs trap this operator
       exists to avoid). AQE splits hot-gram skew.
    3. Per-doc island merge: one (doc)-keyed window sort of the
       surviving seed positions — lag + running sum; two seeds merge
       iff their starts differ by <= window (they overlap or touch).
    4. One doc-key aggregation for the rollup.

    At 100 TB the only global state is the gram-count table (bounded
    by DISTINCT windows, not corpus size); the suffix array the
    reference construction needs would be 8x corpus bytes on one node.
    """
    from pyspark.sql import Window  # noqa: PLC0415

    # round 12: the stride-1 window posexplode + 48-bit md5 keying is
    # the compute-bound stage — floor its parallelism (no-op at scale)
    df = scan_parallelism_floor(df.select(id_col, text_col))
    grams = df.select(
        F.col(id_col),
        F.size(_words(F.col(text_col))).alias("n_words"),
        F.posexplode(
            sliding_word_ngrams(F.col(text_col), window)
        ).alias("pos", "gram"),
    ).select(
        id_col, "n_words", "pos", hex_to_long(F.md5("gram"), 12).alias("gh")
    )
    dup = (
        grams.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("occ"))
        .filter(F.col("occ") >= min_occurrences)
        .select("gh")
    )
    seeds = grams.join(dup, "gh").select(id_col, "n_words", "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    islands = seeds.withColumn(
        "brk",
        F.when(
            F.col("pos") - F.lag("pos").over(w) <= window, F.lit(0)
        ).otherwise(F.lit(1)),
    ).withColumn(
        "grp", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    spans = islands.groupBy(id_col, "grp").agg(
        F.first("n_words").alias("n_words"),
        F.count(F.lit(1)).alias("seeds_in_span"),
        (F.max("pos") - F.min("pos") + window).alias("span_words"),
    )
    return spans.groupBy(id_col).agg(
        F.sum("seeds_in_span").cast("long").alias("n_dup_seeds"),
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum("span_words").cast("long").alias("dup_words"),
        F.first("n_words").cast("long").alias("n_words"),
    )


def prefix_jaccard_join_rs(
    left: DataFrame,
    right: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_jaccard: float = 0.5,
    hash_shingles: bool = True,
) -> DataFrame:
    """EXACT cross-collection (R-S) Jaccard join at ``min_jaccard``:
    every (id_l, id_r) pair across the two inputs with J ≥ t — the
    FUZZY benchmark-decontamination shape (:func:`contamination_hits`
    catches verbatim n-gram overlap; a lightly-paraphrased eval item
    that still shares most of its shingles needs a threshold join).
    Returns (id_l, id_r, inter_size, union_size).

    Same prefix-filter machinery as :func:`prefix_jaccard_join`, with
    the one R-S requirement: the token rarity order must be GLOBAL
    across BOTH collections (completeness only needs a consistent
    total order; computing document frequency over the tagged UNION
    gives one order and one ranked table, read twice). Both sides
    keep their |X| - ⌈t·|X|⌉ + 1 rarest tokens; the size filter and
    positional filter run inside the token join exactly as in the
    self-join case, and all arithmetic is integer. Ids may repeat
    across collections (an internal side-tagged key keeps them
    apart); output ids are the caller's.

    Scale: at 100 TB corpus × 10^5-doc benchmark, the candidate join
    touches only prefix tokens of both sides — the benchmark side is
    small, so the join is effectively an inverted-index probe of the
    corpus prefixes; no LSH recall risk on the side that matters
    (a missed contamination is a leaked eval item)."""
    num, den = _frac(min_jaccard)
    tagged = left.select(
        F.lit("l").alias("_side"), F.col(id_col), F.col(text_col)
    ).unionByName(
        right.select(
            F.lit("r").alias("_side"), F.col(id_col), F.col(text_col)
        )
    ).select(
        F.concat_ws("|", "_side", id_col).alias("_uid"),
        "_side",
        F.col(id_col),
        F.col(text_col),
    )
    s, ranked = _ranked_shingles(tagged, "_uid", text_col, n, hash_shingles)
    sides = tagged.select("_uid", "_side", id_col).distinct()
    ranked = ranked.join(sides, "_uid")
    pref = _prefix_tokens(ranked, num, den)
    pl, pr = (pref.filter(F.col("_side") == t) for t in ("l", "r"))
    # internal _a/_b columns key the side-tagged uids; the caller's
    # ids ride the join as id_l/id_r
    cand = _prefix_pairs(
        _prefix_side(pl, "_uid", "a", F.col(id_col).alias("id_l")),
        _prefix_side(pr, "_uid", "b", F.col(id_col).alias("id_r")),
        F.expr(f"(({num} * (sz_a + sz_b) + {den + num - 1}) div {den + num})"),
        F.least("sz_a", "sz_b") * den >= F.greatest("sz_a", "sz_b") * num,
        keys=("id_a", "id_b", "id_l", "id_r"),
    )
    return _pair_overlap(cand, s, "_uid", ids=("id_l", "id_r")).filter(
        F.col("inter_size") * den >= F.col("union_size") * num
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    key: Column | None = None,
    window: int = 3,
    n: int = 3,
    hash_shingles: bool = True,
) -> DataFrame:
    """Sorted-Neighborhood Method (Hernandez & Stolfo, SIGMOD 1995
    merge/purge): globally sort by a blocking KEY, compare each record
    only to its ``window`` successors in sort order — the classic
    record-linkage blocking that catches near-dups whose keys sort
    adjacently (template docs, shared prefixes) with candidate volume
    EXACTLY window·N, independent of key-collision skew (the failure
    mode of equality blocking: a hot block is quadratic; a sorted
    window never is). Complements LSH (recall from hash collisions)
    and prefix filtering (threshold-bounded): SNM's recall comes from
    the sort key's locality, its cost is fixed per record.

    Returns (id_a, id_b, inter_size, union_size): each candidate pair
    verified with exact integer shingle Jaccard (same contract as
    :func:`jaccard_verify_pairs`); id_a is the earlier record in sort
    order.

    Scale shape: the global sort is :func:`~rust_dms_cdc_operator_spark.
    operators.chunk.with_global_rank` — bucket-boundary literals +
    per-bucket windows, NO single-partition exchange; neighbor
    candidates come from explode(sequence(rank+1 .. rank+window)) and
    an EQUI-join on the proposed rank (linear, the bounded-id-gap
    trick of :func:`ngram_jaccard_pairs`); the verify is two id-keyed
    joins against the once-computed shingle table. Default key: the
    document text itself (lexicographic sort clusters shared
    prefixes); pass ``key`` for domain keys (normalized name, URL,
    zip+surname)."""
    from rust_dms_cdc_operator_spark.operators.chunk import (  # noqa: PLC0415
        with_global_rank,
    )

    key = key if key is not None else F.col(text_col)
    mk = hashed_shingle_set if hash_shingles else shingle_set
    base = df.select(
        F.col(id_col),
        key.alias("_snm_key"),
        mk(F.col(text_col), n).alias("sh"),
    ).persist()
    ranked = with_global_rank(
        base.select(id_col, "_snm_key"), ["_snm_key", id_col],
        rank_col="_rank",
    )
    a = ranked.select(
        F.col(id_col).alias("id_a"),
        F.explode(
            F.sequence(F.col("_rank") + 1, F.col("_rank") + window)
        ).alias("_rank_b"),
    )
    b = ranked.select(
        F.col(id_col).alias("id_b"), F.col("_rank").alias("_rank_b")
    )
    pairs = a.join(b, "_rank_b").select("id_a", "id_b")
    return _pair_overlap(pairs, base, id_col)


def neardup_accumulate(
    batch_df: DataFrame,
    acc_dir: str,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 60,
    bands: int = 4,
    batch_id: int | None = None,
) -> None:
    """One microbatch step of STREAMING SimHash near-dup marking — the
    ingest-time twin of :func:`simhash_hamming_pairs`' banding: a doc
    arriving on the stream is flagged ``is_neardup`` iff any EARLIER
    doc (prior microbatch, or same batch with a smaller id) shares at
    least one of its ``bands`` signature blocks. The ``foreachBatch``
    body of the `stream_neardup` query, factored out so crash
    semantics are testable (the :func:`~rust_dms_cdc_operator_spark.
    operators.sketch.cms_accumulate` contract: EXPLICIT accumulator
    existence probe — a corrupt state dir fails the batch loudly,
    never silently resets to "first batch").

    State is the occupied-band-bucket table (band_idx, bk, min_id) —
    bounded by ``bands * 2^(bits/bands)`` buckets BY CONFIGURATION
    (4 x 32k at the defaults, ~3 MB collected), constant however long
    the stream runs; like the CMS sketch it merges by groupBy-min, so
    any replay/batching reaches the same final state. Appends
    (id, simhash, is_neardup) rows for this batch to ``out_dir``.

    Crash safety (round 8): state lives as IMMUTABLE epoch subdirs
    ``acc_dir/state-<n>/`` — a new epoch is written whole (Spark's
    ``_SUCCESS`` marker is the commit record), the reader takes the
    highest COMPLETE epoch, and older epochs are deleted only after
    the new one commits. No overwrite-in-place, so a crash at any
    point leaves the previous epoch readable and a replay converges
    (groupBy-min merge is idempotent). The state commits BEFORE the
    output append — flags computed from the merged state equal flags
    from (old state, batch mins), since ``min(old, bmin) < id  <=>
    old < id  or  bmin < id`` — so a replay after a state-committed /
    output-missing crash recomputes identical flags. With
    ``batch_id`` set (the foreachBatch wiring), output is written to
    a per-batch partition with dynamic overwrite, making the whole
    step idempotent under Structured Streaming's batch replay."""
    from rust_dms_cdc_operator_spark import fsio  # noqa: PLC0415

    width = bits // bands
    mask = (1 << width) - 1
    sess = batch_df.sparkSession
    sigs = simhash_bits(batch_df, id_col, text_col, bits)
    banded = sigs.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.shiftright("simhash", i * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("bk"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("_b"),
    ).select(id_col, "simhash", "_b.band_idx", "_b.bk").persist()
    # round 12: ``banded`` (the whole SimHash vote pipeline) feeds TWO
    # consumers — the batch-min state merge and the flag join. Without
    # a persist each consumer re-ran the explode+md5+vote stages per
    # batch (and materializing before the fan-out stops AQE's
    # concurrent subplans racing a cold cache — the
    # minhash_lsh_pairs keyed.count() pattern). Per-batch state, freed
    # below; bounded by the batch size times ``bands``.
    banded.count()
    batch_min = banded.groupBy("band_idx", "bk").agg(
        F.min(id_col).alias("_bmin")
    )
    # highest COMPLETE epoch = committed state; an epoch dir without
    # _SUCCESS is a crashed write and is ignored (then overwritten).
    # A part- file at the acc root is the pre-epoch layout — refuse it
    # loudly rather than silently starting over (corrupt-state probe).
    if any(n.startswith("part-") for n in fsio.listdir(acc_dir)):
        raise OSError(
            f"accumulator dir {acc_dir!r} holds a flat pre-epoch state "
            "layout; refusing to silently reset — migrate it into a "
            "state-0/ epoch subdir"
        )
    epochs = sorted(
        int(n.split("-", 1)[1])
        for n in fsio.listdir_dirs(acc_dir)
        if n.startswith("state-")
        and n.split("-", 1)[1].isdigit()
        and fsio.exists(fsio.join(acc_dir, n, "_SUCCESS"))
    )
    if epochs:
        state = sess.read.parquet(fsio.join(acc_dir, f"state-{epochs[-1]}"))
    else:
        state = sess.createDataFrame(
            [], "band_idx int, bk long, min_id long"
        )
    merged = (
        state.unionByName(
            batch_min.select(
                "band_idx", "bk", F.col("_bmin").alias("min_id")
            )
        )
        .groupBy("band_idx", "bk")
        .agg(F.min("min_id").alias("min_id"))
    )
    # write the merged state DIRECTLY to the new epoch dir (round 12,
    # guide §5 "the driver should do almost no data work"): the old
    # collect() + createDataFrame() round-tripped ~bands x occupied
    # buckets rows through Python pickle — measured 5-6 s of driver
    # wall per batch at sf0.1 — for rows that were about to be written
    # to parquet anyway. The epoch layout makes the direct write safe
    # (state-<n> is read, state-<n+1> is written — never the same
    # files), and the flag join below reads the COMMITTED epoch back
    # from disk, which is both cheaper and more faithful to the crash
    # contract than a driver-side copy.
    new_epoch = (epochs[-1] + 1) if epochs else 0
    new_dir = fsio.join(acc_dir, f"state-{new_epoch}")
    merged.coalesce(1).write.mode("overwrite").parquet(new_dir)
    merged_df = sess.read.parquet(new_dir)
    # the new epoch is committed (_SUCCESS) — everything else,
    # including torn uncommitted epochs from crashed attempts, is dead
    for n in fsio.listdir_dirs(acc_dir):
        if n.startswith("state-") and n != f"state-{new_epoch}":
            fsio.delete(fsio.join(acc_dir, n))
    # flags from the MERGED state (one broadcast join): min over
    # everything seen so far < id  <=>  an earlier doc shares a band
    flagged = (
        banded.join(F.broadcast(merged_df), ["band_idx", "bk"])
        .groupBy(id_col, "simhash")
        .agg(F.max(F.col("min_id") < F.col(id_col)).alias("is_neardup"))
    )
    if batch_id is None:
        flagged.write.mode("append").parquet(out_dir)
    else:
        (
            flagged.withColumn("batch", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch")
            .parquet(out_dir)
        )
    banded.unpersist()  # round 12: per-batch cache, freed after the write


def cdc_chunk_census(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram: int = 4,
    modulus: int = 64,
) -> DataFrame:
    """CONTENT-DEFINED chunking dedup census (the LBFS/rsync family —
    Muthitacharoen et al., SOSP 2001 — on word streams): a chunk
    boundary falls AFTER every word position whose trailing ``gram``-
    word window hashes to 0 mod ``modulus`` (expected chunk length =
    ``modulus`` words), chunks dedup corpus-wide by digest. Returns
    one row per doc: (id, n_chunks, n_dup_chunks, dup_words, n_words)
    — n_dup_chunks of its chunks occur >= 2 times corpus-wide,
    covering dup_words words.

    Why not :func:`segment_dedup`'s fixed windows: an insertion shifts
    every later fixed-segment boundary, so all downstream segments of
    an edited document change identity and nothing dedups. Content-
    defined boundaries RESYNCHRONIZE at the next hash-selected cut —
    only the chunks touching the edit change (property-tested) — which
    is what makes cross-version storage dedup work.

    Plan shape (all linear): one posexplode of words + one of the
    stride-1 gram windows (cut decisions — pure hash expressions);
    one per-doc window running-sum turns cut flags into chunk ids;
    one (doc, chunk) aggregation rebuilds chunk digests (text rides
    only to its own chunk's md5); ONE digest-keyed count — state
    bounded by DISTINCT chunks, the dedup-store size, not the corpus.
    Same hashed-key contract as :func:`dup_span_census` (md5-slice
    keys, oracle reproduces collisions bit-for-bit)."""
    from pyspark.sql import Window  # noqa: PLC0415

    # round 12: floor the posexplode/digest stage's parallelism
    # (serial on a single-file corpus otherwise; no-op at scale)
    df = scan_parallelism_floor(df.select(id_col, text_col))
    words = df.select(
        F.col(id_col),
        F.size(_words(F.col(text_col))).alias("n_words"),
        F.posexplode(_words(F.col(text_col))).alias("pos", "w"),
    )
    cuts = df.select(
        F.col(id_col),
        F.posexplode(
            sliding_word_ngrams(F.col(text_col), gram)
        ).alias("s", "g"),
    ).select(
        id_col,
        (F.col("s") + gram - 1).alias("pos"),
        (hex_to_long(F.md5("g"), 8) % modulus == 0).alias("cut"),
    ).filter(F.col("cut"))
    flagged = words.join(cuts.select(id_col, "pos", "cut"), [id_col, "pos"], "left")
    w = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = flagged.withColumn(
        "chunk",
        F.coalesce(
            F.sum(F.when(F.col("cut"), 1).otherwise(0)).over(w), F.lit(0)
        ),
    )
    chunks = chunked.groupBy(id_col, "chunk").agg(
        F.first("n_words").alias("n_words"),
        F.count(F.lit(1)).alias("c_words"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda x: x["w"],
                ),
            )
        ).alias("digest"),
    )
    census = chunks.groupBy("digest").agg(
        F.count(F.lit(1)).alias("occ")
    )
    return (
        chunks.join(census, "digest")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(F.when(F.col("occ") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_chunks"),
            F.sum(F.when(F.col("occ") >= 2, F.col("c_words")).otherwise(0))
            .cast("long")
            .alias("dup_words"),
            F.first("n_words").cast("long").alias("n_words"),
        )
    )


def hamming_pairs_from_signatures(
    sigs: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    bits: int = 64,
    bands: int = 4,
    max_distance: int = 3,
) -> DataFrame:
    """Banded multi-index Hamming join over PRECOMPUTED signatures —
    the signature-agnostic core of :func:`simhash_hamming_pairs`,
    split out so non-text signatures (the perceptual image dHash in
    functions/mediacodec.dhash64, audio fingerprints, any 64-bit
    sketch) reuse the same complete pigeonhole blocking: any pair
    within Hamming distance ``bands - 1`` agrees exactly on one of
    the ``bands`` disjoint blocks, so banded equi-joins enumerate a
    complete candidate set; one integer popcount verifies.

    Signed-safe to the full 64 bits: band keys extract via
    ARITHMETIC shift + mask — for every band the mask keeps only bits
    below the sign-fill region, so the key equals the logical-shift
    value on any engine (the trick that lets a two's-complement
    64-bit hash stay in one BIGINT on Spark and DuckDB alike; the
    text SimHash caps at 60 bits instead, both conventions coexist).
    Pairs emit at their FIRST matching block (no global distinct over
    the within-bucket pair stream). Returns (id_a, id_b, hamming),
    id_a < id_b. Caller owns the persisted signature cache."""
    if max_distance >= bands:
        raise ValueError("pigeonhole completeness needs max_distance < bands")
    if bits % bands:
        raise ValueError("bits must divide evenly into bands")
    width = bits // bands
    mask = (1 << width) - 1
    s = sigs.select(F.col(id_col), F.col(sig_col).alias("_sig")).persist()
    per_band = []
    for i in range(bands):

        def _bk(c: str) -> Column:
            return F.shiftright(F.col(c), i * width).bitwiseAND(F.lit(mask))

        a = s.select(
            F.col(id_col).alias("id_a"),
            F.col("_sig").alias("sig_a"),
            _bk("_sig").alias("bk"),
        )
        b = s.select(
            F.col(id_col).alias("id_b"),
            F.col("_sig").alias("sig_b"),
            _bk("_sig").alias("bk"),
        )
        j = a.join(b, "bk").filter(F.col("id_a") < F.col("id_b"))
        for prev in range(i):
            j = j.filter(
                F.shiftright("sig_a", prev * width).bitwiseAND(F.lit(mask))
                != F.shiftright("sig_b", prev * width).bitwiseAND(
                    F.lit(mask)
                )
            )
        per_band.append(j.select("id_a", "id_b", "sig_a", "sig_b"))
    cand = per_band[0]
    for p in per_band[1:]:
        cand = cand.unionByName(p)
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return cand.select(
        "id_a", "id_b", ham.cast("long").alias("hamming")
    ).filter(F.col("hamming") <= max_distance)


def dup_span_remove(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 5,
    min_occurrences: int = 2,
) -> DataFrame:
    """The TRANSFORM companion to :func:`dup_span_census` — actually
    remove corpus-duplicated spans (every occurrence, the strictest
    Lee/Ippolito policy: repeated boilerplate carries no training
    signal at any copy). Returns (id, n_words, n_removed, clean_text);
    clean_text is NULL when every word was covered (fully-boilerplate
    doc — the row a curation pipeline drops).

    Same plan skeleton as the census: one gram-count aggregation
    (vocabulary-bound), a gram-key semi-join marks duplicated seeds,
    then each seed explodes into its ``window`` covered positions
    (x``window`` linear blow-up, bounded by the seed stream), one
    per-doc distinct, one anti-join against the word stream, one
    doc-key reassembly aggregation. Nothing quadratic, no driver
    data."""
    grams = df.select(
        F.col(id_col),
        F.posexplode(
            sliding_word_ngrams(F.col(text_col), window)
        ).alias("pos", "gram"),
    ).select(id_col, "pos", hex_to_long(F.md5("gram"), 12).alias("gh"))
    dup = (
        grams.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("occ"))
        .filter(F.col("occ") >= min_occurrences)
        .select("gh")
    )
    covered = (
        grams.join(dup, "gh")
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + window - 1)
            ).alias("pos"),
        )
        .distinct()
    )
    words = df.select(
        F.col(id_col),
        F.size(_words(F.col(text_col))).alias("n_words"),
        F.posexplode(_words(F.col(text_col))).alias("pos", "w"),
    )
    kept = words.join(covered, [id_col, "pos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.first("n_words").alias("n_words"),
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))),
                lambda x: x["w"],
            ),
        ).alias("clean_text"),
    )
    return (
        df.select(id_col, F.size(_words(F.col(text_col))).alias("n_words"))
        .join(rebuilt.drop("n_words"), id_col, "left")
        .select(
            id_col,
            F.col("n_words").cast("long").alias("n_words"),
            (
                F.col("n_words") - F.coalesce(F.col("n_kept"), F.lit(0))
            ).cast("long").alias("n_removed"),
            "clean_text",
        )
    )
