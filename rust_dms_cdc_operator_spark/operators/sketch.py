"""Deterministic, mergeable sketches — every hash is an md5 slice
decoded to an integer and every estimate is integer arithmetic up to
one final literal IEEE expression, so each engine (and the DuckDB
oracle) computes the IDENTICAL estimate, unlike approx_count_distinct
or Spark's HLL++, whose estimates are implementation-specific.

- KMV (k minimum values, Bar-Yossef et al. 2002): ``kmv_sketch``
  keeps each group's k smallest distinct hashes; ``kmv_union`` merges
  two sketches by union + re-truncate; ``kmv_cardinality`` estimates
  from the k-th hash.
- HyperLogLog (Flajolet et al. 2007): ``hll_registers`` is the one
  register pass, ``hll_scaled_sum`` the exact-integer harmonic
  denominator, ``hll_cardinality`` the raw estimate.
- Count-min (Cormode & Muthukrishnan 2005): ``cms_build`` /
  ``cms_estimate`` / ``cms_inner_product``, and ``cms_accumulate``
  for a streaming accumulator.
- Fixed-grid histogram: ``hist_build`` / ``hist_quantiles``.
- Bloom filter as 32-bit words: ``bloom_word_table`` builds,
  ``merge_bloom_word_tables`` OR-merges, ``bloom_contains`` probes.
- Misra-Gries: ``misra_gries_candidates`` proposes and
  ``heavy_hitters_exact`` verifies an exact top-k.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from rust_dms_cdc_operator_spark.operators.dedup import hex_to_long

# default hash width: 15 hex chars (60 bits) keep the value positive
# in a signed 64-bit long in every engine
_HASH_CHARS = 15


def kmv_hash(col: Column, hash_chars: int = _HASH_CHARS) -> Column:
    """Deterministic uniform hash in [0, 2^(4 * hash_chars)): the
    leading ``hash_chars`` hex chars of md5, digit-decoded (portable —
    no engine-specific hex parsing)."""
    return hex_to_long(F.md5(col), hash_chars)


# ------------------------------------------------------------------ KMV
# If the k-th smallest of n distinct uniform hashes in [0, D) is h_k,
# then h_k / D ~ k / n, so n ~ (k - 1) * D / h_k (the unbiased form),
# with relative error ~ 1/sqrt(k - 2). Both operators rank the
# distinct (group, hash) table in one group-keyed window. The sketch
# keeps ranks <= k, so Spark bounds the window's shuffle with a
# WindowGroupLimit (k rows per group per map task); the cardinality
# also counts every distinct hash, so its window sees them all. A
# 100 TB deployment would replace that window with a partial
# aggregate holding a k-bounded heap per map task — the estimator
# arithmetic is unchanged.


def _kmv_ranked(
    df: DataFrame, group_cols: list[str], value_col: str, hash_chars: int
) -> DataFrame:
    """(group..., _kmv_h, _rn): each group's distinct hashes, ranked
    ascending from 1."""
    d = df.select(
        *group_cols, kmv_hash(F.col(value_col), hash_chars).alias("_kmv_h")
    ).distinct()
    w = Window.partitionBy(*group_cols).orderBy("_kmv_h")
    return d.withColumn("_rn", F.row_number().over(w))


def kmv_sketch(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int,
    hash_chars: int = _HASH_CHARS,
) -> DataFrame:
    """Per-group KMV sketch: (group..., kmv_hashes) — the group's
    <= k smallest distinct ``kmv_hash`` values, sorted ascending."""
    return (
        _kmv_ranked(df, group_cols, value_col, hash_chars)
        .filter(F.col("_rn") <= k)
        .groupBy(*group_cols)
        .agg(F.sort_array(F.collect_list("_kmv_h")).alias("kmv_hashes"))
    )


def kmv_union(a: Column, b: Column, k: int) -> Column:
    """Merge two KMV sketches: the k smallest of their combined
    distinct hashes — the sketch of the union of the two sets."""
    return F.slice(F.array_sort(F.array_distinct(F.concat(a, b))), 1, k)


def kmv_cardinality(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """Per-group distinct-count estimate: ``kmv_estimate`` (exact when
    the group has < k distinct values — the sketch saturates to
    truth) next to ``exact_distinct`` for error inspection."""
    per_group = (
        _kmv_ranked(df, group_cols, value_col, _HASH_CHARS)
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("exact_distinct"),
            F.max(F.when(F.col("_rn") == k, F.col("_kmv_h"))).alias("_kth"),
        )
    )
    est = F.when(
        F.col("_kth").isNull(), F.col("exact_distinct")
    ).otherwise(
        F.round(
            F.lit(float(k - 1) * float(1 << 4 * _HASH_CHARS))
            / F.col("_kth").cast("double")
        ).cast("long")
    )
    return per_group.select(
        *group_cols,
        est.cast("long").alias("kmv_estimate"),
        F.col("exact_distinct").cast("long").alias("exact_distinct"),
    )


# ------------------------------------------------------------ histogram
def hist_build(
    df: DataFrame,
    value_col: str,
    lo: int,
    hi: int,
    buckets: int = 1024,
) -> DataFrame:
    """Fixed-grid histogram sketch over an INTEGER value column:
    (bucket, total) with values clipped into [lo, hi). The mergeable
    quantile summary whose estimates are deterministic integers —
    the cross-engine-checkable stand-in for t-digest/KLL (whose
    estimates are implementation-specific): error is bounded by the
    grid step (hi-lo)/buckets instead of a probabilistic rank bound.
    One map-side-combined aggregation; merge = bucket-wise addition,
    exactly like the CMS."""
    width = (hi - lo + buckets - 1) // buckets
    b = F.floor(
        (F.greatest(F.least(F.col(value_col), F.lit(hi - 1)), F.lit(lo)) - lo)
        / width
    ).cast("long")
    return (
        df.select(b.alias("hist_bucket"))
        .groupBy("hist_bucket")
        .agg(F.count(F.lit(1)).alias("total"))
    )


def hist_quantiles(
    hist: DataFrame,
    lo: int,
    hi: int,
    buckets: int = 1024,
    qs: tuple[float, ...] = (0.5, 0.95, 0.99),
) -> DataFrame:
    """Quantile estimates from the histogram: for each q, the LOWER
    EDGE of the first bucket whose cumulative count reaches
    ceil(q * N) — a deterministic integer rule (no interpolation, no
    float rank arithmetic), so estimates hash-match across engines.
    The cumulative scan runs over the bucket-ordered histogram
    (dimension-sized — ``buckets`` rows at most, one tiny window)."""
    width = (hi - lo + buckets - 1) // buckets
    w = Window.orderBy("hist_bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "hist_bucket",
        F.sum("total").over(w).alias("cum"),
        F.sum("total").over(
            Window.orderBy("hist_bucket").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    parts = []
    for q in qs:
        # rank threshold ceil(q*N) via integer arithmetic on the
        # exactly-representable q grid (q expressed in 1e-6 units)
        qm = int(round(q * 1_000_000))
        thresh = F.ceil(F.col("n") * qm / 1_000_000)
        first = (
            cum.filter(F.col("cum") >= thresh)
            .agg(F.min("hist_bucket").alias("b"))
            .select(
                F.lit(qm).cast("long").alias("q_micro"),
                (F.col("b") * width + lo).cast("long").alias("value_est"),
            )
        )
        parts.append(first)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ------------------------------------------------------------- count-min
# depth-4 count-min sketch: row r hashes a value into one of `width`
# buckets via disjoint 8-hex-char slices of one md5 (independent-enough
# 32-bit hashes, and — critically — pure integer arithmetic, so the
# estimate is bit-identical in every engine)
_CMS_DEPTH = 4


def cms_bucket(col: Column, row: int, width: int) -> Column:
    """Bucket of ``col`` in sketch row ``row``: md5 slice → long →
    mod width. Slices use 8 hex chars (32 bits) so 4 rows fit in one
    md5 digest."""
    h = hex_to_long(F.substring(F.md5(col), row * 8 + 1, 8), 8)
    return (h % width).cast("long")


def cms_build(
    df: DataFrame,
    value_col: str,
    width: int = 1024,
    count_col: str | None = None,
) -> DataFrame:
    """Build the sketch table: (row, bucket, total) — ``depth x width``
    rows max, the compact mergeable summary (union = add totals).
    ONE pass over the data: each value explodes into its depth
    (row, bucket) pairs (the md5 is computed once and sliced), then
    one map-side-combined aggregation — the depth multiplier rides
    the pre-combine map side, never a second scan.

    ``count_col``: build from a pre-aggregated frequency table
    (total = sum of counts) instead of raw occurrences — when the
    caller already has per-value counts, the sketch aggregation runs
    over the vocabulary, not the corpus."""
    weight = F.col(count_col) if count_col else F.lit(1)
    pairs = F.array(
        *[
            F.struct(
                F.lit(r).alias("cms_row"),
                cms_bucket(F.col(value_col), r, width).alias("cms_bucket"),
            )
            for r in range(_CMS_DEPTH)
        ]
    )
    return (
        df.select(F.explode(pairs).alias("p"), weight.alias("_w"))
        .groupBy(
            F.col("p.cms_row").alias("cms_row"),
            F.col("p.cms_bucket").alias("cms_bucket"),
        )
        .agg(F.sum("_w").cast("long").alias("total"))
    )


def cms_estimate(
    sketch: DataFrame, probes: DataFrame, value_col: str, width: int = 1024
) -> DataFrame:
    """Point-estimate probe frequencies: for each probe value, the MIN
    over the 4 rows of its bucket totals — the classic CMS upper
    bound (never under-counts; over-counts by collision mass). The
    sketch is dimension-sized, so it broadcasts and the probe side
    never shuffles."""
    keyed = probes.select(F.col(value_col).alias("cms_value"))
    for r in range(_CMS_DEPTH):
        keyed = keyed.withColumn(
            f"_b{r}", cms_bucket(F.col("cms_value"), r, width)
        )
    est = None
    joined = keyed
    for r in range(_CMS_DEPTH):
        s_r = sketch.filter(F.col("cms_row") == r).select(
            F.col("cms_bucket").alias(f"_sb{r}"),
            F.col("total").alias(f"_t{r}"),
        )
        joined = joined.join(
            F.broadcast(s_r), F.col(f"_b{r}") == F.col(f"_sb{r}"), "left"
        )
        t = F.coalesce(F.col(f"_t{r}"), F.lit(0))
        est = t if est is None else F.least(est, t)
    return joined.select(
        F.col("cms_value").alias(value_col),
        est.cast("long").alias("cms_count"),
    )


def cms_inner_product(sk_a: DataFrame, sk_b: DataFrame) -> DataFrame:
    """Join-size estimation from two CM sketches (the AMS/count-min
    inner-product estimator, Cormode & Muthukrishnan §4.2): for two
    key streams A and B, |A ⋈ B| = Σ_v fA(v)·fB(v), and the sketch
    estimate is min over rows r of Σ_b skA[r][b]·skB[r][b]. Never
    under-estimates (collision mass only adds), so it is a safe
    upper bound for join planning / pre-execution admission control.
    Both sketches are depth x width tables, so the join is
    dimension-sized — independent of either stream's cardinality."""
    j = sk_a.select(
        "cms_row", "cms_bucket", F.col("total").alias("ta")
    ).join(
        sk_b.select(
            "cms_row", "cms_bucket", F.col("total").alias("tb")
        ),
        ["cms_row", "cms_bucket"],
    )
    per_row = j.groupBy("cms_row").agg(
        F.sum(F.col("ta") * F.col("tb")).alias("dot")
    )
    return per_row.agg(F.min("dot").cast("long").alias("estimate"))


def cms_accumulate(batch_df: DataFrame, acc_dir: str, col: str,
                   width: int = 1024,
                   count_col: str | None = None) -> None:
    """One microbatch step of a STREAMING count-min sketch: build this
    batch's sketch and merge it bucket-wise into the parquet
    accumulator at ``acc_dir`` (the sketch's defining merge property
    — after any replay the accumulator estimates exactly like a
    one-shot batch sketch). This is the ``foreachBatch`` body of the
    `stream_cms_heavy_hitters` query, factored out so its crash
    semantics are testable.

    First-batch detection is an EXPLICIT existence probe (fsio.listdir
    for part files), never try/except around the read: a corrupt or
    partially-written accumulator must fail the microbatch loudly —
    silently treating a read error as "first batch" would reset the
    sketch and undercount every key seen before the crash. State is
    depth x width integers, constant however long the stream runs.

    ``count_col`` passes through to :func:`cms_build`: a caller that
    already holds per-value counts sketches the vocabulary instead of
    the token stream — identical totals (bucket sums commute with
    pre-aggregation), fewer md5s.
    """
    from rust_dms_cdc_operator_spark import fsio  # noqa: PLC0415

    part = cms_build(batch_df, col, width=width, count_col=count_col)
    sess = batch_df.sparkSession
    has_acc = any(n.startswith("part-") for n in fsio.listdir(acc_dir))
    if has_acc:
        prev = sess.read.parquet(acc_dir)
        merged = (
            part.unionByName(prev)
            .groupBy("cms_row", "cms_bucket")
            .agg(F.sum("total").cast("long").alias("total"))
        )
    else:  # first batch: no accumulator yet
        merged = part
    out = merged.collect()  # sketch is depth x width rows — bounded
    # re-upload through pandas/Arrow, NOT a row list: createDataFrame
    # (list) ships the rows as defaultParallelism pickled slices that
    # each need a Python-worker round trip at evaluation, and the
    # coalesce(1) below then pays all of them SEQUENTIALLY in one task
    # — measured 5-7 s per batch for a 4096-row sketch vs 0.3 s via
    # Arrow (the Arrow-backed local relation evaluates JVM-side). The
    # collect-then-rewrite itself stays: the flat accumulator layout
    # overwrites in place, so the driver copy is the self-overwrite
    # guard (never read and overwrite the same files in one job).
    pdf = pd.DataFrame(
        [(r["cms_row"], r["cms_bucket"], r["total"]) for r in out],
        columns=["cms_row", "cms_bucket", "total"],
    )
    sess.createDataFrame(pdf, part.schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(acc_dir)


# --------------------------------------------------------- Misra-Gries
def misra_gries_candidates(
    tokens: DataFrame, col: str, m: int = 64
) -> DataFrame:
    """Per-partition Misra-Gries summaries, vectorized.

    One Arrow pass per partition: each batch's token counts come from
    pandas ``value_counts`` (C speed, no Python token loop), merged
    into the running summary, then MG-trimmed to ``m`` entries by
    subtracting the (m+1)-th largest count from all and keeping
    positives — the mergeable-summaries form (Agarwal et al. 2012),
    whose per-item undercount is bounded by N_p/(m+1) for a partition
    of N_p tokens. Output: candidate rows (token, NULL) per partition
    plus ONE accounting row (NULL, N_p) per partition, so callers get
    the global token total without a second corpus pass. NULL tokens
    are neither counted nor proposed (``value_counts`` drops them).

    Pigeonhole guarantee: any token with GLOBAL count > N/(m+1) must
    exceed N_p/(m+1) in at least one partition, so it survives that
    partition's summary — the union of summaries is a superset of
    every global heavy hitter above the threshold.
    """

    def per_partition(it):
        summary = None
        total = 0
        for pdf in it:
            vc = pdf[col].value_counts()
            total += int(vc.sum())
            summary = vc if summary is None else summary.add(
                vc, fill_value=0
            )
            if len(summary) > m:
                cut = summary.nlargest(m + 1).iloc[-1]
                summary = summary - cut
                summary = summary[summary > 0]
        rows = pd.DataFrame({
            "token": ([] if summary is None else list(summary.index))
            + [None],
            "n_part": [None] * (0 if summary is None else len(summary))
            + [total],
        })
        yield rows

    return tokens.select(F.col(col).alias(col)).mapInPandas(
        per_partition, "token string, n_part long"
    )


def heavy_hitters_exact(
    tokens: DataFrame, col: str, k: int = 20, m: int = 64
) -> DataFrame:
    """EXACT top-k heavy hitters among the non-NULL tokens, in bounded
    memory — the two-pass sketch-propose / exact-verify pattern a
    100 TB token stream requires instead of a full (token)-keyed
    shuffle:

    1. Propose: per-partition Misra-Gries summaries (≤ m entries per
       partition, Arrow-vectorized) — a guaranteed superset of every
       token with count > N/(m+1).
    2. Verify: exact recount of ONLY the proposed candidates (the
       candidate set broadcasts; non-candidates die at the scan), then
       the deterministic top-k by (count desc, token asc).
    3. Guarantee check: if the k-th recounted candidate does not clear
       the N/(m+1) proposal threshold, the bounded-memory answer could
       miss a true hitter — fall back to the exact full aggregation.
       The result is therefore EXACT on every input; only the plan
       degrades when m is undersized for the distribution.

    NULL tokens are dropped on entry, for both paths: the summaries
    never see them and NULL marks their accounting rows, so counting
    NULL in the fallback alone would make the answer depend on which
    path ran.

    Driver traffic: candidate recounts (≤ m × partitions rows) and two
    scalars — bounded by configuration, not by corpus size.
    """
    tokens = tokens.where(F.col(col).isNotNull())
    mg = misra_gries_candidates(tokens, col, m).persist()
    cands = mg.where(F.col("token").isNotNull()).select("token").distinct()
    n_total = int(
        mg.where(F.col("token").isNull())
        .agg(F.sum("n_part")).collect()[0][0] or 0
    )
    recount = (
        tokens.join(
            F.broadcast(cands),
            tokens[col] == cands["token"], "left_semi"
        )
        .groupBy(col)
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), F.col(col).asc())
        .limit(k)
    )
    top = recount.collect()
    mg.unpersist()
    threshold = n_total / (m + 1)
    if len(top) < k or top[-1]["n"] <= threshold:
        # undersized m for this distribution: bounded-memory proposal
        # cannot certify the tail of the top-k — take the exact path
        return (
            tokens.groupBy(col)
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .orderBy(F.col("n").desc(), F.col(col).asc())
            .limit(k)
        )
    return tokens.sparkSession.createDataFrame(top, f"{col} string, n long")


# ---------------------------------------------------------- HyperLogLog
# Dense, engine-portable HLL (Flajolet, Fusy, Gandouet & Meunier, AofA
# 2007). KMV keeps k hashes of state; HLL gets the same job done in
# m = 2^p small registers and merges by a plain elementwise MAX, which
# Spark expresses as ONE groupBy(reg) aggregation with map-side
# partial combine and NO distinct shuffle: repeated values hash to
# identical (reg, rho) rows that max() absorbs on the map side.


def hll_registers(
    df: DataFrame,
    col: str,
    group_cols: list[str] | None = None,
    p: int = 9,
    hash_chars: int = _HASH_CHARS,
) -> DataFrame:
    """The register pass: (group..., reg, mreg), one row per hit
    register. Each value hashes to h = ``kmv_hash(col, hash_chars)``
    (b = 4 * hash_chars bits); the low ``p`` bits pick the register,
    the remaining w = b - p bits yield rho = position of the leftmost
    1-bit (1-based from the MSB of the w-bit field), w + 1 when the
    field is zero; mreg = max rho over the register's values.
    Integer-only: the bit-length of the remainder comes from
    length(bin(x)) — identical on Spark and DuckDB.

    Sketches merge without touching data: union the register rows and
    take max(mreg) per (group, reg) again."""
    gcols = list(group_cols or [])
    w = 4 * hash_chars - p
    h = kmv_hash(F.col(col), hash_chars)
    rest = F.shiftright(h, p)
    rho = F.when(rest == 0, F.lit(w + 1)).otherwise(
        F.lit(w + 1) - F.length(F.bin(rest))
    )
    return (
        df.select(
            *gcols,
            (h % F.lit(1 << p)).cast("long").alias("reg"),
            rho.cast("long").alias("rho"),
        )
        .groupBy(*gcols, "reg")
        .agg(F.max("rho").alias("mreg"))
    )


def hll_scaled_sum(
    regs: DataFrame,
    group_cols: list[str] | None = None,
    p: int = 9,
    hash_chars: int = _HASH_CHARS,
) -> DataFrame:
    """The harmonic denominator of a register table as an exact
    integer: (group..., m_hit, s_scaled).

    - ``m_hit``: registers with at least one value.
    - ``s_scaled``: Σ_reg 2^-M_reg scaled by 2^maxexp, maxexp =
      4 * hash_chars - p + 1, with 2^maxexp (= 2^-0 scaled) for each of
      the m - m_hit empty registers — every term is an integer shift,
      no float pow on the data path. Bounded by m·2^maxexp =
      2^(4 * hash_chars + 1), inside int64 for hash_chars <= 15."""
    gcols = list(group_cols or [])
    maxexp = 4 * hash_chars - p + 1
    s_hit = F.sum(
        F.expr(f"shiftleft(cast(1 as bigint), {maxexp} - cast(mreg as int))")
    )
    agg = regs.groupBy(*gcols).agg(
        F.count(F.lit(1)).cast("long").alias("m_hit"),
        s_hit.cast("long").alias("_s_hit"),
    )
    return agg.select(
        *gcols,
        "m_hit",
        (
            F.col("_s_hit")
            + (F.lit(1 << p) - F.col("m_hit")) * F.lit(1 << maxexp)
        ).cast("long").alias("s_scaled"),
    )


def hll_cardinality(
    df: DataFrame,
    col: str,
    group_cols: list[str] | None = None,
    p: int = 9,
) -> DataFrame:
    """Per-group distinct-count estimate via dense HLL, plus the raw
    sketch scalars so a downstream merge can combine groups without
    touching data: (group..., m_hit, s_scaled, hll_estimate), where
    ``hll_estimate`` = floor(alpha_m · m² · 2^maxexp / s_scaled) —
    the raw HLL estimate (no small/large-range corrections: those need
    ln(), whose last-ulp behavior is libm-specific; the raw form is
    one IEEE divide + multiplies, bit-stable cross-engine).

    Plan: one groupBy(group, reg) max(rho) — m-bounded state per
    group, map-side combine absorbs duplicates, NO count-distinct
    expand — then one group rollup."""
    m = 1 << p
    maxexp = 4 * _HASH_CHARS - p + 1
    alpha = 0.7213 / (1.0 + 1.079 / m)
    gcols = list(group_cols or [])
    sk = hll_scaled_sum(hll_registers(df, col, gcols, p), gcols, p)
    est = F.floor(
        F.lit(alpha * m * m * float(1 << maxexp))
        / F.col("s_scaled").cast("double")
    ).cast("long")
    return sk.select(*gcols, "m_hit", "s_scaled", est.alias("hll_estimate"))


# ---------------------------------------------------------------- Bloom
# the filter's shape: m bits in m/32 words, one salted md5 position
# per salt; the build and the probe must agree on both
_BLOOM_BITS = 4096
_BLOOM_SALTS = ("b1", "b2", "b3")


def _bloom_positions(g: Column) -> list[Column]:
    """The filter's bit positions of ``g``: an 8-hex md5 slice of
    ``g || salt`` per salt, mod the filter's bit count."""
    return [
        hex_to_long(F.md5(F.concat(g, F.lit(s))), 8) % F.lit(_BLOOM_BITS)
        for s in _BLOOM_SALTS
    ]


def bloom_word_table(grams: DataFrame, gram_col: str = "g") -> DataFrame:
    """A Bloom filter over ``gram_col`` as a FRAME of 32-bit words:
    (w, bits) — 4096 bits, one salted-md5 position per salt — so the
    filter is a persistable, mergeable artifact. One map-side-combined
    bit_or aggregate straight off the gram stream (OR is idempotent —
    no distinct, no gram-string shuffle); absent words simply have no
    row (bits = 0 implicitly), so the table is at most 128 rows at any
    corpus size. :func:`bloom_contains` probes it.

    Incremental maintenance: a deployment builds the filter once, then
    each ingest ORs its batch's word table in via
    :func:`merge_bloom_word_tables` — merged == from-scratch over the
    union corpus (bit_or is associative/commutative/idempotent),
    pinned by the ``docs_bloom_merge`` oracle row."""
    pos = F.explode(F.array(*_bloom_positions(F.col(gram_col)))).alias("p")
    return (
        grams.select(pos)
        .select(
            (F.col("p") / 32).cast("int").alias("w"),
            F.call_function(
                "shiftleft",
                F.lit(1).cast("long"),
                (F.col("p") % 32).cast("int"),
            ).alias("m"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(m)").cast("long").alias("bits"))
    )


def merge_bloom_word_tables(a: DataFrame, b: DataFrame) -> DataFrame:
    """OR-merge two Bloom word tables (additive per-ingest
    maintenance): union + one bit_or per word. Because OR is
    idempotent and associative, merging any partition of the corpus
    reproduces the from-scratch filter bit-for-bit — the property
    that lets a 100 TB deployment maintain its decontamination
    artifact per ingest without ever rescanning the corpus grams."""
    return (
        a.select("w", "bits")
        .unionByName(b.select("w", "bits"))
        .groupBy("w")
        .agg(F.expr("bit_or(bits)").cast("long").alias("bits"))
    )


def bloom_contains(col: Column, words: Iterable[tuple[int, int]]) -> Column:
    """Membership probe against a collected :func:`bloom_word_table`
    (``words``: its (w, bits) rows): 1 when every salted position of
    ``col`` is set, else 0 — never 0 for a member (no false
    negatives). The filter travels as a literal array of its 128
    words, so membership is a pure expression: no join on the probe
    side."""
    dense = [0] * (_BLOOM_BITS // 32)
    for w, bits in words:
        dense[w] = int(bits)
    lit_words = F.array(*[F.lit(v).cast("long") for v in dense])
    hit = None
    for p in _bloom_positions(col):
        word = F.element_at(lit_words, (p / 32).cast("int") + 1)
        bit = F.call_function(
            "shiftright", word, (p % 32).cast("int")
        ).bitwiseAND(F.lit(1))
        hit = bit if hit is None else hit * bit
    return hit
