"""Local stand-in for the driver's t2 correctness gate: run every
``queries()`` entry in Spark AND its ``oracle_sql()`` in DuckDB on the
same parquet, compare row count + column names + order-insensitive
canonical values. Usage:

    python tools/check_oracle.py [--sf-dir /root/testdata/sf0.01] [names...]


Trained-artifact oracles are scale-parameterized (round 7): the
centroid-bearing oracles (``sim_ivf_trained`` /
``sim_ivf_probe_partitioned`` / ``sim_knn_density`` /
``dedup_semantic_pairs``: centroids; ``sim_pq_topk`` /
``sim_ivfpq_topk`` / ``sim_ivfpq_probe_partitioned``: PQ codebooks;
``docs_bpe_tokens`` / ``docs_bpe_fertility``: merge lists) embed the sf0.01
artifacts in their static driver strings, and at any other --sf-dir
this tool re-renders them from the per-sf trained/ JSON registry
(``inventory_llm.oracle_sql_overrides``; regenerate artifacts with
tools/gen_ivf_centroids.py / gen_pq_codebooks.py / gen_bpe_merges.py
<sf_dir>). With artifacts generated (sf0.001 / sf0.1 /
spark-graft-sf1-native are committed) all of them hash-match at every
scale — zero by-design exclusions remain in the sweep.

Digest mode (round 7): pair-producing censuses are quadratic in
adversarial input — ``dedup_minhash_lsh`` alone returns 200.8M rows
at native sf1, far past what a driver can collect (the exact failure
a 100 TB validation job would hit). Above ``--digest-threshold``
rows, the sweep stops collecting and instead has BOTH engines compute
an order-insensitive exact digest — row count + sums of two disjoint
60-bit md5 slices over identically-rendered canonical row strings
(sorted column order, '\\x1f' separator, '<null>' marker, fixed
timestamp format) — and compares the three scalars. This is the same
check at any scale for O(1) driver bytes: a single differing row,
extra row, or duplicate-count change moves the sums. Digest mode
requires digest-safe column types (ints/strings/bools/dates/
timestamps — doubles/decimals/arrays render engine-specifically and
stay on the value-compare path); the Spark result is persisted so
count + digest share one computation.
"""

from __future__ import annotations

import argparse
import datetime as dt
import math
import os
import sys
import time
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon_cell(v) -> str:
    if v is None:
        return "<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<nan>"
        return repr(v)
    if isinstance(v, Decimal):
        # Render Decimals distinctly from int/float so cross-engine type
        # skew (DuckDB HUGEINT/DECIMAL vs Spark BIGINT/DOUBLE) fails
        # loudly here instead of being masked and then failing only in
        # the driver's canonicalization (bit us on q12_shipmode_priority:
        # bare sum(CASE) is HUGEINT in DuckDB).  Trailing zeros are
        # normalized so scale differences within Decimal don't matter.
        s = format(v, "f")
        if "." in s:
            s = s.rstrip("0").rstrip(".")
        return "dec:" + s
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def canon_rows(cols: list[str], rows: list[tuple]) -> list[tuple[str, ...]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon_cell(r[i]) for i in order) for r in rows)


# ---------------------------------------------------------------- digest mode
# Types whose string rendering is verified identical across Spark and
# DuckDB (probed this round: md5, conv/hex-cast, date_format/strftime,
# boolean and date casts). Doubles/decimals/arrays are NOT here: their
# textual renderings are engine-specific, so results containing them
# stay on the exact value-compare path.
_SPARK_DIGEST_SAFE = {"tinyint", "smallint", "int", "bigint", "string",
                      "boolean", "date"}
_DUCK_DIGEST_SAFE = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT",
                     "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT",
                     "VARCHAR", "BOOLEAN", "DATE"}


def _spark_digest(sdf):
    """(n, d1, d2) over canonical row strings, or None if a column
    type is not digest-safe. All work stays JVM-side; the driver
    receives three scalars no matter how many rows the result has."""
    from pyspark.sql import functions as F

    cells = []
    for c, t in sorted(sdf.dtypes, key=lambda ct: ct[0].lower()):
        if t.startswith("timestamp"):
            cell = F.date_format(F.col(c), "yyyy-MM-dd HH:mm:ss.SSSSSS")
        elif t in _SPARK_DIGEST_SAFE:
            cell = F.col(c).cast("string")
        else:
            return None
        cells.append(F.coalesce(cell, F.lit("<null>")))
    h = F.md5(F.concat_ws("\x1f", *cells))
    row = sdf.select(
        F.conv(F.substring(h, 1, 15), 16, 10).cast("decimal(38,0)").alias("h1"),
        F.conv(F.substring(h, 17, 15), 16, 10).cast("decimal(38,0)").alias("h2"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("h1").alias("d1"),
        F.sum("h2").alias("d2"),
    ).collect()[0]
    return int(row[0]), int(row[1] or 0), int(row[2] or 0)


def _duck_digest(con, sql: str):
    """Same three scalars from DuckDB, or None if a column type is
    not digest-safe. DESCRIBE binds without executing, so the type
    check is free; the aggregation streams — nothing is fetched."""
    desc = con.sql(f"DESCRIBE {sql}").fetchall()
    cells = []
    for row in desc:
        cname, ctype = row[0], row[1].upper()
        q = f'"{cname}"'
        if ctype.startswith("TIMESTAMP"):
            expr = f"strftime({q}, '%Y-%m-%d %H:%M:%S.%f')"
        elif ctype in _DUCK_DIGEST_SAFE:
            expr = f"CAST({q} AS VARCHAR)"
        else:
            return None
        cells.append((cname.lower(), f"coalesce({expr}, '<null>')"))
    cells.sort(key=lambda x: x[0])
    rowexpr = "concat_ws(chr(31), " + ", ".join(e for _, e in cells) + ")"
    n, d1, d2 = con.sql(
        f"SELECT count(*), "
        f"coalesce(sum(CAST(('0x' || substr(h, 1, 15)) AS BIGINT)), 0), "
        f"coalesce(sum(CAST(('0x' || substr(h, 17, 15)) AS BIGINT)), 0) "
        f"FROM (SELECT md5({rowexpr}) AS h FROM ({sql}) t) u"
    ).fetchall()[0]
    return int(n), int(d1), int(d2)


def main() -> int:
    # line-buffer stdout even when piped to a log: long sweeps must
    # stream their OK/FAIL/TIMEOUT lines, not batch them per 4 KiB
    sys.stdout.reconfigure(line_buffering=True)
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--digest-threshold", type=int, default=2_000_000,
        help="results larger than this compare by exact in-engine "
             "digest (count + md5-slice sums) instead of collecting",
    )
    ap.add_argument(
        "--per-query-timeout", type=float, default=0.0,
        help="seconds before a single query's Spark jobs are "
             "cancelled and its DuckDB oracle interrupted; the query "
             "is recorded as TIMEOUT instead of wedging the sweep "
             "(0 = no limit)",
    )
    ap.add_argument(
        "--materialize-pairs", action="store_true",
        help="compute the shared minhash banded-LSH pair block ONCE "
             "into a DuckDB temp table and substitute it into every "
             "oracle that embeds it verbatim — a common-subexpression "
             "cache for the big-scale sweep, where 9+ CC-family "
             "oracles otherwise each re-derive the same multi-minute "
             "200M-pair set before their own closure work even "
             "starts. Pure caching: identical SQL semantics.",
    )
    ap.add_argument(
        "--duck-memory", default="",
        help="DuckDB memory_limit (e.g. 40GB). DuckDB's default is "
             "80%% of RAM, which OOM-kills the sweep process when the "
             "Spark JVM shares the box at native sf1 — a bounded "
             "limit makes DuckDB SPILL instead (temp_directory is "
             "pointed at /tmp/duckspill, outside the repo).",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as entry
    from rust_dms_cdc_operator_spark.session import (
        get_spark,
        release_persistent_rdds,
    )

    spark = get_spark(app_name="oracle-check")
    con = duckdb.connect()
    import os

    if args.duck_memory:
        os.makedirs("/tmp/duckspill", exist_ok=True)
        con.sql(f"SET memory_limit='{args.duck_memory}'")
        con.sql("SET temp_directory='/tmp/duckspill'")

    for t in TABLES:
        path = f"{args.sf_dir}/{t}.parquet"
        # Spark-written tables are DIRECTORIES of part files (e.g. the
        # native-sf1 set from tools/gen_native_sf.py): glob them so the
        # oracle sweep can run against any scale, not just the
        # single-file driver fixtures
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

    queries = entry.queries()
    oracles = entry.oracle_sql()
    # per-scale trained-artifact oracles: the five ANN oracles embed
    # sf0.01-trained literals in their static driver strings; at any
    # other --sf-dir, re-render them from the trained/ registry (if
    # generated for that tag) so the sweep is scale-independent
    from rust_dms_cdc_operator_spark.inventory import (
        oracle_sql_overrides,
    )

    overrides = oracle_sql_overrides(args.sf_dir)
    if overrides:
        print(f"(per-sf trained oracles: {sorted(overrides)})")
        oracles = {**oracles, **overrides}
    names = args.names or list(queries)
    if args.materialize_pairs:
        from rust_dms_cdc_operator_spark.inventory_llm import (
            _LSH_MAX_BUCKET,
            _minhash_sql,
        )

        materialized: set[str] = set()
        for tbl, block in (
            ("__mh_pairs_plain", _minhash_sql()),
            ("__mh_pairs_capped", _minhash_sql(16, 2, _LSH_MAX_BUCKET)),
        ):
            users = [
                n for n in names if block in oracles.get(n, "")
            ]
            if not users:
                continue
            t0 = time.time()
            con.sql(f"CREATE TEMP TABLE {tbl} AS {block}")
            materialized.add(tbl)
            n_rows = con.sql(f"SELECT count(*) FROM {tbl}").fetchall()[0][0]
            print(
                f"(materialized {tbl}: {n_rows} pairs in "
                f"{time.time() - t0:.0f}s for {len(users)} oracles)"
            )
            for n in users:
                oracles[n] = oracles[n].replace(
                    block, f"SELECT id_a, id_b FROM {tbl}"
                )
        # The lbl-closure family: the oracle's recursive frontier
        # min-label CTE is correct but infeasible single-node at
        # ~200M pairs (the frontier join re-touches the 2x-directed
        # edge set every improvement wave; measured > 50 min at
        # native sf1). Compute THE SAME function once — component id
        # = min doc_id, over exactly the cached pair set — by
        # iterative hash-to-min over temp tables (O(diameter)
        # rounds, each one join + one group-by), then substitute the
        # closure block. Different algorithm, same spec; the driver's
        # sf0.01 gate still runs the untouched recursive SQL.
        import re

        # Gate on the minhash pair cache ACTUALLY having been
        # materialized, and on the oracle's closure deriving from it
        # (its pair block was substituted above, so the text now reads
        # FROM __mh_pairs_plain). dedup_embedding_groups matches the
        # 'FROM lbl GROUP BY node' marker but closes over EMBEDDING
        # pairs, not minhash pairs — substituting would silently swap
        # its input set, and selecting it alone used to crash on the
        # missing temp table.
        cc_users = [
            n for n in names
            if "__mh_pairs_plain" in materialized
            and n in oracles
            and "FROM lbl GROUP BY node" in oracles[n]
            and "FROM __mh_pairs_plain" in oracles[n]
        ]
        if cc_users:
            t0 = time.time()
            con.sql(
                "CREATE TEMP TABLE __sym AS "
                "SELECT id_a AS a, id_b AS b FROM __mh_pairs_plain "
                "UNION ALL SELECT id_b, id_a FROM __mh_pairs_plain"
            )
            con.sql(
                "CREATE TEMP TABLE __lbl AS SELECT a AS node, "
                "least(a, min(b)) AS comp FROM __sym GROUP BY a"
            )
            for it in range(50):
                con.sql(
                    "CREATE OR REPLACE TEMP TABLE __lbl2 AS "
                    "SELECT node, min(comp) AS comp FROM ("
                    "  SELECT s.b AS node, l.comp FROM __sym s "
                    "  JOIN __lbl l ON l.node = s.a "
                    "  UNION ALL SELECT node, comp FROM __lbl"
                    ") t GROUP BY node"
                )
                changed = con.sql(
                    "SELECT count(*) FROM __lbl a JOIN __lbl2 b "
                    "USING (node) WHERE a.comp <> b.comp"
                ).fetchone()[0]
                con.sql("DROP TABLE __lbl")
                con.sql("ALTER TABLE __lbl2 RENAME TO __lbl")
                if changed == 0:
                    break
            else:
                raise RuntimeError("CC hash-to-min did not converge")
            con.sql(
                "CREATE TEMP TABLE __cc_groups AS SELECT node AS "
                "doc_id, comp AS group_id FROM __lbl"
            )
            n_cc = con.sql(
                "SELECT count(*) FROM __cc_groups"
            ).fetchone()[0]
            print(
                f"(materialized __cc_groups: {n_cc} labeled nodes, "
                f"{it + 1} rounds, {time.time() - t0:.0f}s for "
                f"{len(cc_users)} oracles)"
            )
            pat_wrap = re.compile(
                r",\s*sym AS (?:MATERIALIZED )?\(.*?,\s*(\w+) AS \(SELECT node AS "
                r"doc_id, MIN\(comp\) AS group_id\s+FROM lbl "
                r"GROUP BY node\)",
                re.S,
            )
            pat_tail = re.compile(
                r",\s*sym AS (?:MATERIALIZED )?\(.*?SELECT node AS doc_id, "
                r"MIN\(comp\) AS group_id\s+FROM lbl GROUP BY "
                r"node\s*\Z",
                re.S,
            )
            for n in cc_users:
                sql, subs = pat_wrap.subn(
                    r", \1 AS (SELECT doc_id, group_id FROM "
                    r"__cc_groups)",
                    oracles[n],
                )
                if not subs:
                    sql, subs = pat_tail.subn(
                        " SELECT doc_id, group_id FROM __cc_groups",
                        oracles[n],
                    )
                if subs:
                    oracles[n] = sql
                else:
                    print(f"(no closure substitution for {n})")
        # subset-CC loop assist (round 12, verdict item 2):
        # docs_group_split_incr / docs_group_rebuild_migration close
        # over the %4 SUBGRAPHS (prior-prior and batch-batch pairs)
        # with the same recursive min-label CTE that is infeasible
        # single-node at ~200M pairs — the r11 session left their sf1
        # completion status dangling for exactly this reason. Same
        # function, same hash-to-min trick as __cc_groups, restricted
        # to the cached pair subsets; the driver's sf0.01 gate still
        # runs the untouched recursive SQL.
        sub_users = [
            n for n in names
            if "__mh_pairs_plain" in materialized
            and n in oracles
            and "FROM plbl GROUP BY node" in oracles[n]
            and "FROM __mh_pairs_plain" in oracles[n]
        ]
        if sub_users:
            t0 = time.time()
            for tbl, cond in (
                ("__cc_prior", "id_a % 4 <> 0 AND id_b % 4 <> 0"),
                ("__cc_new", "id_a % 4 = 0 AND id_b % 4 = 0"),
            ):
                con.sql(
                    "CREATE OR REPLACE TEMP TABLE __sub_sym AS "
                    "SELECT id_a AS a, id_b AS b FROM __mh_pairs_plain "
                    f"WHERE {cond} "
                    "UNION ALL SELECT id_b, id_a FROM __mh_pairs_plain "
                    f"WHERE {cond}"
                )
                con.sql(
                    "CREATE OR REPLACE TEMP TABLE __sub_l AS "
                    "SELECT a AS node, least(a, min(b)) AS comp "
                    "FROM __sub_sym GROUP BY a"
                )
                for it in range(50):
                    con.sql(
                        "CREATE OR REPLACE TEMP TABLE __sub_l2 AS "
                        "SELECT node, min(comp) AS comp FROM ("
                        "  SELECT s.b AS node, l.comp FROM __sub_sym s "
                        "  JOIN __sub_l l ON l.node = s.a "
                        "  UNION ALL SELECT node, comp FROM __sub_l"
                        ") t GROUP BY node"
                    )
                    changed = con.sql(
                        "SELECT count(*) FROM __sub_l a JOIN __sub_l2 b "
                        "USING (node) WHERE a.comp <> b.comp"
                    ).fetchone()[0]
                    con.sql("DROP TABLE __sub_l")
                    con.sql("ALTER TABLE __sub_l2 RENAME TO __sub_l")
                    if changed == 0:
                        break
                else:
                    raise RuntimeError(
                        "subset-CC hash-to-min did not converge"
                    )
                con.sql(
                    f"CREATE OR REPLACE TEMP TABLE {tbl} AS "
                    "SELECT node AS doc_id, comp FROM __sub_l"
                )
            print(
                f"(materialized __cc_prior/__cc_new: "
                f"{time.time() - t0:.0f}s for {len(sub_users)} oracles)"
            )
            pat_prior = re.compile(
                r"ppair AS MATERIALIZED \(.*?FROM plbl GROUP BY "
                r"node\),",
                re.S,
            )
            pat_new = re.compile(
                r"npair AS MATERIALIZED \(.*?FROM nlbl GROUP BY "
                r"node\),",
                re.S,
            )
            for n in sub_users:
                sql, s1 = pat_prior.subn(
                    "pg AS (SELECT doc_id, comp AS group_id FROM "
                    "__cc_prior),",
                    oracles[n],
                )
                sql, s2 = pat_new.subn(
                    "ng AS (SELECT doc_id, comp FROM __cc_new),", sql
                )
                if s1 and s2:
                    oracles[n] = sql
                else:
                    print(f"(no subset-closure substitution for {n})")
        # pagerank / label-prop: even with MATERIALIZED CTEs, DuckDB
        # keeps every unrolled iteration's spill files alive until the
        # STATEMENT ends — 5 iterations over the 2x-directed 200M-pair
        # edge set filled a 70 GB disk at native sf1. Run the SAME
        # per-iteration SQL (identical formulas/rounding as
        # _pagerank_oracle_sql / _lpa_oracle_sql) as separate
        # statements over temp tables, so each round's spill is freed
        # before the next. The driver's sf0.01 gate still runs the
        # untouched single-statement SQL.
        if (
            "dedup_pagerank" in names
            and "dedup_pagerank" in oracles
            and "__mh_pairs_plain" in materialized
            and "FROM __mh_pairs_plain" in oracles["dedup_pagerank"]
        ):
            t0 = time.time()
            con.sql(
                "CREATE TEMP TABLE __pr_bi AS "
                "SELECT id_a AS src, id_b AS dst FROM __mh_pairs_plain "
                "UNION ALL SELECT id_b, id_a FROM __mh_pairs_plain"
            )
            con.sql(
                "CREATE TEMP TABLE __pr_deg AS SELECT src, "
                "CAST(count(*) AS BIGINT) AS deg FROM __pr_bi GROUP BY src"
            )
            con.sql(
                "CREATE TEMP TABLE __pr_p AS SELECT src, round(1.0 / "
                "(SELECT count(*)::DOUBLE FROM __pr_deg), 9) AS pr "
                "FROM __pr_deg"
            )
            for _ in range(5):
                con.sql(
                    "CREATE OR REPLACE TEMP TABLE __pr_p2 AS "
                    "SELECT b.dst AS src, round((1.0 - 0.85) / "
                    "(SELECT count(*)::DOUBLE FROM __pr_deg) "
                    "+ 0.85 * sum(p.pr / d.deg), 9) AS pr "
                    "FROM __pr_bi b JOIN __pr_p p ON b.src = p.src "
                    "JOIN __pr_deg d ON b.src = d.src GROUP BY b.dst"
                )
                con.sql("DROP TABLE __pr_p")
                con.sql("ALTER TABLE __pr_p2 RENAME TO __pr_p")
            oracles["dedup_pagerank"] = "SELECT src AS v, pr FROM __pr_p"
            print(f"(pagerank loop assist: {time.time() - t0:.0f}s)")
        if ("dedup_label_propagation" in names
                and "dedup_label_propagation" in oracles
                and "__mh_pairs_plain" in materialized
                and "FROM __mh_pairs_plain"
                in oracles["dedup_label_propagation"]):
            t0 = time.time()
            con.sql(
                "CREATE TEMP TABLE __lp_sym AS "
                "SELECT id_a AS a, id_b AS b FROM __mh_pairs_plain "
                "UNION SELECT id_b, id_a FROM __mh_pairs_plain"
            )
            con.sql(
                "CREATE TEMP TABLE __lp_l AS "
                "SELECT DISTINCT a AS v, a AS label FROM __lp_sym"
            )
            for _ in range(3):
                con.sql(
                    "CREATE OR REPLACE TEMP TABLE __lp_l2 AS "
                    "SELECT v, label FROM ("
                    "  SELECT v, label, row_number() OVER ("
                    "    PARTITION BY v ORDER BY c DESC, label ASC) AS rn"
                    "  FROM (SELECT s.b AS v, l.label, count(*) AS c "
                    "        FROM __lp_sym s JOIN __lp_l l ON l.v = s.a "
                    "        GROUP BY 1, 2)) WHERE rn = 1"
                )
                con.sql("DROP TABLE __lp_l")
                con.sql("ALTER TABLE __lp_l2 RENAME TO __lp_l")
            oracles["dedup_label_propagation"] = (
                "SELECT v, label FROM __lp_l"
            )
            print(f"(label-prop loop assist: {time.time() - t0:.0f}s)")
        # kcore: the unrolled 4-sweep MATERIALIZED chain keeps every
        # 400M-row generation g0..g4 alive until the STATEMENT ends,
        # and the final generations' hash builds request monolithic
        # multi-GB allocations that cannot spill mid-allocation —
        # measured OOM at native sf1 even under a 100GB memory_limit.
        # Run the SAME peel schedule (k=2, 4 sweeps — the committed
        # oracle's constants) as separate per-sweep temp-table
        # statements, dropping each prior generation first. Same
        # function, same constants; the driver's sf0.01 gate still
        # runs the untouched single-statement SQL.
        if ("dedup_kcore" in names and "dedup_kcore" in oracles
                and "__mh_pairs_plain" in materialized
                and "FROM __mh_pairs_plain" in oracles["dedup_kcore"]):
            t0 = time.time()
            con.sql(
                "CREATE TEMP TABLE __kc_g AS "
                "SELECT id_a AS src, id_b AS dst FROM ("
                "  SELECT DISTINCT id_a, id_b FROM __mh_pairs_plain) "
                "UNION ALL "
                "SELECT id_b, id_a FROM ("
                "  SELECT DISTINCT id_a, id_b FROM __mh_pairs_plain)"
            )
            for _ in range(4):
                con.sql(
                    "CREATE TEMP TABLE __kc_k AS SELECT src FROM __kc_g "
                    "GROUP BY src HAVING count(*) >= 2"
                )
                con.sql(
                    "CREATE TEMP TABLE __kc_g2 AS "
                    "SELECT g.src, g.dst FROM __kc_g g "
                    "JOIN __kc_k a ON g.src = a.src "
                    "JOIN __kc_k b ON g.dst = b.src"
                )
                con.sql("DROP TABLE __kc_g")
                con.sql("DROP TABLE __kc_k")
                con.sql("ALTER TABLE __kc_g2 RENAME TO __kc_g")
            oracles["dedup_kcore"] = (
                "SELECT src AS node, CAST(count(*) AS BIGINT) AS core_deg "
                "FROM __kc_g GROUP BY src"
            )
            print(f"(kcore loop assist: {time.time() - t0:.0f}s)")
    failures = []
    timeouts = []
    n_digest = 0
    for name in names:
        t0 = time.time()
        # per-query watchdog: past the deadline, cancel the Spark jobs
        # AND interrupt the DuckDB oracle — the query is recorded as
        # TIMEOUT and the sweep moves on (a 200M-edge recursive-CTE
        # oracle must not wedge the other 150 checks)
        fired = {"t": False}
        timer = None
        if args.per_query_timeout > 0:
            import threading

            def _fire(f=fired):
                f["t"] = True
                try:
                    spark.sparkContext.cancelAllJobs()
                except Exception:  # noqa: BLE001
                    pass
                try:
                    con.interrupt()
                except Exception:  # noqa: BLE001
                    pass

            timer = threading.Timer(args.per_query_timeout, _fire)
            timer.daemon = True
            timer.start()

        def _bail(kind: str, e: Exception) -> None:
            if fired["t"]:
                timeouts.append(name)
                print(f"TIMEOUT  {name}: exceeded "
                      f"{args.per_query_timeout:.0f}s ({kind} phase)")
            else:
                failures.append(name)
                print(f"FAIL  {name}: {kind} error: {e}")

        def _run_one() -> None:
            nonlocal n_digest
            try:
                sdf = queries[name](spark, args.sf_dir)
                s_cols = sdf.columns
                sdf = sdf.persist()
                n_s = sdf.count()
            except Exception as e:  # noqa: BLE001
                _bail("spark", e)
                return
            if n_s > args.digest_threshold and name in oracles:
                # digest path: three scalars per engine, never collected
                try:
                    sd = _spark_digest(sdf)
                    sdf.unpersist()
                    if sd is None:
                        failures.append(name)
                        print(f"FAIL  {name}: {n_s} rows but result has "
                              "digest-unsafe column types (double/"
                              "decimal/array) — cannot compare at this "
                              "scale")
                        return
                    dd = _duck_digest(con, oracles[name])
                    if dd is None:
                        failures.append(name)
                        print(f"FAIL  {name}: oracle has digest-unsafe "
                              f"column types at {n_s} rows")
                        return
                except Exception as e:  # noqa: BLE001
                    _bail("digest", e)
                    return
                n_digest += 1
                if sd == dd:
                    print(f"OK    {name}: {n_s} rows (exact digest "
                          f"{sd[1]:x}/{sd[2]:x})  ({time.time()-t0:.1f}s)")
                else:
                    failures.append(name)
                    print(f"FAIL  {name}: digest mismatch spark={sd} "
                          f"duckdb={dd}")
                return
            try:
                s_rows = [tuple(r) for r in sdf.collect()]
                sdf.unpersist()
            except Exception as e:  # noqa: BLE001
                _bail("spark", e)
                return
            if name not in oracles:
                print(f"ROWS  {name}: {len(s_rows)} rows "
                      "(no oracle, rows-only)")
                return
            try:
                rel = con.sql(oracles[name])
                d_cols = [c.lower() for c in rel.columns]
                d_rows = rel.fetchall()
            except Exception as e:  # noqa: BLE001
                _bail("duckdb", e)
                return

            ok = True
            if sorted(c.lower() for c in s_cols) != sorted(d_cols):
                ok = False
                print(f"FAIL  {name}: columns {sorted(s_cols)} "
                      f"vs {sorted(d_cols)}")
            elif len(s_rows) != len(d_rows):
                ok = False
                print(f"FAIL  {name}: rowcount {len(s_rows)} "
                      f"vs {len(d_rows)}")
            else:
                cs = canon_rows([c.lower() for c in s_cols], s_rows)
                cd = canon_rows(d_cols, d_rows)
                if cs != cd:
                    ok = False
                    bad = next(
                        i for i in range(len(cs)) if cs[i] != cd[i]
                    )
                    print(f"FAIL  {name}: first differing row #{bad}:")
                    print(f"      spark : {cs[bad]}")
                    print(f"      duckdb: {cd[bad]}")
            if ok:
                print(f"OK    {name}: {len(s_rows)} rows  "
                      f"({time.time()-t0:.1f}s)")
            else:
                failures.append(name)

        try:
            _run_one()
        finally:
            if timer is not None:
                timer.cancel()
            # bench.py's per-query hygiene, applied to the sweep too:
            # operators own persist() lifetimes only within one query
            # (minhash keyed tables, band-tuning candidate streams,
            # graph adjacencies) — at sf1 letting 150+ queries stack
            # those caches pressures execution memory until the JVM
            # dies mid-sweep (observed: INTERNAL_ERROR at query ~86)
            try:
                spark.catalog.clearCache()
                release_persistent_rdds(spark)
            except Exception:  # noqa: BLE001
                pass

    extra = f" ({n_digest} via exact digest)" if n_digest else ""
    skipped = f", {len(timeouts)} TIMEOUT: {timeouts}" if timeouts else ""
    print(f"\n{len(names) - len(failures) - len(timeouts)}/{len(names)} "
          f"queries match{extra}{skipped}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
