"""Optimization harness: time named queries through the noop sink on
the bench session and dump their formatted plans.

Usage:
    python tools/profile_queries.py [--plans-dir plans/r12] \
        [--suffix before] [--repeat 1] [--sf-dir /root/testdata/sf0.1] \
        [name ...]

Each query runs through bench.py's own warm-up and measurement loop
(``_warm``, ``_run_query``: same session, same noop sink, caches and
persisted RDDs freed between queries), with the job description
labeled per query and rep. With no names, every registered query runs.
Per-query wall, JVM cpu seconds, Janino compile count and JIT compile
seconds per rep print as one JSON line at the end, followed by a line
with the total compile count, the total JIT seconds and the JVM heap
and Metaspace used after the pass. With --plans-dir,
each query's .explain("formatted") is written to
<plans-dir>/<name>_<suffix>.txt.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _jvm_memory_mb(spark) -> dict[str, float]:
    """Used heap (after a full GC) and Metaspace of the driver JVM, in MB."""
    spark._jvm.java.lang.System.gc()
    mf = spark._jvm.java.lang.management.ManagementFactory
    out = {"heap_used_mb": mf.getMemoryMXBean().getHeapMemoryUsage().getUsed()}
    for pool in mf.getMemoryPoolMXBeans():
        if pool.getName() == "Metaspace":
            out["metaspace_used_mb"] = pool.getUsage().getUsed()
    return {k: round(v / 2**20, 1) for k, v in out.items()}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--repeat", type=int, default=1)
    args = ap.parse_args()

    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    from bench import _run_query, _warm
    from rust_dms_cdc_operator_spark.inventory import QUERIES
    from rust_dms_cdc_operator_spark.session import (
        codegen_compiles,
        get_spark,
        jit_compile_s,
    )

    spark = get_spark(app_name="profile")
    _warm(spark, args.sf_dir)

    out: dict[str, list] = {}
    compiles_start, jit_start = codegen_compiles(spark), jit_compile_s(spark)
    for name in args.names or list(QUERIES):
        walls, cpus, compiles, jits = [], [], [], []
        for i in range(args.repeat):
            spark.sparkContext.setJobDescription(f"{name} [rep {i}]")
            k0, j0 = codegen_compiles(spark), jit_compile_s(spark)
            wall, cpu, _steal = _run_query(spark, QUERIES[name], args.sf_dir)
            walls.append(wall)
            cpus.append(cpu)
            compiles.append(codegen_compiles(spark) - k0)
            jits.append(round(jit_compile_s(spark) - j0, 3))
            spark.sparkContext.setJobDescription(None)
        out[name] = [walls, cpus, compiles, jits]
        if args.plans_dir:
            os.makedirs(args.plans_dir, exist_ok=True)
            df = QUERIES[name](spark, args.sf_dir)
            plan = spark._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(
                os.path.join(args.plans_dir, f"{name}_{args.suffix}.txt"), "w"
            ) as f:
                f.write(plan)
            spark.catalog.clearCache()
        print(
            f"DONE {name}: wall={walls} cpu={cpus} compiles={compiles} "
            f"jit_s={jits}",
            flush=True,
        )
    print(json.dumps(out))
    print(json.dumps({
        "compiles": codegen_compiles(spark) - compiles_start,
        "jit_s": round(jit_compile_s(spark) - jit_start, 3),
        **_jvm_memory_mb(spark),
    }))


if __name__ == "__main__":
    main()
