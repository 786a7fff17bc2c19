"""Round-12 optimization harness: time named queries through the noop
sink (guide §1.4) on the bench session and dump their formatted plans.

Usage:
    python tools/profile_queries.py [--plans-dir plans/r12] \
        [--suffix before] [--repeat 1] [--sf-dir /root/testdata/sf0.1] \
        [name ...]

Each query runs exactly like bench.py does (same session, same noop
sink, cache cleared between queries, job description labeled per
guide §1.5). With no names, every registered query runs. Per-query
wall, JVM cpu seconds and Janino compile count per rep print as one
JSON line at the end, followed by a line with the total compile count
and the JVM heap and Metaspace used after the pass. With --plans-dir,
each query's .explain("formatted") is written to
<plans-dir>/<name>_<suffix>.txt (the round-12 deliverable).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

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
    from bench import _jvm_cpu_secs
    from rust_dms_cdc_operator_spark.inventory import QUERIES
    from rust_dms_cdc_operator_spark.inventory_llm import prepare_bench
    from rust_dms_cdc_operator_spark.session import (
        codegen_compiles,
        get_spark,
        release_persistent_rdds,
    )

    spark = get_spark(app_name="profile")
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(1).mapInPandas(lambda it: it, "id long").collect()
    from rust_dms_cdc_operator_spark.session import local_relation
    local_relation(spark, [(1,)], "x long").collect()
    prepare_bench(spark, args.sf_dir)

    out: dict[str, list] = {}
    compiles_start = codegen_compiles(spark)
    for name in args.names or list(QUERIES):
        walls, cpus, compiles = [], [], []
        for i in range(args.repeat):
            spark.sparkContext.setJobDescription(f"{name} [rep {i}]")
            c0 = _jvm_cpu_secs(spark)
            k0 = codegen_compiles(spark)
            t0 = time.time()
            df = QUERIES[name](spark, args.sf_dir)
            df.write.format("noop").mode("overwrite").save()
            walls.append(round(time.time() - t0, 3))
            cpus.append(round(_jvm_cpu_secs(spark) - c0, 3))
            compiles.append(codegen_compiles(spark) - k0)
            spark.catalog.clearCache()
            release_persistent_rdds(spark)
            spark.sparkContext.setJobDescription(None)
        out[name] = [walls, cpus, compiles]
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
            f"DONE {name}: wall={walls} cpu={cpus} compiles={compiles}",
            flush=True,
        )
    print(json.dumps(out))
    print(json.dumps({
        "compiles": codegen_compiles(spark) - compiles_start,
        **_jvm_memory_mb(spark),
    }))


if __name__ == "__main__":
    main()
