"""Session helpers: byte-size conf parsing, Python-worker imports and
the generated-code class cache."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

from rust_dms_cdc_operator_spark.inventory_llm import _conf_bytes
from rust_dms_cdc_operator_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    codegen_compiles,
    jit_compile_s,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize(
    ("raw", "want"),
    [
        ("1t", 1 << 40),
        ("2p", 2 << 50),
        ("64MB", 64 << 20),
        ("134217728b", 134_217_728),
        ("garbage", 64 << 20),
    ],
)
def test_conf_bytes_suffixes_and_fallback(raw, want):
    assert _conf_bytes(raw) == want


def test_reader_conf_fallback_parses_units(spark):
    """Without the JVM getter, the reader parses the conf string with
    its unit instead of keeping only the digits."""
    from rust_dms_cdc_operator_spark.sources import reader

    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "128m")
    try:
        got = reader._conf_bytes(spark, "noSuchGetter", key, 1)
    finally:
        spark.conf.set(key, old)
    assert got == 128 << 20


def test_python_worker_imports_package_from_any_cwd(tmp_path):
    """A driver started outside the repository, with the package on
    its own sys.path only, runs a Python UDF that imports the package."""
    script = tmp_path / "udf_import.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from pyspark.sql import functions as F
        from rust_dms_cdc_operator_spark.session import get_spark

        spark = get_spark(app_name="worker-import", master="local[1]",
                          shuffle_partitions=1)

        @F.udf("string")
        def package_name(_):
            import rust_dms_cdc_operator_spark
            return rust_dms_cdc_operator_spark.__name__

        print("UDF:" + spark.range(1).select(package_name("id")).first()[0])
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert "UDF:rust_dms_cdc_operator_spark" in out.stdout, out.stderr[-3000:]


def test_repeated_pass_reuses_generated_classes(spark):
    """A pass generating more distinct classes than Spark's default
    cache (100) compiles nothing when it runs a second time."""
    from pyspark.sql import functions as F

    key = "spark.sql.codegen.cache.maxEntries"
    assert spark.conf.get(key) == str(CODEGEN_CACHE_ENTRIES)

    def one_pass():
        # a distinct literal per query: one distinct generated class each
        for i in range(120):
            spark.range(8).select(F.col("id") + i).collect()

    c0 = codegen_compiles(spark)
    one_pass()
    c1 = codegen_compiles(spark)
    one_pass()
    c2 = codegen_compiles(spark)
    assert c1 - c0 > 100
    assert c2 - c1 == 0


def test_jit_compile_seconds_grow_across_a_first_query(spark):
    """The driver JVM's JIT time is readable and a first query, whose
    generated classes the JVM has never run, adds to it."""
    import uuid

    from pyspark.sql import functions as F

    j0 = jit_compile_s(spark)
    assert j0 >= 0
    # a literal no other query used: a class the JIT has never compiled
    salt = uuid.uuid4().int % 1_000_003
    spark.range(3_000_000).select(
        (F.col("id") * F.lit(salt) % F.lit(7919)).alias("x")
    ).agg(F.sum("x")).collect()
    assert jit_compile_s(spark) > j0


def test_extra_conf_overrides_codegen_cache_size(tmp_path):
    script = tmp_path / "codegen_cache_conf.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from rust_dms_cdc_operator_spark.session import get_spark

        key = "spark.sql.codegen.cache.maxEntries"
        spark = get_spark(app_name="codegen-conf", master="local[1]",
                          shuffle_partitions=1, extra_conf={{key: "7"}})
        print("MAX:" + spark.conf.get(key))
        spark.stop()
    """))
    out = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path,
        capture_output=True, text=True, timeout=600,
    )
    assert "MAX:7" in out.stdout, out.stderr[-3000:]
