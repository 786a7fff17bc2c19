"""Lint the DuckDB oracle surface for cross-engine value-rendering traps.

Round-4 verdict item 6: a bare ``sum(INTEGER)`` in DuckDB returns HUGEINT
(Arrow decimal128), whose canonical rendering differs from Spark's BIGINT
even when the values are equal — this silently failed the driver's hash
compare for ``q12_shipmode_priority`` while the local gate masked it by
coercing both sides through ``float``.  Two defenses now:

1. ``canon_cell`` renders Decimals distinctly from int/float (regression
   tests below), so the local gate fails loudly on type skew.
2. This lint DESCRIBEs every oracle against the sf0.001 views and rejects
   any DECIMAL / HUGEINT result column outright — stronger than regex
   parsing the SQL for bare aggregates, because it checks what DuckDB
   actually infers.
"""

from __future__ import annotations

import os
import sys
from decimal import Decimal

import duckdb
import pytest

sys.path.insert(0, "/root/repo")

SF_DIR = os.environ.get("SPARK_GRAFT_LINT_SF", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]
BANNED = ("DECIMAL", "HUGEINT")


def _oracles() -> dict[str, str]:
    import __spark_entry__ as entry

    return entry.oracle_sql()


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return c


def test_every_query_has_an_oracle_or_is_documented():
    import __spark_entry__ as entry

    queries = set(entry.queries())
    oracles = set(entry.oracle_sql())
    assert oracles <= queries, f"orphan oracles: {sorted(oracles - queries)}"


def test_no_decimal_or_hugeint_oracle_columns(con):
    bad: list[str] = []
    for name, sql in _oracles().items():
        rel = con.sql(sql)
        for col, typ in zip(rel.columns, rel.types):
            t = str(typ).upper()
            if any(b in t for b in BANNED):
                bad.append(f"{name}.{col}: {t}")
    assert not bad, (
        "oracle columns with engine-skewed types (wrap in CAST(... AS "
        "BIGINT/DOUBLE)): " + "; ".join(bad)
    )


def test_canon_cell_distinguishes_decimal_from_int():
    from tools.check_oracle import canon_cell

    assert canon_cell(Decimal("123")) != canon_cell(123)
    assert canon_cell(Decimal("123.000")) != canon_cell(123.0)


def test_canon_cell_normalizes_decimal_scale():
    from tools.check_oracle import canon_cell

    assert canon_cell(Decimal("1.50")) == canon_cell(Decimal("1.5"))
    assert canon_cell(Decimal("123.000")) == canon_cell(Decimal("123"))
    # no scientific notation leakage for large/small values
    assert canon_cell(Decimal("1230000000")).endswith("1230000000")
    assert canon_cell(Decimal("1.23E+9")).endswith("1230000000")


def test_check_oracle_imports_its_own_checkout(tmp_path):
    """check_oracle puts the root of the checkout it lives in first on
    sys.path, so a copy of the repository (an A/B checkout) checks its
    own package, not another one."""
    import shutil
    import subprocess

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    (tmp_path / "tools").mkdir()
    shutil.copy(os.path.join(root, "tools", "check_oracle.py"), tmp_path / "tools")
    out = subprocess.run(
        [sys.executable, "-c", "import sys, check_oracle; print(sys.path[0])"],
        cwd=tmp_path / "tools", capture_output=True, text=True, check=True,
    )
    assert out.stdout.strip() == str(tmp_path)


def test_no_duplicate_query_registrations():
    """Round-10 regression guard: module-level registration is
    latest-wins (``QUERIES_LLM[k] = ...`` and ``def q_x`` both shadow
    silently), so a same-key re-definition REPLACES an existing
    query's semantics instead of failing — exactly what happened when
    a duplicate events_markov_transitions was appended this round
    (caught only by the sweep count). Gate: every query/oracle key
    and every top-level ``def`` in the inventory modules is defined
    exactly once."""
    import ast
    import os
    from collections import Counter

    pkg = os.path.join(os.path.dirname(__file__), "..",
                       "rust_dms_cdc_operator_spark")
    for mod in ("inventory.py", "inventory_tpch2.py", "inventory_llm.py"):
        tree = ast.parse(open(os.path.join(pkg, mod)).read())
        keys: Counter = Counter()
        defs: Counter = Counter()
        registries = ("QUERIES_LLM", "ORACLE_SQL_LLM",
                      "QUERIES", "ORACLE_SQL")
        for node in ast.walk(tree):
            if isinstance(node, ast.Assign):
                for t in node.targets:
                    if (isinstance(t, ast.Subscript)
                            and isinstance(t.value, ast.Name)
                            and t.value.id in registries
                            and isinstance(t.slice, ast.Constant)):
                        keys[(t.value.id, t.slice.value)] += 1
                    # a dict literal initializing a registry counts
                    # toward the same namespace as later subscript
                    # assignments — `REG = {"k": f}` + `REG["k"] = g`
                    # is the same latest-wins shadow (the
                    # docs_weighted_sample case, found by this lint)
                    if (isinstance(t, ast.Name) and t.id in registries
                            and isinstance(node.value, ast.Dict)):
                        for k in node.value.keys:
                            if isinstance(k, ast.Constant) and isinstance(
                                    k.value, str):
                                keys[(t.id, k.value)] += 1
            elif isinstance(node, ast.Dict):
                # duplicate keys INSIDE one dict literal are the
                # silent latest-wins case; the same key across two
                # different dicts (QUERIES vs ORACLE_SQL) is normal
                inner = Counter(
                    k.value for k in node.keys
                    if isinstance(k, ast.Constant)
                    and isinstance(k.value, str)
                )
                dup_inner = {k: n for k, n in inner.items() if n > 1}
                assert not dup_inner, (mod, "dict literal", dup_inner)
        for node in tree.body:  # top-level defs only
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs[node.name] += 1
        dup_keys = {k: n for k, n in keys.items() if n > 1}
        dup_defs = {k: n for k, n in defs.items() if n > 1}
        assert not dup_keys, (mod, dup_keys)
        assert not dup_defs, (mod, dup_defs)
