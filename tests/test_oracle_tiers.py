"""Round 12 (verdict item 6): ORACLE_TIERS.json is the machine-readable
panel-extension map the driver reads to grow its CORRECTNESS key set.
Pin its contract: every key is a real queries() entry WITH a DuckDB
oracle, the tiers never repeat a key, and tier1 actually extends the
recorded driver panel instead of duplicating it."""

from __future__ import annotations

import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_oracle_tiers_contract():
    from rust_dms_cdc_operator_spark.inventory import ORACLE_SQL, QUERIES

    with open(os.path.join(REPO, "ORACLE_TIERS.json")) as f:
        tiers = json.load(f)
    t1 = [k for ks in tiers["tier1_flagship"].values() for k in ks]
    t2 = [k for ks in tiers["tier2_depth"].values() for k in ks]
    panel = [
        k for ks in tiers["already_in_driver_panel"].values() for k in ks
    ]
    for name, keys in (("t1", t1), ("t2", t2), ("panel", panel)):
        missing = [k for k in keys if k not in QUERIES]
        assert not missing, (name, missing)
        no_oracle = [k for k in keys if k not in ORACLE_SQL]
        assert not no_oracle, (name, no_oracle)
    assert len(t1) == len(set(t1))
    assert len(t2) == len(set(t2))
    assert not (set(t1) & set(t2))
    # tier1/tier2 EXTEND the recorded panel (no duplication)
    assert not ((set(t1) | set(t2)) & set(panel))
    # the recorded panel matches the round-11 driver CORRECTNESS artifact
    with open(os.path.join(REPO, "CORRECTNESS_r11.json")) as f:
        driver = set(json.load(f))
    assert set(panel) == driver
