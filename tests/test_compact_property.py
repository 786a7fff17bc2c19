"""Property-based check of the core CDC semantics (W1).

Hypothesis generates random event sequences (I/U/D over a small key
space); a pure-Python sequential replay — the reference's imperative
apply order (cdc_operator.rs:155-217) — produces the expected final
state; the Spark compaction must agree. All generated scenarios
are unioned into ONE DataFrame keyed by scenario id and compacted in a
single Spark job (pk = (scenario, key)), so the property runs at
fixture speed instead of one Spark job per example.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from rust_dms_cdc_operator_spark.operators.compact import compact_cdc

OPS = st.sampled_from(["I", "U", "D"])
EVENT = st.tuples(OPS, st.integers(min_value=0, max_value=7), st.text("ab", max_size=2))
SCENARIO = st.lists(EVENT, min_size=0, max_size=30)


def python_replay(events: list[tuple[str, int, str]]) -> dict[int, str]:
    """The reference's sequential row-by-row apply: I/U upsert, D
    deletes (exact semantics of postgres_operator_impl.rs:310-436 with
    the engine's documented Op == 'D' equality choice)."""
    state: dict[int, str] = {}
    for op, key, val in events:
        if op == "D":
            state.pop(key, None)
        else:
            state[key] = val
    return state


@settings(max_examples=3, deadline=None, derandomize=True)
@given(st.lists(SCENARIO, min_size=40, max_size=40))
def test_compaction_equals_sequential_replay(spark, scenarios):
    rows = []
    expected: dict[tuple[int, int], str] = {}
    for sid, events in enumerate(scenarios):
        for seq, (op, key, val) in enumerate(events):
            rows.append((sid, op, key, val, seq))
        for key, val in python_replay(events).items():
            expected[(sid, key)] = val
    if not rows:
        return
    df = spark.createDataFrame(
        rows, "sc int, Op string, k int, v string, seq long"
    )
    out = compact_cdc(df, ["sc", "k"], order_cols=["seq"])
    got = {(r.sc, r.k): r.v for r in out.collect()}
    assert got == expected


@settings(max_examples=3, deadline=None, derandomize=True)
@given(
    st.lists(  # 2-3 microbatches of events over a small key space
        st.lists(
            st.tuples(OPS, st.integers(0, 5), st.text("ab", max_size=2)),
            min_size=1, max_size=8,
        ),
        min_size=2, max_size=3,
    )
)
def test_bucketed_state_machine_equals_sequential_replay(spark, tmp_path_factory, batches):
    """The manifest-committed state machine, driven with random
    microbatch sequences, must equal the reference's sequential
    row-by-row apply. Exercises multi-epoch commits, bucket deletes,
    and GC under arbitrary op interleavings."""
    from pyspark.sql import types as T

    from rust_dms_cdc_operator_spark.streaming.cdc_stream import (
        BucketedParquetState,
    )

    schema = T.StructType(
        [
            T.StructField("Op", T.StringType()),
            T.StructField("id", T.LongType()),
            T.StructField("val", T.StringType()),
            T.StructField("seq", T.LongType()),
        ]
    )
    store = BucketedParquetState(
        str(tmp_path_factory.mktemp("prop") / "state"), ["id"], 4
    )
    seq = 0
    flat: list[tuple[str, int, str]] = []
    for batch in batches:
        rows = []
        for op, key, val in batch:
            rows.append((op, key, val, seq))
            flat.append((op, key, val))
            seq += 1
        store.merge_batch(
            spark.createDataFrame(rows, schema=schema), order_cols=["seq"]
        )
    want = python_replay(flat)
    got = {r.id: r.val for r in store.read(spark).collect()}
    assert got == want, (got, want, flat)
