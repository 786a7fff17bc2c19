"""CDC state operators — the heart of the engine (SURVEY §2.4).

The reference replays change events imperatively, row by row, against
Postgres (/root/reference/src/cdc/cdc_operator.rs:155-217 driving
postgres_operator_impl.rs:310-436: I → INSERT, U → INSERT..ON CONFLICT
UPDATE, D → DELETE). The net effect is *keyed last-writer-wins
compaction*: for each primary key, the latest event in (file order,
row order) decides the final row, and a latest ``D`` removes the key.

Spark-first re-expression: last-writer-wins is an argmax per key, so
compaction is ONE aggregation over the union —
``groupBy(pk).agg(max_by(struct(data), struct(order)))`` then drop
``D`` rows. It compiles to a partial aggregate on the map side, one
hash exchange on the PK and a final aggregate: linear in input, no
driver materialization. A hot key (one entity absorbing a large share
of events) collapses to one row per map task before the exchange, so
skew costs O(#tasks) shuffled rows, not the key's whole history.

Deliberate semantic choices vs. the reference (SURVEY §7):
- delete detection is equality ``Op == 'D'`` (the DMS contract), not
  ``contains('D')`` (postgres_operator_impl.rs:341);
- DMS columns are selected by NAME, not position (vs :377,382).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rust_dms_cdc_operator_spark.functions.dmscols import (
    DMS_OP_COL,
    DMS_TS_COL,
    drop_dms_columns,
)
from rust_dms_cdc_operator_spark.sources.manifest import ParquetFile
from rust_dms_cdc_operator_spark.sources.reader import (
    FILE_SEQ_COL,
    IS_LOAD_COL,
    ROW_SEQ_COL,
    read_manifest,
)


def compact_cdc(
    cdc: DataFrame,
    pk_cols: Sequence[str],
    order_cols: Sequence[str] = (FILE_SEQ_COL, ROW_SEQ_COL),
    op_col: str = DMS_OP_COL,
) -> DataFrame:
    """W1 keyed last-state compaction.

    Keeps, per PK, only the row with the greatest ``order_cols`` tuple;
    a latest ``D`` deletes the key. Physically
    ``max_by(struct(data), struct(order))`` with map-side partial
    aggregation around one exchange on the PK. Column order is kept.

    Ties: rows of one key with EQUAL order tuples pick an arbitrary
    winner. The engine's replay order ``(_cdc_file_seq, _cdc_row_seq)``
    is unique, so replays never tie. Struct comparison orders NULL
    order values first, so a row with a NULL order value loses to any
    non-NULL one.

    ``op_col`` naming no column keeps ``D`` rows in the output (the
    stream merge passes such a name: a key whose last event is ``D``
    must still delete state).
    """
    if not pk_cols:
        # no PK → upsert degenerates to insert-all (reference keeps all
        # rows; table_query.rs:79-83 creates the table without a PK)
        return cdc.filter(F.col(op_col) != F.lit("D")) if op_col in cdc.columns else cdc
    others = [c for c in cdc.columns if c not in pk_cols]
    out = (
        cdc.groupBy(*[F.col(c) for c in pk_cols])
        .agg(
            F.max_by(
                F.struct(*[F.col(c) for c in others]),
                F.struct(*[F.col(c) for c in order_cols]),
            ).alias("_last")
        )
        .select(*pk_cols, *[F.col("_last").getField(c).alias(c) for c in others])
        .select(*cdc.columns)
    )
    if op_col in cdc.columns:
        out = out.filter(F.col(op_col) != F.lit("D"))
    return out


def merge_full_load_with_cdc(
    load: DataFrame,
    cdc: DataFrame,
    pk_cols: Sequence[str],
    order_cols: Sequence[str] = (FILE_SEQ_COL, ROW_SEQ_COL),
    op_col: str = DMS_OP_COL,
) -> DataFrame:
    """F2: full-load rows form base state; CDC rows override per PK.

    Implemented by ranking LOAD rows *below* every CDC row (a LOAD row
    only survives if no CDC event touched its key) and running the same
    single-shuffle W1 compaction — instead of the reference's sequential
    insert-then-upsert passes (cdc_operator.rs:173-216).
    """
    load_cols = [c for c in load.columns if c not in (DMS_OP_COL, DMS_TS_COL)]
    base = load.select(*load_cols).withColumn(op_col, F.lit("I"))
    # LOAD sorts below all CDC: precedence 0 vs 1, then the seq columns
    base = base.withColumn("_cdc_pri", F.lit(0))
    for c in order_cols:
        base = base.withColumn(c, F.col(c) if c in load.columns else F.lit(0).cast("long"))

    cdc_cols = [op_col, *load_cols, *order_cols]
    overlay = cdc.withColumn("_cdc_pri", F.lit(1)).select("_cdc_pri", *cdc_cols)
    base = base.select("_cdc_pri", *cdc_cols)

    merged = base.unionByName(overlay)
    return compact_cdc(
        merged, pk_cols, order_cols=["_cdc_pri", *order_cols], op_col=op_col
    ).drop("_cdc_pri", *order_cols, op_col)


def upsert(
    target: DataFrame, source: DataFrame, pk_cols: Sequence[str]
) -> DataFrame:
    """U1 keyed upsert as a DataFrame op: source rows win on PK clash,
    non-matched target rows survive (the batch equivalent of
    ``INSERT .. ON CONFLICT (pk) DO UPDATE``,
    postgres_operator_impl.rs:389-417)."""
    cols = target.columns
    survivors = target.join(source.select(*pk_cols), list(pk_cols), "left_anti")
    return survivors.unionByName(source.select(*cols))


def apply_deletes(
    target: DataFrame, deletes: DataFrame, pk_cols: Sequence[str]
) -> DataFrame:
    """D1 keyed delete as an anti-join (the batch equivalent of
    ``DELETE FROM t WHERE (pk..) = (vals..)``,
    postgres_operator_impl.rs:349-365)."""
    return target.join(deletes.select(*pk_cols), list(pk_cols), "left_anti")


def replay_manifest(
    spark: SparkSession,
    root: str,
    files: list[ParquetFile],
    pk_cols: Sequence[str],
    strict_schema_check: bool = True,
    source_columns: Sequence[str] | None = None,
    merge_schema: bool = False,
    fmt: str = "parquet",
    schema=None,
    csv_options: dict[str, str] | None = None,
) -> DataFrame:
    """End-to-end table rebuild: ordered manifest → single scan →
    LOAD ∪ CDC compaction → final state (no DMS columns).

    Schema-drift check (P3, cdc_operator.rs:177-185): every Parquet
    column other than the two DMS columns must exist in
    ``source_columns`` when given, else raise (pass
    ``merge_schema=True`` so drift columns surface in the scan schema).

    ``fmt="csv"`` replays DMS CSV-format drops (see
    ``sources.reader.read_manifest``).
    """
    df = read_manifest(
        spark,
        root,
        files,
        merge_schema=merge_schema,
        fmt=fmt,
        schema=schema,
        csv_options=csv_options,
    )
    data_cols = [
        c
        for c in df.columns
        if c not in (DMS_OP_COL, DMS_TS_COL, FILE_SEQ_COL, ROW_SEQ_COL, IS_LOAD_COL)
    ]
    if strict_schema_check and source_columns is not None:
        extra = set(data_cols) - set(source_columns)
        if extra:
            raise ValueError(
                f"schema drift: parquet columns {sorted(extra)} missing from "
                "source table (reference panics, cdc_operator.rs:177-185)"
            )

    has_op = DMS_OP_COL in df.columns
    if not has_op:
        # pure full-load drop: final state is just the rows
        return drop_dms_columns(df).drop(FILE_SEQ_COL, ROW_SEQ_COL, IS_LOAD_COL)

    # SINGLE-PASS merge: the manifest orders LOAD files before CDC files,
    # so (file_seq, row_seq) already ranks every LOAD row below every CDC
    # row — no LOAD/CDC split, no union, ONE scan of the files. LOAD rows
    # have no Op semantics (treated as inserts, postgres_operator_impl.rs:
    # 173-198), so their Op is normalized to 'I'.
    unified = df.withColumn(
        DMS_OP_COL,
        F.when(F.col(IS_LOAD_COL), F.lit("I")).otherwise(F.col(DMS_OP_COL)),
    )
    if not pk_cols:
        return unified.filter(F.col(DMS_OP_COL) != "D").select(*data_cols)
    return compact_cdc(unified, pk_cols).select(*data_cols)
