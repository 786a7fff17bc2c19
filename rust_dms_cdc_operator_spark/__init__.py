"""PySpark-native CDC analytics engine.

A brand-new engine with the query and data-processing capabilities of
``nikoshet/rust-dms-cdc-operator`` (reference at /root/reference,
surveyed in SURVEY.md): replay AWS-DMS-style full-load + CDC Parquet
files into table state, sink that state to Postgres, and validate
source vs. target with chunked PK-ordered hash diffing — expressed
Spark-first (DataFrame scans, ``max_by`` aggregation compaction,
hash-aggregate diff joins, JDBC sinks), plus a large-scale
training-data operator pack (dedup, similarity search, text analysis,
multimodal columns).
"""

from rust_dms_cdc_operator_spark.engine import CdcEngine
from rust_dms_cdc_operator_spark.payloads import (
    CdcSnapshotPayload,
    CdcValidatePayload,
    LoadMode,
    TableMode,
)
from rust_dms_cdc_operator_spark.session import get_spark

__all__ = [
    "CdcEngine",
    "CdcSnapshotPayload",
    "CdcValidatePayload",
    "LoadMode",
    "TableMode",
    "get_spark",
]

__version__ = "0.1.0"
