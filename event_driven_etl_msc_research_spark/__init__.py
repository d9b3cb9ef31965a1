"""event_driven_etl_msc_research_spark — a PySpark-native CDC / incremental-ingest engine.

Re-expresses the capabilities of the reference repo
``azeemj/event-driven-etl-msc-research`` (an AWS Lambda / Step Functions
chunk-parallel ETL pipeline) as an idiomatic Spark Structured Streaming
engine:

* binlog/WAL-style change events over multi-turn conversation transcripts
  ``(conv_id, turn_idx, role, text, tool, ts)``;
* per-key ``(ts, lsn)`` max-version dedup (one ``max_by`` aggregate);
* exactly-once, idempotent MERGE into a manifest-tracked Parquet table
  (Iceberg-style snapshots, additive schema evolution, time travel);
* resumable from checkpoint; per-epoch/partition lineage + metrics.

The reference correlates stages by S3 path naming + DynamoDB tracking rows
(``DataSplit.py:58-83``, ``Phase3-Data-Extraction.py:100-136``); here the
equivalents are the commit manifest (``sinks/manifest.py``) and the lineage
table (``lineage.py``).  See SURVEY.md for the full mapping.
"""

from .schemas import (
    CHANGE_EVENT_SCHEMA,
    CHANGE_EVENT_SCHEMA_EVOLVED,
    TRANSCRIPT_SCHEMA,
)
from .session import get_spark
from .operators.dedup import dedup_latest
from .sinks.derived import DerivedTable
from .sinks.manifest import (
    ConstraintViolationError,
    ManifestConflict,
    ManifestTable,
    SchemaEvolutionError,
)
from .sinks.replica import ReplicaDiverged, ReplicaTable
from .sinks.scd2 import SCD2Table
from .sources.changelog import (
    parse_change_payload,
    parse_debezium,
    parse_maxwell,
)
from .sources.table_source import CDCTableDataSource, register_cdc_source
from .sinks.storage import FakeObjectStorage, LocalFSStorage, TableStorage
from .streaming.engine import CDCEngine

__all__ = [
    "CHANGE_EVENT_SCHEMA",
    "CHANGE_EVENT_SCHEMA_EVOLVED",
    "TRANSCRIPT_SCHEMA",
    "get_spark",
    "dedup_latest",
    "DerivedTable",
    "ReplicaTable",
    "ReplicaDiverged",
    "ManifestTable",
    "ManifestConflict",
    "SchemaEvolutionError",
    "ConstraintViolationError",
    "TableStorage",
    "LocalFSStorage",
    "FakeObjectStorage",
    "CDCEngine",
    "CDCTableDataSource",
    "register_cdc_source",
    "SCD2Table",
    "parse_change_payload",
    "parse_debezium",
    "parse_maxwell",
]
