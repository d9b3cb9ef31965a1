"""Lineage, chunk-registry, and metrics tables (SURVEY.md §2.8 E1, §2.5 A1-A3).

Replaces the reference's DynamoDB tracking tables and CloudWatch metrics:

* ``ETLDemoTrackingTable{tenant}`` per-(CorrelationId, Stage) status rows
  (``Phase3-Data-Extraction.py:106-117,127-134``) → ``lineage`` Parquet rows
  per (epoch, stage) with status/duration;
* ``SplitDataTracker{tenant}`` per-chunk record counts
  (``DataSplit.py:23-31,68-79``) → ``chunk_registry`` rows per
  (epoch, bucket) with ``n_records``;
* CloudWatch ``put_log_events`` metrics (``CloudsMatricsByQ2.py:168-210``)
  → the same tables + ``stage_report`` (groupBy stage, the exact aggregation
  of ``CloudsMatricsByQ2.py:45-73`` / ``test2.py:104-113``).

WRITE PATH — driver-side pyarrow, never a Spark job: lineage rows are a few
hundred bytes of metadata per epoch, but ``spark.createDataFrame(...).write``
costs a full job submission (~100 ms of scheduler latency) PER EPOCH — at a
100-epochs/min binlog tail that is real ingest-path overhead.  Rows are
buffered until ``flush()``, which serializes each buffer to one small parquet
object in memory and lands it with ONE ``TableStorage.put_if_absent`` (the
table's own storage, so lineage is as portable as the manifest); a Failed
status always flushes immediately so crash forensics never sit in a lost
buffer.  A torn lineage write still cannot corrupt table state, which is
guarded solely by the manifest commit.
"""

from __future__ import annotations

import datetime as dt
import itertools
import threading
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema

from .schemas import CHUNK_REGISTRY_SCHEMA, LINEAGE_SCHEMA
from .sinks.storage import LocalFSStorage, TableStorage

_LINEAGE_DIR = "_lineage"
_REGISTRY_DIR = "_chunk_registry"

_LINEAGE_ARROW = to_arrow_schema(LINEAGE_SCHEMA)
_REGISTRY_ARROW = to_arrow_schema(CHUNK_REGISTRY_SCHEMA)


def _now() -> dt.datetime:
    return dt.datetime.now(dt.timezone.utc)


class LineageLog:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        tenant_id: str | None = None,
        storage: TableStorage | None = None,
    ):
        self.spark = spark
        self.root = root
        self.tenant_id = tenant_id
        # the table's storage (ManifestTable.create's default for a bare root)
        self.storage = storage or LocalFSStorage(root)
        self._buf_lineage: list[dict] = []
        self._buf_registry: list[dict] = []
        self._seq = itertools.count()
        # record/flush may run concurrently from the Structured Streaming
        # micro-batch thread AND the main thread (replay()'s finally-flush
        # can fire while the stream is still draining after an
        # awaitTermination timeout) — the buffers are swapped under this
        # lock so a row is serialized exactly once
        self._lock = threading.Lock()
        # unique per LOG INSTANCE, not just per process: two engines over the
        # same table root in one process (e.g. crash-recovery tests) must not
        # collide on each other's shard keys
        self._tag = uuid.uuid4().hex[:16]

    def record_stage(
        self,
        epoch_id: int,
        stage: str,
        status: str,
        detail: str | None = None,
        duration_s: float | None = None,
    ) -> None:
        with self._lock:
            self._buf_lineage.append(
                {
                    "epoch_id": int(epoch_id),
                    "stage": stage,
                    "status": status,
                    "detail": detail,
                    "duration_s": duration_s,
                    "tenant_id": self.tenant_id,
                    "ts": _now(),
                }
            )
        # Failed rows flush NOW — the process may be about to die
        if status == "Failed":
            self.flush()

    def record_partitions(
        self, epoch_id: int, stage: str, rows_by_partition: dict[int, int]
    ) -> None:
        now = _now()
        with self._lock:
            self._buf_registry.extend(
                {
                    "epoch_id": int(epoch_id),
                    "partition_id": int(p),
                    "n_records": int(n),
                    "tenant_id": self.tenant_id,
                    "stage": stage,
                    "ts": now,
                }
                for p, n in rows_by_partition.items()
            )

    def _put(self, prefix: str, table: pa.Table, seq: int, suffix: str = "") -> None:
        """One shard object: ``<prefix>/part-<first epoch>-<tag>-<seq>``."""
        first = int(table.column("epoch_id")[0].as_py()) if table.num_rows else 0
        sink = pa.BufferOutputStream()
        pq.write_table(table, sink)
        self.storage.put_if_absent(
            f"{prefix}/part-{first:012d}-{self._tag}-{seq:06d}{suffix}.parquet",
            sink.getvalue().to_pybytes(),
        )

    def flush(self) -> None:
        """Drain both buffers to one small parquet object each (driver-side).

        Thread-safe: the buffer lists are SWAPPED out under the lock and
        serialized outside it, so a concurrent ``record_*`` (streaming
        micro-batch thread) or a second ``flush`` (main thread's
        finally-flush after an ``awaitTermination`` timeout) can neither
        lose rows appended between snapshot and clear nor write a row
        twice."""
        with self._lock:
            bufs = (self._buf_lineage, self._buf_registry)
            self._buf_lineage, self._buf_registry = [], []
            # sequence numbers minted under the lock too: two concurrent
            # flushes must not collide on a key
            seqs = [next(self._seq), next(self._seq)]
        for buf, seq, schema, prefix in zip(
            bufs, seqs, (_LINEAGE_ARROW, _REGISTRY_ARROW), (_LINEAGE_DIR, _REGISTRY_DIR)
        ):
            if buf:
                self._put(prefix, pa.Table.from_pylist(buf, schema=schema), seq)

    def compact(self, max_files: int = 16) -> int:
        """Fold the per-epoch parquet shards into one object per prefix
        once a prefix exceeds ``max_files`` — the lineage analogue of the
        data path's ``compact()``: a long-running tail flushes one small
        object per epoch, and an unbounded tiny-object tail would eventually
        dominate `lineage()` read planning.  Returns objects removed.

        Multi-instance safe: only THIS instance's shards (keys carry
        ``self._tag``) are folded — two engines logging to one table root
        (a supported multi-writer config) each compact their own shards and
        can never concurrently fold, double-write, or delete each other's.
        Crash window: the combined object is PUT before the inputs are
        deleted, so a crash can duplicate already-compacted rows but never
        lose rows — lineage is observability, and the table state it
        describes is guarded solely by the manifest commit."""
        removed = 0
        for prefix in (_LINEAGE_DIR, _REGISTRY_DIR):
            parts = [
                o.key
                for o in self.storage.list(prefix)
                if o.key.endswith(".parquet") and self._tag in o.key
            ]
            if len(parts) <= max_files:
                continue
            table = pa.concat_tables(
                pq.read_table(pa.BufferReader(self.storage.get(k))) for k in parts
            )
            self._put(prefix, table, next(self._seq), "-compacted")
            for k in parts:
                self.storage.delete(k)
                removed += 1
        return removed

    def lineage(self) -> DataFrame:
        self.flush()
        return self.spark.read.schema(LINEAGE_SCHEMA).parquet(
            self.storage.spark_path(_LINEAGE_DIR)
        )

    def chunk_registry(self) -> DataFrame:
        self.flush()
        return self.spark.read.schema(CHUNK_REGISTRY_SCHEMA).parquet(
            self.storage.spark_path(_REGISTRY_DIR)
        )

    def stage_report(self) -> DataFrame:
        """Per-stage total duration — the reference's metrics aggregation
        (``CloudsMatricsByQ2.py:45-73``: group history events by state, sum
        end-start pairs; offline replica ``test2.py:104-113``)."""
        from pyspark.sql import functions as F

        return (
            self.lineage()
            .groupBy("stage")
            .agg(
                F.sum("duration_s").alias("total_duration_s"),
                F.count("*").alias("n_epochs"),
                F.min("ts").alias("first_ts"),
                F.max("ts").alias("last_ts"),
            )
        )
