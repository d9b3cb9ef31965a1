"""The table as a first-class Spark streaming/batch SINK (PySpark 4
Python Data Source API): ``df.writeStream.format("edem_cdc")
.option("path", root)`` — the WRITE half of ``sources/table_source.py``,
and with it the full Delta-style pairing: any Spark job can now both
tail a table and feed one with ordinary ``readStream``/``writeStream``
calls, no engine import in the query itself.  Streaming table-to-table
replication becomes the one-liner every lakehouse demo shows::

    spark.readStream.format("edem_cdc").option("path", a)
        .load()
        .writeStream.format("edem_cdc").option("path", b)
        .option("checkpointLocation", cp).start()

Input rows are CHANGE EVENTS ``(op, lsn, <payload...>)`` — exactly the
contract the ``edem_cdc`` SOURCE emits and ``CDCEngine.replay_stream``
consumes (op "D" = delete tombstone, anything else upserts; ``lsn`` the
WAL position; payload must include the key columns and the ``ts``
version column).  The same no-ordering transport contract applies: the
per-key ``(ts, lsn)`` max-version fold makes any delivery interleaving
converge, so the sink needs no coordination between tasks.

Architecture — the classic DSv2 two-phase commit, mapped onto the
table's own MOR internals:

* **Executor tasks write finished delta files directly.**  Each task
  transforms its Arrow batches to the internal row shape (payload cast
  to the evolved table types + ``_lsn``/``_deleted``/``_bucket``),
  assigns each row's hash bucket with the vectorized driver-side
  xxhash64 twin (``hashing.spark_bucket_array`` — property-tested
  byte-identical to ``_bucket_expr``'s ``xxhash64``), and streams one
  parquet file per (task, bucket) into a task-private staging dir under
  ``data/``.  No shuffle, no Spark job beyond the write itself: the
  sink's per-epoch cost is O(batch), the same single-job shape as
  ``merge(mode="delta")``.
* **Commit messages name the exact files.**  Only files listed by
  successful tasks are committed, so failed/retried task attempts can
  never leak rows (their orphan dirs are vacuum garbage — per-TASK dirs
  because ``vacuum`` collects at top-level-dir granularity).
* **The driver commit is metadata-only and Spark-free.**  Python data
  source ``commit()`` runs in a worker with no JVM, so it audits the
  task-reported row counts against the staged parquet footers (the same
  write-audit-publish the engine applies), harvests per-file min/max
  stats for scan pruning, and publishes through
  ``ManifestTable.commit_delta_files`` — exactly-once by
  ``(scope, batchId)`` in the table's applied-epoch ledger, optimistic
  put-if-absent against concurrent writers.

Exactly-once: Spark re-delivers a micro-batch (same ``batchId``) when a
failure lands between sink commit and checkpoint commit; the ledger
skips the duplicate and the replay's staged files are deleted.  The
dedup scope defaults to a digest of ``checkpointLocation`` (per-
checkpoint lineage, mirroring ``CDCEngine``); batch writes require an
explicit ``.option("epochId", n)`` idempotence token.

Honest limitations (each fails loudly, none silently degrades):

* POSIX-path tables only — executors open data paths directly, same as
  the source half.
* CHECK-constrained tables are refused: the sink cannot evaluate SQL
  expressions without a JVM, and admitting unvalidated rows would break
  the write-time enforcement contract.  Use ``CDCEngine.replay_stream``
  for constrained tables.
* Parquet bloom filters are NOT attached (pyarrow 16 has no bloom
  writer); files written by this sink lose row-group bloom skipping
  until the next compaction rewrites them through Spark.
* Within-batch duplicates are not pre-folded (tasks are independent);
  the read-time max-version fold resolves them, ``delta_rows`` planning
  counts include them.

File-count shape at scale: a task writes one file per bucket it sees,
so an unpartitioned input produces up to tasks × buckets files per
epoch.  Pre-partition the stream by the table's bucket expression —
``df.repartition(n_buckets, F.pmod(F.xxhash64("conv_id"),
F.lit(n_buckets)))`` — to get merge()'s one-file-per-bucket shape;
``compact()`` folds the rest.

Reference analogue: the reference's load stage appends chunk CSVs to
the warehouse prefix and re-registers partitions per run
(``Phase3-DataLoad.py:103-175``); this sink is that append path with
atomic manifest commits, footer audits, and exactly-once redelivery in
place of MSCK-and-hope.
"""
from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass, field
from typing import Iterator, List, Tuple

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSourceArrowWriter,
    DataSourceStreamArrowWriter,
    WriterCommitMessage,
)

from ..sinks.manifest import (
    _DATA_DIR,
    _INTERNAL_FIELDS,
    ManifestTable,
    _harvest,
    _watermark,
)


@dataclass
class _SinkCommitMessage(WriterCommitMessage):
    # (bucket, table-relative path, row count) per file this task wrote
    files: List[Tuple[int, str, int]] = field(default_factory=list)


class _SinkWriterCore:
    """Shared driver-validation + executor-write + driver-commit logic.

    Instances are constructed driver-side (planning worker), pickled to
    executors for ``write`` and reconstructed in a fresh worker for
    ``commit``/``abort`` — so all state is plain picklable primitives
    and every phase rebuilds what it needs from them."""

    def __init__(self, schema: T.StructType, options: dict, overwrite: bool):
        if overwrite:
            raise ValueError(
                "edem_cdc is an append-only change sink (rows are change "
                "events; a delete is an op='D' tombstone row) — "
                "mode('overwrite') / truncate is not supported"
            )
        path = options.get("path")
        if not path:
            raise ValueError(
                "edem_cdc sink requires .option('path', <table root dir>)"
            )
        self._root = path
        self._branch = options.get("branch")
        table = self._table()
        if table.current_version() is None:
            raise FileNotFoundError(
                f"no table at {path!r} — create it first "
                f"(ManifestTable.create); the sink appends change events "
                f"to an existing table"
            )
        m = table.manifest()
        if m.get("constraints"):
            raise ValueError(
                f"table at {path!r} has CHECK constraints "
                f"{sorted(m['constraints'])} — the edem_cdc sink cannot "
                f"evaluate them without a JVM and will not admit "
                f"unvalidated rows; ingest constrained tables through "
                f"CDCEngine.replay_stream / ManifestTable.merge"
            )
        self._n_buckets = int(m["n_buckets"])
        key_cols = list(m["key_cols"])
        names = set(schema.fieldNames())
        missing = [c for c in ("op", "lsn") if c not in names]
        if missing:
            raise ValueError(
                f"edem_cdc sink input must be change events — missing "
                f"columns {missing}; expected (op, lsn, <payload...>) "
                f"exactly as the edem_cdc source emits"
            )
        payload = T.StructType(
            [f for f in schema.fields if f.name not in ("op", "lsn")]
        )
        have = {f.name for f in payload.fields}
        missing = [c for c in key_cols + ["ts"] if c not in have]
        if missing:
            raise ValueError(
                f"edem_cdc sink payload is missing required columns "
                f"{missing} (the table's key columns + the 'ts' version "
                f"column)"
            )
        # fail loudly NOW (not at first commit) on a refused schema change;
        # the commit re-derives evolution per attempt
        evolved = T.StructType.fromJson(
            table._schema_change(m, payload)["schema"]
        )
        evolved_types = {f.name: f.dataType for f in evolved.fields}
        # file payload columns: the sink batch's columns, at the EVOLVED
        # table type (narrower batches up-cast — merge() parity), in
        # evolved-schema order
        file_payload = [
            T.StructField(f.name, evolved_types[f.name], True)
            for f in evolved.fields
            if f.name in have
        ]
        self._file_schema_json = json.dumps(
            T.StructType(file_payload + _INTERNAL_FIELDS).jsonValue()
        )
        self._bucket_col = key_cols[0]
        self._scope = self._derive_scope(options)
        # merge() parity: upserts older than the table's watermark are
        # dropped (see ManifestTable._merge); deletes and null-ts rows pass
        self._watermark = _watermark(m)

    # -- scope / identity -------------------------------------------------

    def _derive_scope(self, options: dict) -> str:
        scope = options.get("scope")
        if scope:
            return str(scope)
        cp = options.get("checkpointlocation")
        if cp:
            # per-checkpoint lineage, mirroring CDCEngine: a NEW checkpoint
            # restarts batch ids at 0 and must not collide with the old one
            return "sink-" + hashlib.md5(str(cp).encode()).hexdigest()[:12]
        return "sink"

    def _table(self) -> ManifestTable:
        return ManifestTable(None, self._root, branch=self._branch)

    # -- executor side ----------------------------------------------------

    def write(self, iterator) -> _SinkCommitMessage:
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        from ..hashing import spark_bucket_array

        fschema = T.StructType.fromJson(json.loads(self._file_schema_json))
        arrow_schema = to_arrow_schema(fschema)
        payload_fields = fschema.fields[: -len(_INTERNAL_FIELDS)]
        bucket_dtype = next(
            f.dataType for f in payload_fields if f.name == self._bucket_col
        )
        task_dir = f"s{os.getpid():x}-{time.monotonic_ns():x}"
        writers: dict[int, tuple] = {}  # bucket -> (writer, relpath, rows)

        def _writer_for(b: int):
            if b not in writers:
                rel = f"{_DATA_DIR}/{task_dir}/_pb={b}/part-0.parquet"
                full = os.path.join(self._root, rel)
                os.makedirs(os.path.dirname(full), exist_ok=True)
                writers[b] = [pq.ParquetWriter(full, arrow_schema), rel, 0]
            return writers[b]

        for batch in iterator:
            if self._watermark is not None:
                ts, wm = batch.column("ts"), pa.scalar(self._watermark)
                late = pc.fill_null(pc.less(ts, wm.cast(ts.type)), False)
                upsert = pc.not_equal(batch.column("op"), "D")
                batch = batch.filter(pc.invert(pc.and_kleene(late, upsert)))
            if batch.num_rows == 0:
                continue
            cols = {
                n: batch.column(i) for i, n in enumerate(batch.schema.names)
            }
            arrays = []
            bucket_np = None
            for f, at in zip(fschema.fields, arrow_schema.types):
                if f.name == "_lsn":
                    arr = cols["lsn"].cast(at)
                elif f.name == "_deleted":
                    arr = pa.compute.equal(
                        cols["op"].cast(pa.string()), pa.scalar("D")
                    )
                elif f.name == "_bucket":
                    arr = pa.array(bucket_np, type=pa.int32())
                else:
                    arr = cols[f.name]
                    if arr.type != at:
                        arr = arr.cast(at)
                    if f.name == self._bucket_col:
                        # hash the CAST column: bucket assignment must see
                        # the table-typed value, exactly like _bucket_expr
                        # hashing after merge()'s cast
                        bucket_np = spark_bucket_array(
                            arr, bucket_dtype, self._n_buckets
                        )
                arrays.append(arr)
            tbl = pa.Table.from_arrays(arrays, schema=arrow_schema)
            uniq = np.unique(bucket_np)
            if len(uniq) == 1:
                w = _writer_for(int(uniq[0]))
                w[0].write_table(tbl)
                w[2] += tbl.num_rows
                continue
            order = np.argsort(bucket_np, kind="stable")
            sorted_tbl = tbl.take(pa.array(order))
            sorted_b = bucket_np[order]
            bounds = np.searchsorted(sorted_b, uniq)
            ends = np.append(bounds[1:], len(sorted_b))
            for b, s, e in zip(uniq, bounds, ends):
                w = _writer_for(int(b))
                piece = sorted_tbl.slice(int(s), int(e - s))
                w[0].write_table(piece)
                w[2] += piece.num_rows
        out = _SinkCommitMessage()
        for b in sorted(writers):
            w, rel, rows = writers[b]
            w.close()
            out.files.append((int(b), rel, int(rows)))
        return out

    # -- driver side ------------------------------------------------------

    def _commit_epoch(self, messages, epoch_id) -> dict:
        table = self._table()
        m = table.manifest()
        stats_cols = list(m.get("stats_cols") or [])
        entries = sorted(
            (e for msg in messages if msg is not None for e in msg.files),
            key=lambda e: e[1],
        )
        staged, rows_by_bucket, stats, footer_rows = _harvest(
            table.storage, [(b, rel) for b, rel, _ in entries], stats_cols
        )
        for (_, rel, rows), got in zip(entries, footer_rows):
            if got != rows:
                raise RuntimeError(
                    f"sink audit failed for epoch {epoch_id}: task reported "
                    f"{rows} rows in {rel} but the parquet footer has {got}"
                )
        fschema = T.StructType.fromJson(json.loads(self._file_schema_json))
        payload_schema = T.StructType(
            fschema.fields[: -len(_INTERNAL_FIELDS)]
        )
        res = table.commit_delta_files(
            staged,
            rows_by_bucket,
            stats,
            epoch_id,
            payload_schema,
            epoch_scope=self._scope,
            expected_n_buckets=self._n_buckets,
        )
        if res["status"] == "Skipped":
            # a redelivered batch staged duplicate bytes that will never be
            # referenced — drop them now instead of waiting for vacuum
            self._drop_staged(messages, table)
        return res

    def _drop_staged(self, messages, table: ManifestTable | None = None):
        table = table or self._table()
        dirs = {
            rel.split("/")[1]
            for msg in (messages or [])
            if msg is not None
            for _, rel, _ in msg.files
        }
        for d in sorted(dirs):
            # task dirs are exclusively one attempt's files — safe to drop
            table.storage.delete_prefix(f"{_DATA_DIR}/{d}")


class CDCTableBatchSinkWriter(_SinkWriterCore, DataSourceArrowWriter):
    """``df.write.format("edem_cdc").option("path", root)
    .option("epochId", n).mode("append")`` — a one-shot change-batch
    apply (the bootstrap load, or a backfill).  ``epochId`` is the
    required idempotence token: retrying the same logical batch with the
    same id is a no-op, a different id commits again."""

    def __init__(self, schema: T.StructType, options: dict, overwrite: bool):
        super().__init__(schema, options, overwrite)
        eid = options.get("epochid")
        if eid is None:
            raise ValueError(
                "edem_cdc batch sink requires .option('epochId', <int>) — "
                "the exactly-once idempotence token (streaming writes get "
                "it from the micro-batch id automatically)"
            )
        self._epoch = int(eid)
        if not options.get("scope"):
            self._scope = "sink-batch"

    def commit(self, messages) -> None:
        self._commit_epoch(messages, self._epoch)

    def abort(self, messages) -> None:
        self._drop_staged(messages)


class CDCTableStreamSinkWriter(_SinkWriterCore, DataSourceStreamArrowWriter):
    """``df.writeStream.format("edem_cdc")`` — exactly-once by
    ``(checkpoint-scope, batchId)`` through the table's applied-epoch
    ledger; see the module docstring."""

    def commit(self, messages, batchId: int) -> None:
        self._commit_epoch(messages, batchId)

    def abort(self, messages, batchId: int) -> None:
        self._drop_staged(messages)
