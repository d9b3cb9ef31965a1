"""The table as a first-class Spark STREAMING SOURCE (PySpark 4 Python
Data Source API): ``spark.readStream.format("edem_cdc").option("path",
root)`` tails a ManifestTable's append log — Delta's streaming-source /
change-data-feed reader re-expressed for this engine, and the missing
half of the medallion pipeline: downstream jobs consume a table with
ordinary Structured Streaming machinery (checkpoints, exactly-once
offsets, triggers) instead of bespoke pollers.

Shape:

* **Offsets are snapshot versions.**  ``initialOffset`` is the table
  head at stream start (or ``startingVersion`` − 1 to read history);
  ``latestOffset`` is the current head; a micro-batch over
  ``(start, end]`` ships exactly the rows of the delta files those
  commits APPENDED.  The structured-streaming checkpoint persists the
  version watermark, so restarts resume where they stopped.
* **The append-candidates walk is the source of truth** (the same
  machinery the change feed and replicas use): delta appends ship their
  files, state-preserving rewrites (compact/rebucket) and metadata-only
  commits contribute nothing and are skipped silently.  A CoW rewrite or
  rollback inside a batch range cannot be expressed as appended rows —
  the stream fails with a clear error (stream CoW tables by
  ``changes()`` polling or replicate first; the designed streaming
  upstream is the delta-mode binlog tail).
* **Rows are CHANGE EVENTS** ``(op, lsn, <payload...>)`` — ``op``
  ∈ {U, D} from the tombstone flag, ``lsn`` the original WAL position —
  i.e. exactly the contract ``CDCEngine.replay_stream`` consumes, so a
  downstream engine is one call away: table → readStream → engine B
  (streaming table-to-table replication with Spark-managed offsets;
  pinned in ``tests/test_table_source.py``).
* **Executor reads are pyarrow, driver planning is metadata-only.**
  ``partitions()`` never runs a Spark job (one manifest-chain walk);
  each partition is one parquet file read as Arrow RecordBatches,
  renamed-column shadows folded and missing evolved columns null-filled
  to the stream's fixed schema (Structured Streaming schemas are fixed
  at stream start — same contract as Delta's source).

The batch-read form ``spark.read.format("edem_cdc")`` ships the WHOLE
current log (every live base+delta file) as change events — replaying
it through a fresh engine reproduces the table (the bootstrap a new
downstream consumer runs before tailing).

Reference analogue: downstream consumers of the reference pipeline
re-query the Athena external table after every whole-pipeline run
(``Phase3-DataLoad.py:101-118`` re-declares it over the full prefix;
the Grafana monitor polls, ``monitoring/etl_monitoring/monitor/
middleware.py:26-37``) — per-run full-table polling.  This source
replaces that with push-shaped incremental consumption: O(appended
files) per micro-batch, offsets checkpointed by Spark itself.

POSIX-path tables only: executors open the parquet bytes directly; an
object-store `TableStorage` would need its client on the executors
(the in-process fake is driver-only by construction).

Trigger note: Spark's Python micro-batch wrapper does not implement
``SupportsTriggerAvailableNow``, so ``availableNow`` drains fall back to
ONE batch covering (checkpointed, head-at-start] — exactly-once still
holds (offsets commit through the checkpoint), the drain is just a
single micro-batch instead of several.  ``processingTime`` triggers
tail incrementally as usual.
"""
from __future__ import annotations

import json
from typing import TYPE_CHECKING, Iterator, Sequence

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

if TYPE_CHECKING:  # pragma: no cover
    import pyarrow as pa

class _ChangeFilePartition(InputPartition):
    """One parquet file to ship as change events.  Carries everything the
    executor-side read needs — no SparkSession, no table handle."""

    def __init__(
        self,
        path: str,
        field_names: list[str],
        schema_json: str,
        renames: dict[str, list[str]],
        as_deletes: tuple[str, ...] = (),
    ):
        self.path = path
        self.field_names = field_names  # op, lsn, payload... (output order)
        self.schema_json = schema_json  # StructType JSON (session-free)
        self.renames = renames          # current name -> historical names
        # non-empty = this file was RETENTION-DROPPED upstream: ship every
        # row as a DELETE stamped (its own ts, _lsn + 1), payload nulled
        # except the named key columns and ts (delete_where's contract)
        self.as_deletes = as_deletes


def _read_change_file(part) -> Iterator["pa.RecordBatch"]:
    """Executor-side: parquet file → Arrow change-event batches, shadow
    names coalesced, missing evolved columns null-filled, cast to the
    stream's fixed schema.  ``part`` is None when the planner returned
    ZERO partitions (an empty table / empty range) — Spark still runs one
    task with a None partition; yield nothing."""
    if part is None:
        return
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from pyspark.sql.pandas.types import to_arrow_schema

    out_schema = to_arrow_schema(
        T.StructType.fromJson(json.loads(part.schema_json))
    )
    pf = pq.ParquetFile(part.path)
    have = set(pf.schema_arrow.names)
    # read only what the output needs: payload columns present in the
    # file (under current OR historical names) + the internal verb cols
    want: list[str] = [c for c in ("_lsn", "_deleted") if c in have]
    for name in part.field_names:
        if name in ("op", "lsn"):
            continue
        if name in have:
            want.append(name)
        else:
            for old in part.renames.get(name, []):
                if old in have:
                    want.append(old)
                    break
    as_del = set(getattr(part, "as_deletes", ()) or ())
    for batch in pf.iter_batches(columns=want):
        tbl = pa.Table.from_batches([batch])
        cols = {n: tbl.column(n) for n in tbl.column_names}
        n = len(tbl)
        arrays = []
        for name, typ in zip(out_schema.names, out_schema.types):
            if as_del and name not in as_del and name != "ts":
                if name == "op":
                    arr = pa.array(["D"] * n, type=pa.string())
                elif name == "lsn":
                    arr = pc.add(
                        pc.fill_null(
                            cols.get("_lsn", pa.nulls(n, type=pa.int64())), 0
                        ),
                        1,
                    )
                else:  # payload nulled — the deleted content never ships
                    arr = pa.nulls(n, type=typ)
                arrays.append(arr.cast(typ) if arr.type != typ else arr)
                continue
            if name == "op":
                if "_deleted" in cols:
                    deleted = pc.fill_null(cols["_deleted"], False)
                    arr = pc.if_else(deleted, pa.scalar("D"), pa.scalar("U"))
                else:
                    arr = pa.array(["U"] * n, type=pa.string())
            elif name == "lsn":
                arr = (
                    pc.fill_null(cols["_lsn"], 0)
                    if "_lsn" in cols
                    else pa.nulls(n, type=pa.int64())
                )
            elif name in cols:
                arr = cols[name]
            else:
                arr = None
                for old in part.renames.get(name, []):
                    if old in cols:
                        arr = cols[old]
                        break
                if arr is None:
                    arr = pa.nulls(n, type=typ)
            arrays.append(arr.cast(typ) if arr.type != typ else arr)
        yield from pa.Table.from_arrays(arrays, schema=out_schema).to_batches()


def _table_handle(options: dict):
    """Metadata-only ManifestTable handle (no SparkSession — every method
    the source uses goes through storage verbs, never Spark).  An optional
    ``branch`` targets a write branch's manifest chain — the WAP audit
    topology: stream the staged branch into checks before fast_forward."""
    from ..sinks.manifest import ManifestTable

    path = options.get("path")
    if not path:
        raise ValueError(
            "edem_cdc requires .option('path', <table root dir>)"
        )
    return ManifestTable(None, path, branch=options.get("branch"))


def _change_schema_of(table) -> T.StructType:
    return T.StructType(
        [
            T.StructField("op", T.StringType(), True),
            T.StructField("lsn", T.LongType(), True),
        ]
        + list(table.schema().fields)
    )


def _partitions_for(
    table,
    files_rel: list[str],
    schema: T.StructType,
    renames,
    as_deletes: tuple[str, ...] = (),
) -> list[_ChangeFilePartition]:
    names = [f.name for f in schema.fields]
    sjson = json.dumps(schema.jsonValue())
    return [
        _ChangeFilePartition(
            # _spath resolves shallow-clone ext:// refs to their absolute
            # source paths; ordinary files stay table-root-relative
            table._spath(p), names, sjson, dict(renames or {}), as_deletes
        )
        for p in files_rel
    ]


class CDCTableStreamReader(DataSourceStreamReader):
    def __init__(self, schema: T.StructType, options: dict):
        self._table = _table_handle(options)
        self._schema = schema
        head = self._table.current_version()
        if head is None:
            raise FileNotFoundError(
                f"no table at {options.get('path')!r}"
            )
        sv = options.get("startingversion", options.get("startingVersion"))
        # offset semantics: {"version": v} == "rows of commits <= v have
        # been shipped"; startingVersion=N means "ship N and later", so
        # the initial watermark is N-1
        self._initial = head if sv is None else max(int(sv) - 1, 0)

    def initialOffset(self) -> dict:
        return {"version": self._initial}

    def latestOffset(self) -> dict:
        return {"version": self._table.current_version()}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        sv, t = int(start["version"]), int(end["version"])
        if t <= sv:
            return []
        try:
            ma, mb = self._table.manifest(sv), self._table.manifest(t)
        except FileNotFoundError:
            # the checkpointed resume snapshot was expire_snapshots'd away:
            # the consumer lagged past retention — same loud contract as a
            # vacuumed mid-range (below), phrased for the operator
            raise ValueError(
                f"cannot stream ({sv}, {t}]: snapshot v{sv} has expired — "
                f"the consumer lagged past the table's retention (a CoW "
                f"rewrite, rollback, or expired snapshot breaks the append "
                f"log).  Re-bootstrap: batch-read the current log and start "
                f"a fresh checkpoint"
            ) from None
        cand = self._table._append_candidates(sv, t, ma, mb)
        if cand is None:
            raise ValueError(
                f"cannot stream ({sv}, {t}]: the range contains a CoW "
                f"rewrite, rollback, or expired snapshot — appended files "
                f"are not a change log there.  Stream delta-mode tables "
                f"(compact/rebucket are fine), or bootstrap with the batch "
                f"read and poll changes() for CoW tables"
            )
        files, ret_dropped, _ = cand
        parts = _partitions_for(
            self._table, files, self._schema, mb.get("renamed_cols")
        )
        if ret_dropped:
            # an upstream retention_delete in the range: ship the dropped
            # files' rows as synthesized DELETE events (see
            # ManifestTable.retention_delete — the upstream's retention
            # watermark makes this exactly convergent downstream)
            parts += _partitions_for(
                self._table,
                ret_dropped,
                self._schema,
                mb.get("renamed_cols"),
                as_deletes=tuple(mb["key_cols"]),
            )
        return parts

    def read(self, partition: InputPartition):
        return _read_change_file(partition)

    def commit(self, end: dict) -> None:
        pass


class CDCTableBatchReader(DataSourceReader):
    """Whole-log batch read: every live file's rows as change events —
    the bootstrap before tailing.  Replaying them through an engine's
    MERGE reproduces the table (base rows carry the folded state and its
    tombstones; delta rows re-lose/re-win the same max-version fold)."""

    def __init__(self, schema: T.StructType, options: dict):
        self._table = _table_handle(options)
        self._schema = schema
        self._version = options.get("version")

    def partitions(self) -> Sequence[InputPartition]:
        from ..sinks.manifest import _data_files

        v = int(self._version) if self._version is not None else None
        m = self._table.manifest(v)
        files = [p for _, p, _ in _data_files(m)]
        return _partitions_for(
            self._table, sorted(files), self._schema, m.get("renamed_cols")
        )

    def read(self, partition: InputPartition):
        return _read_change_file(partition)


class CDCTableDataSource(DataSource):
    """``spark.dataSource.register(CDCTableDataSource)`` then
    ``spark.read/readStream.format("edem_cdc").option("path", root)``.

    Options: ``path`` (table root, required); ``startingVersion``
    (stream: ship commits >= N; default = tail from the head at stream
    start); ``version`` (batch: time-travel the log read).

    The same format name is also a WRITE target (``df.write`` /
    ``df.writeStream.format("edem_cdc")``) — see
    ``sources/table_sink.py`` for the change-event sink contract."""

    @classmethod
    def name(cls) -> str:
        return "edem_cdc"

    def schema(self):
        return _change_schema_of(_table_handle(self.options))

    def reader(self, schema: T.StructType) -> DataSourceReader:
        return CDCTableBatchReader(schema, self.options)

    def streamReader(self, schema: T.StructType) -> DataSourceStreamReader:
        return CDCTableStreamReader(schema, self.options)

    def writer(self, schema: T.StructType, overwrite: bool):
        from .table_sink import CDCTableBatchSinkWriter

        return CDCTableBatchSinkWriter(schema, self.options, overwrite)

    def streamWriter(self, schema: T.StructType, overwrite: bool):
        from .table_sink import CDCTableStreamSinkWriter

        return CDCTableStreamSinkWriter(schema, self.options, overwrite)


def register_cdc_source(spark) -> None:
    """Idempotently register the ``edem_cdc`` format on a session."""
    spark.dataSource.register(CDCTableDataSource)
