"""CDCEngine — the Structured Streaming shell around the MERGE sink.

Replaces the reference's entire orchestration layer:

* Step Functions state machine + ``Map`` fan-out with ``MaxConcurrency: 4``
  (``AWS-Step-function/prototype-etl.json:3-209``) → ONE streaming query;
  micro-batches are the chunks, Spark's task scheduler is the fan-out;
* per-stage Lambdas chained by JSON payload (``prototype-etl.json:40-159``)
  → a single ``foreachBatch`` function; the Catalyst plan is the
  inter-stage IR;
* Retry/Catch/compensation blocks (``prototype-etl.json:15-24,61-69``)
  → checkpoint restart + idempotent epoch commit: a failed epoch re-runs
  from the checkpoint and either commits once or is skipped as already
  applied — no compensating deletes (SURVEY.md §2.8 E3/E4);
* ``correlation_id = uuid.uuid4()`` per run (``DataSplit.py:160``)
  → the deterministic streaming ``epoch_id``.

Resumability: kill the query at ANY point; restarting with the same
checkpoint dir replays the in-flight epoch; ``Trigger.AvailableNow`` drains
all pending segments and stops (full replay mode).
"""

from __future__ import annotations

import datetime as dt
import json
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQueryListener

from ..lineage import LineageLog
from ..schemas import CHANGE_EVENT_SCHEMA, KEY_COLS
from ..sinks.manifest import ManifestTable
from ..sources.changelog import read_changelog_batch, read_changelog_stream
from ..util import sql_ident, sql_type


class _ProgressListener(StreamingQueryListener):
    """Spark-engine-side metrics into the lineage log (the reference's
    CloudWatch ``put_log_events`` metrics, ``CloudsMatricsByQ2.py:168-210``,
    and the listener wiring SURVEY §2 S15/A4 maps them to): one ``progress``
    row per micro-batch of the query named ``query_name``, with input rows,
    rows/sec, and batch duration.  Complements (not replaces) the ``merge``
    rows written in ``apply_batch``: those time the engine's commit; these
    carry the source/trigger-level numbers only Spark knows.

    The listener is its own py4j bridge: ``_jlistener`` wraps it in Spark's
    ``PythonStreamingQueryListenerWrapper`` as an implementation of
    ``PythonStreamingQueryListener``, so each callback receives the RAW
    Java event.  A progress event is read as one JSON document
    (``json.loads(jevent.progress().json())``, two gateway calls) instead
    of pyspark's field-by-field conversion, which costs ~430 round trips
    per event.  ``spark.streams.addListener``/``removeListener`` take it
    like any other listener.  The bus runs on its own thread — safe
    because LineageLog swaps buffers under a lock."""

    def __init__(self, lineage: LineageLog, query_name: str):
        super().__init__()
        self._lineage = lineage
        self._query_name = query_name
        self._jwrapper = None
        # set on the QueryTerminated event for the bound query id; the
        # bus is FIFO per listener, so once this fires every progress
        # event has been delivered — replay() waits on it before
        # removing the listener (events are async on the bus thread)
        self.done = threading.Event()
        self._query_id = None
        # terminations seen BEFORE bind(): the id is only known after
        # start(), so a stale query terminating in that window must not
        # set done early (it would let replay() detach the listener
        # before the bound query's final progress events drain).  They
        # are buffered and re-checked at bind time.
        self._early_terminated: set[str] = set()
        self._lock = threading.Lock()

    @property
    def _jlistener(self):
        # built on first use: addListener starts the callback server first
        if self._jwrapper is None:
            from pyspark import SparkContext

            self._jwrapper = SparkContext._jvm.PythonStreamingQueryListenerWrapper(
                self
            )
        return self._jwrapper

    def bind(self, query_id: str) -> None:
        with self._lock:
            self._query_id = str(query_id)
            if self._query_id in self._early_terminated:
                self.done.set()

    def onQueryStarted(self, jevent):
        pass

    def onQueryProgress(self, jevent):
        try:
            p = json.loads(jevent.progress().json())
            if p.get("name") != self._query_name:
                return
            duration = p.get("durationMs") or {}
            detail = json.dumps(
                {
                    "numInputRows": p.get("numInputRows"),
                    "inputRowsPerSecond": p.get("inputRowsPerSecond"),
                    "processedRowsPerSecond": p.get("processedRowsPerSecond"),
                    "durationMs": duration,
                }
            )
            self._lineage.record_stage(
                p["batchId"],
                "progress",
                "Success",
                detail=detail,
                duration_s=sum(duration.values()) / 1000.0,
            )
        except Exception:
            pass  # metrics must never break the stream

    def onQueryIdle(self, jevent):
        pass

    def onQueryTerminated(self, jevent):
        query_id = jevent.id().toString()
        with self._lock:
            if self._query_id is None:
                self._early_terminated.add(query_id)
            elif query_id == self._query_id:
                self.done.set()

    class Java:
        implements = ["org.apache.spark.sql.streaming.PythonStreamingQueryListener"]


# report entries a lineage detail leaves out: the bulky per-bucket row map
# and the quarantine split's frames
_NOT_DETAIL = ("rows_by_bucket", "valid", "cache")


def _verb_detail(report: dict) -> str:
    """A stage report as a lineage ``detail``: JSON (parseable with
    ``json.loads``), minus the entries in ``_NOT_DETAIL``."""
    return json.dumps(
        {k: v for k, v in report.items() if k not in _NOT_DETAIL},
        default=str,
    )


def _payload_schema(change_schema: T.StructType) -> T.StructType:
    return T.StructType(
        [f for f in change_schema.fields if f.name not in ("op", "lsn")]
    )


class CDCEngine:
    def __init__(
        self,
        spark: SparkSession,
        table_root: str,
        change_schema: T.StructType = CHANGE_EVENT_SCHEMA,
        key_cols: list[str] | None = None,
        n_buckets: int = 16,
        tenant_id: str | None = None,
        files_per_bucket: int = 1,
        audit: str = "counts",
        merge_mode: str = "cow",  # "cow" | "delta" (merge-on-read tail path)
        compact_every: int = 0,   # delta mode: fold deltas→base every N epochs
        compact_sort_by: list[str] | None = None,  # cluster buckets by these
        # payload columns during auto-compaction (stats-tight files → non-key
        # window reads skip most of a bucket; see ManifestTable.compact)
        compact_zorder_by: list[str] | None = None,  # OR z-order-cluster on
        # several columns at once (Morton interleave; mutually exclusive
        # with compact_sort_by — see ManifestTable.compact / functions.zorder)
        compact_max_rows_per_file: int | None = None,
        compact_max_file_bytes: int | None = None,  # bytes-targeted sizing
        compact_purge_tombstone_lag: float | None = None,  # EVENT-TIME
        # seconds: at each auto-compaction, GC delete tombstones older than
        # (max observed event ts − lag) — the same lateness contract a
        # streaming watermark declares, applied to the table's dead rows so
        # physical size tracks LIVE size under ongoing deletes.  The bound
        # comes from the manifest's own file stats (driver-side, no job);
        # the purge commit advances the table's retention watermark, so a
        # violating late upsert is dropped rather than resurrecting a
        # purged key (see ManifestTable.compact purge_tombstones_before).
        # CONTRACT (identical to withWatermark's): lag must bound the
        # stream's event-time disorder AS DELIVERED — an upsert arriving
        # more than `lag` behind the max event time already committed is
        # dropped as late data.  Size it to the transport's worst-case
        # delivery skew (for Kafka: max lateness across partitions), not
        # just per-key reordering.
        # (row width estimated from the fold's input — see
        # ManifestTable.compact; mutually exclusive with the rows cap)
        vacuum_keep_versions: int = 8,  # 0 disables auto-vacuum
        vacuum_grace_s: float = 600.0,  # never GC dirs younger than this —
        # a CONCURRENT writer's staging dir (second engine on another
        # checkpoint, manual merge) is unreferenced until its publish;
        # 0 = eager single-writer GC
        event_dedup: str | None = None,  # e.g. "1 hour": stateful event-level
        # dedup (dropDuplicatesWithinWatermark on key+lsn) applied to the
        # tail BEFORE foreachBatch — an opt-in for at-least-once transports
        # that redeliver individual events ACROSS epoch boundaries, where
        # epoch idempotence alone cannot collapse them; per-key state is
        # bounded by the watermark delay, and the MERGE max-version rule
        # makes any duplicate that slips past it harmless anyway
        fail_after_stage_write: bool = False,  # chaos hook (cf. the reference's
        # live 'Intentional exception', Phase3-Data-Extraction-Async.py:44)
        bad_records: str = "keep",  # "keep" | "quarantine" | "fail" — what to
        # do with MALFORMED change events (op outside {I,U,D}, null lsn, or a
        # null key column): "keep" passes them through (a null-key upsert is
        # the engine's historical behavior and the zero-cost path),
        # "quarantine" routes them to <table_root>/_quarantine/<epoch>/ and
        # merges only the valid rows (the reference's error-payload handling,
        # HandleDataExtractionErrorLambda.py, as a dead-letter TABLE instead
        # of a compensation delete), "fail" aborts the epoch naming the
        # count.  quarantine/fail read the source ONCE per epoch (persisted
        # split: the count job fills the cache; the dead-letter write and
        # the merge read from it) — an opt-in for untrusted transports; the
        # designed single-job delta tail is the "keep" default
        storage=None,  # TableStorage backend for the sink table (defaults to
        # the POSIX LocalFSStorage; pass FakeObjectStorage or an object-store
        # client implementation — see sinks/storage.py)
        bloom_filter_cols: list[str] | None = None,  # columns the data
        # writers attach parquet bloom filters for (point-lookup row-group
        # skipping inside files min/max stats can't prune — typically the
        # key columns; see ManifestTable.create)
        table_properties: dict[str, str] | None = None,  # initial table
        # properties when this engine CREATES the table (e.g.
        # {"write.parquet.compression": "zstd"} — every data write of the
        # table's life uses that codec; maintenance.* keys arm the
        # autopilot); an existing table keeps its own — evolve with
        # table.set_properties
        constraints: dict[str, str] | None = None,  # table CHECK
        # constraints {name: sql_bool_expr} enforced on every staged change
        # batch before publish (Delta ADD CONSTRAINT parity; applied only
        # when this engine CREATES the table — an existing table keeps its
        # own; evolve with table.add_constraint/drop_constraint)
        branch: str | None = None,  # streaming write-audit-publish: stage
        # EVERY epoch on this write branch of the table instead of main
        # (created at the current snapshot if it doesn't exist, re-attached
        # if it does — a restart resumes the same staged chain).  Replay /
        # tail / audit with read_table() as usual, then publish atomically
        # with ManifestTable(spark, root).fast_forward(branch) and
        # drop_branch.  Auto-vacuum is deferred to main (a branch handle
        # must not GC the shared data/ tree); auto-compaction runs on the
        # branch chain as usual
    ):
        self.spark = spark
        self.change_schema = change_schema
        self.files_per_bucket = files_per_bucket
        self.merge_mode = merge_mode
        self.compact_every = compact_every
        self.compact_sort_by = compact_sort_by
        self.compact_zorder_by = compact_zorder_by
        self.compact_max_rows_per_file = compact_max_rows_per_file
        self.compact_max_file_bytes = compact_max_file_bytes
        self.compact_purge_tombstone_lag = compact_purge_tombstone_lag
        self.vacuum_keep_versions = vacuum_keep_versions
        self.vacuum_grace_s = vacuum_grace_s
        # epochs counted toward each maintenance stage's cadence (_due)
        self._since: dict[str, int] = {}
        self.audit = audit
        self.event_dedup = event_dedup
        self.fail_after_stage_write = fail_after_stage_write
        if bad_records not in ("keep", "quarantine", "fail"):
            raise ValueError(
                f"bad_records must be keep|quarantine|fail, got {bad_records!r}"
            )
        self.bad_records = bad_records
        self.table = ManifestTable.create(
            spark,
            table_root,
            _payload_schema(change_schema),
            key_cols=key_cols or KEY_COLS,
            n_buckets=n_buckets,
            tenant_id=tenant_id,
            bloom_filter_cols=bloom_filter_cols,
            storage=storage,
            constraints=constraints,
            properties=table_properties,
        )
        if branch is not None:
            self.table = (
                self.table.branch_ref(branch)
                if branch in self.table.branches()
                else self.table.create_branch(branch)
            )
        # rows buffer through the epoch; apply_batch flushes once per epoch
        # (one small object per epoch instead of one per record — and a
        # continuous tail stopped at ANY point has every committed epoch's
        # lineage durable)
        self.lineage = LineageLog(
            spark, table_root, tenant_id=tenant_id, storage=self.table.storage
        )
        # idempotence scope for epoch ids; replay() pins it to the checkpoint
        # dir so restarts of the SAME checkpoint dedup, while a new
        # checkpoint (whose epoch ids restart at 0) never collides
        self._epoch_scope = "batch"
        # derived tables (materialized views) synced behind the tail —
        # see register_derived()
        self._derived: list = []
        self.sync_derived_every = 1
        # SCD2 history table applied on the epoch critical path —
        # see register_history()
        self._history = None
        self._history_mode = "inorder"
        self._history_merge_mode = "delta"

    # ---------- the foreachBatch body ----------

    def apply_batch(self, batch_df: DataFrame, epoch_id: int) -> dict:
        """Dedup + MERGE + lineage for one micro-batch (one 'chunk chain'
        of the reference: Extraction→Transformation→Load→Backup collapses
        into dedup→merge→commit; Backup is implicit in snapshot retention).
        Every stage runs through ``_run``: one lineage row per stage run,
        a failure recorded once under the stage that raised it."""
        routed = None
        try:
            if self.bad_records != "keep":
                routed = self._run(
                    epoch_id,
                    "quarantine",
                    lambda: self._route_bad_records(batch_df, epoch_id),
                    critical=True,
                )
                batch_df = routed["valid"]
            before_publish = None
            if self.fail_after_stage_write:
                # chaos: fail between staging write and manifest publish —
                # the next run must re-run the epoch and converge to the
                # identical final state (E5; cf. the reference's live
                # 'Intentional exception', Phase3-Data-Extraction-Async.py:44)
                def before_publish(_m):
                    raise RuntimeError("Intentional exception (chaos hook)")

            stats = self._run(
                epoch_id,
                "merge",
                lambda: self.table.merge(
                    batch_df,
                    epoch_id,
                    files_per_bucket=self.files_per_bucket,
                    audit=self.audit,
                    epoch_scope=self._epoch_scope,
                    before_publish=before_publish,
                    mode=self.merge_mode,
                ),
                critical=True,
            )
            ok = stats["status"] == "Success"
            if ok:
                self.lineage.record_partitions(
                    epoch_id, "merge", stats.get("rows_by_bucket", {})
                )
            compacted = (
                ok
                and self.merge_mode == "delta"
                and self.compact_every > 0
                and self._due("compact", self.compact_every)
            )
            if compacted:
                self._run(epoch_id, "compact", self._compact, critical=True)
            if self._history is not None:
                # critical path, and ALSO on a skipped (redelivered) epoch:
                # the main merge may have committed on a previous attempt
                # that crashed before the history apply — the history's own
                # ledger decides whether anything is left to do
                hst = self._run(
                    epoch_id,
                    "history",
                    lambda: self._history.apply(
                        batch_df,
                        epoch_id,
                        epoch_scope=self._epoch_scope,
                        mode=self._history_mode,
                        merge_mode=self._history_merge_mode,
                    ),
                    critical=True,
                )
                if (
                    hst.get("status") == "Success"
                    and self._history_compact_every > 0
                    and self._due("history_compact", self._history_compact_every)
                ):
                    self._run(
                        epoch_id,
                        "history_compact",
                        lambda: self._history.table.compact(),
                        critical=True,
                    )
            if ok:
                # compaction is the natural GC point: superseded base files
                # AND orphaned staging dirs from crashed attempts are now
                # unreferenced by every retained manifest — without this a
                # long-running tail grows without bound
                self._maybe_vacuum(epoch_id, force=compacted)
                self._maybe_sync_derived(epoch_id)
            return stats
        finally:
            if routed is not None and routed["cache"] is not None:
                # the quarantine split's cache served the dead-letter write
                # and the merge; release it once the epoch is done
                routed["cache"].unpersist()
            # per-epoch flush: lineage for every COMMITTED epoch is durable
            # even if the tail is stopped or the process dies mid-stream
            self.lineage.flush()

    def _run(self, epoch_id: int, stage: str, fn, *, critical: bool):
        """Run one per-epoch stage: time ``fn``, record exactly one lineage
        row under ``stage`` whose detail is JSON (the stage's report, or
        ``{"error": ...}``), and apply the stage's failure contract.  A
        critical stage (quarantine, merge, compact, history,
        history_compact) re-raises, so the epoch aborts and the checkpoint
        retry redelivers it.  An advisory one (vacuum, lineage_compact,
        mv_sync) only records the failure and returns None: the merge
        already committed durably, and the next cadence retries."""
        t0 = time.monotonic()
        try:
            report = fn()
        except Exception as e:
            self.lineage.record_stage(
                epoch_id,
                stage,
                "Failed",
                detail=json.dumps({"error": repr(e)[:2000]}),
                duration_s=time.monotonic() - t0,
            )
            if critical:
                raise
            return None
        self.lineage.record_stage(
            epoch_id,
            stage,
            report.get("status", "Success"),
            detail=_verb_detail(report),
            duration_s=time.monotonic() - t0,
        )
        return report

    def _due(self, stage: str, every: int, force: bool = False) -> bool:
        """Count one epoch toward ``stage``'s cadence: True on every
        ``every``-th call (or when forced), which restarts the count."""
        n = self._since[stage] = self._since.get(stage, 0) + 1
        if force or n >= every:
            self._since[stage] = 0
            return True
        return False

    def _compact(self) -> dict:
        purge_before = None
        if self.compact_purge_tombstone_lag is not None:
            # watermark = max observed event time − lag, read back from the
            # table's own manifest stats (driver dict-max, no job); None =
            # no stats yet, skip
            hi = self.table.max_event_ts()
            if hi is not None:
                purge_before = hi - dt.timedelta(
                    seconds=self.compact_purge_tombstone_lag
                )
        return self.table.compact(
            sort_by=self.compact_sort_by,
            zorder_by=self.compact_zorder_by,
            max_rows_per_file=self.compact_max_rows_per_file,
            max_file_bytes=self.compact_max_file_bytes,
            purge_tombstones_before=purge_before,
        )

    def _maybe_vacuum(self, epoch_id: int, force: bool = False) -> None:
        """Auto-GC: vacuum after every compaction (force=True) and, in
        cow mode or uncompacted delta tails, every ``vacuum_keep_versions``
        successful epochs — versions older than the retained window are
        unreferenced by then, so the removal set is non-trivial exactly at
        this cadence.  keep_versions also bounds time-travel depth.  The
        same cadence folds the per-epoch lineage shards, so a long tail's
        shard count stays bounded."""
        if self.vacuum_keep_versions <= 0 or self.table.branch is not None:
            # a branch handle never vacuums: vacuum GCs the shared data/
            # tree, so a WAP tail defers GC to main's post-publish maintenance
            return
        if not self._due("vacuum", self.vacuum_keep_versions, force):
            return
        self._run(
            epoch_id,
            "vacuum",
            lambda: {
                "removed": len(
                    self.table.vacuum(
                        keep_versions=self.vacuum_keep_versions,
                        grace_s=self.vacuum_grace_s,
                    )
                )
            },
            critical=False,
        )
        self._run(
            epoch_id,
            "lineage_compact",
            lambda: {"removed": self.lineage.compact()},
            critical=False,
        )

    # ---------- malformed-event routing (dead-letter table) ----------

    def _quarantine_prefix(self) -> str:
        import hashlib

        scope_id = hashlib.md5(self._epoch_scope.encode()).hexdigest()[:12]
        return f"_quarantine/{scope_id}"

    def _route_bad_records(self, batch_df: DataFrame, epoch_id: int) -> dict:
        """Split the epoch's batch on the validity predicate (op ∈ {I, U,
        D}, an insert upserting like an update; non-null lsn; non-null key
        columns; SQL text with every identifier quoted) in ONE pass over
        the source: the batch is persisted, the bad-count job materializes
        the cache, and both the dead-letter write and the valid rows the
        merge consumes are served from it — the source is never
        re-evaluated.
        Returns the stage report ``{"n_bad", "valid": valid_rows,
        "cache": cache_to_unpersist_or_None}``; ``apply_batch`` releases
        the cache after the merge commits.

        ``fail`` aborts the epoch naming the count; ``quarantine`` lands
        the bad rows under ``<root>/_quarantine/<scope>/epoch=<id>/``
        (overwrite per epoch — a replayed epoch rewrites the identical
        set, so re-delivery stays idempotent) and returns only the valid
        rows.  Opt-in for untrusted transports; the designed single-job
        delta tail is the "keep" default.

        Table CHECK constraints join the predicate in ``quarantine`` mode
        (same semantics as the merge's enforcement: non-TRUE is a
        violation, deletes exempt) so a violating event dead-letters and
        the tail keeps flowing instead of aborting the epoch.  In
        ``fail`` mode constraints stay with the table layer, whose
        zero-extra-job observation check raises a
        ``ConstraintViolationError`` naming each constraint and count."""
        from pyspark.sql import functions as F

        key_cols = self.table.manifest()["key_cols"]
        pred = " AND ".join(
            ["`op` IN ('I', 'U', 'D')", "`lsn` IS NOT NULL"]
            + [f"{sql_ident(k)} IS NOT NULL" for k in key_cols]
        )
        cons = (
            self.table.constraints()
            if self.bad_records == "quarantine"
            else {}
        )
        if cons:
            # evaluate over the merge's row shape: table payload columns a
            # batch doesn't carry arrive as nulls there, so align first —
            # the added null columns are EXISTING table columns and cast to
            # the same nulls inside the merge, leaving its plan equivalent
            have = set(batch_df.columns)
            for f in self.table.schema().fields:
                if f.name not in have:
                    batch_df = batch_df.withColumn(
                        f.name, F.expr(f"CAST(NULL AS {sql_type(f.dataType)})")
                    )
            ok = " AND ".join(
                ["true"]
                + [f"coalesce(({c}), false)" for c in sorted(cons.values())]
            )
            pred = f"{pred} AND (`op` = 'D' OR {ok})"
        cached = batch_df.persist()
        bad = cached.filter(f"NOT ({pred})")
        n_bad = bad.count()
        if n_bad == 0:
            cached.unpersist()
            # hand back the ORIGINAL frame: the clean-batch epoch runs the
            # exact historical plan, no cache in the merge lineage
            return {"n_bad": 0, "valid": batch_df, "cache": None}
        if self.bad_records == "fail":
            cached.unpersist()
            raise ValueError(
                f"epoch {epoch_id}: {n_bad} malformed change events "
                "(op outside {I,U,D}, null lsn, or null key column); "
                "bad_records='fail'"
            )
        dest = self.table.storage.spark_path(
            f"{self._quarantine_prefix()}/epoch={epoch_id}"
        )
        bad.write.mode("overwrite").parquet(dest)
        return {"n_bad": n_bad, "valid": cached.filter(pred), "cache": cached}

    def read_quarantine(self, all_scopes: bool = True) -> DataFrame:
        """The dead-letter table: malformed events routed aside, with their
        per-epoch directory layout.  ``all_scopes=True`` (default) reads
        across every checkpoint scope that ever quarantined into this table
        root — a fresh engine instance sees history it did not write;
        ``all_scopes=False`` restricts to the scope of the LAST replay on
        this instance (useful when several checkpoints share a table).
        Empty (correct schema) when nothing was quarantined."""
        st = self.table.storage
        if all_scopes:
            paths = [
                st.spark_path(f"_quarantine/{scope}/{d}")
                for scope in st.list_dirs("_quarantine")
                for d in st.list_dirs(f"_quarantine/{scope}")
            ]
        else:
            paths = [
                st.spark_path(f"{self._quarantine_prefix()}/{d}")
                for d in st.list_dirs(self._quarantine_prefix())
            ]
        if not paths:
            return self.spark.createDataFrame([], self.change_schema)
        return self.spark.read.schema(self.change_schema).parquet(*paths)

    def clear_quarantine(self) -> int:
        """Operator-owned GC for the dead-letter tree (it is never vacuumed
        automatically — quarantined events are evidence until someone
        triages them).  Returns the number of objects removed."""
        return self.table.storage.delete_prefix("_quarantine")

    def register_derived(self, derived, every: int | None = None) -> None:
        """Attach a ``sinks.derived.DerivedTable`` built over this engine's
        table: the tail syncs it after every ``sync_derived_every``-th
        successful merge epoch (set ``every`` to change the cadence for all
        registered views).  Sync failure never aborts ingest — the MV's
        resume point is its own exactly-once ledger and a later sync is
        self-healing (absolute partial recompute), so a transient failure
        only delays freshness.  The reference analogue is the downstream
        analytics load the pipeline re-ran from scratch each execution
        (`Phase3-DataLoad.py`); here freshness follows ingest at O(changed
        groups) per epoch."""
        if derived.upstream.root != self.table.root:
            raise ValueError(
                "derived table's upstream is not this engine's table "
                f"({derived.upstream.root} != {self.table.root})"
            )
        self._derived.append(derived)
        if every is not None:
            self.sync_derived_every = max(1, int(every))

    def register_history(
        self,
        history,
        mode: str = "inorder",
        merge_mode: str = "delta",
        compact_every: int = 0,
    ) -> None:
        """Attach a ``sinks.scd2.SCD2Table``: every merge epoch is ALSO
        applied to the history table (same epoch id and idempotence scope;
        the history keeps its own exactly-once ledger).  Unlike derived
        -table sync — advisory, recomputable later from the table's change
        feed — the history apply rides the EPOCH CRITICAL PATH: the
        latest-state merge folds the batch's intermediate versions away,
        so a batch not recorded now is history lost; a failure therefore
        aborts the epoch and the checkpoint retry redelivers the batch
        (the main merge's ledger makes the re-run a no-op on its side).

        ``mode`` follows the transport's ordering contract (see
        ``sinks/scd2.py``): ``"inorder"`` for per-key version-ordered
        delivery (a binlog/WAL shard), ``"repair"`` for transports that
        reorder events across micro-batch boundaries.

        ``compact_every`` — fold the history's delta files into base
        every N applied epochs (0 = never).  A delta-mode history tail
        otherwise accumulates one file set per epoch without bound, and
        compaction is what keeps the inorder path's touched-key read
        O(files-that-matter); all version rows have distinct
        ``(keys…, vf_lsn)`` keys, so the fold collapses nothing — it is
        purely physical."""
        ek = self.table.manifest()["key_cols"]
        if history.key_cols != ek:
            raise ValueError(
                f"history table keys {history.key_cols} != engine table "
                f"keys {ek}"
            )
        if mode not in ("inorder", "repair"):
            raise ValueError(f"mode must be inorder|repair, got {mode!r}")
        self._history = history
        self._history_mode = mode
        self._history_merge_mode = merge_mode
        self._history_compact_every = max(0, int(compact_every))
        self._since.pop("history_compact", None)

    def _maybe_sync_derived(self, epoch_id: int) -> None:
        # downstream freshness must never abort ingest (same advisory
        # contract as vacuum); the next sync catches up
        if self._derived and self._due("mv_sync", self.sync_derived_every):
            for mv in self._derived:
                self._run(
                    epoch_id,
                    "mv_sync",
                    lambda: {**mv.sync(), "root": mv.root},
                    critical=False,
                )

    # ---------- replay / tail ----------

    def replay(
        self,
        changelog_dir: str,
        checkpoint_dir: str,
        fmt: str = "json",
        max_files_per_trigger: int | None = None,
        available_now: bool = True,
        processing_time: str = "1 seconds",
        timeout_s: float | None = None,
    ):
        """Run the streaming query over a change-log DIRECTORY (the file
        transport).  ``available_now=True`` = drain-and-stop replay;
        otherwise a continuous tail with ``processing_time`` trigger.
        Convenience wrapper over ``replay_stream`` — the tail itself is
        transport-agnostic."""
        stream = read_changelog_stream(
            self.spark,
            changelog_dir,
            schema=self.change_schema,
            fmt=fmt,
            max_files_per_trigger=max_files_per_trigger,
        )
        return self.replay_stream(
            stream,
            checkpoint_dir,
            available_now=available_now,
            processing_time=processing_time,
            timeout_s=timeout_s,
        )

    def replay_stream(
        self,
        stream_df: DataFrame,
        checkpoint_dir: str,
        available_now: bool = True,
        processing_time: str = "1 seconds",
        timeout_s: float | None = None,
    ):
        """Drive the dedup→MERGE→commit tail from ANY streaming DataFrame —
        a Kafka/Kinesis topic's parsed payload, a rate-source synthetic
        feed, a socket stream — not just a file directory.  The transport
        seam the reference's event trigger occupies (S3 upload → state
        machine, ``AWS-Step-function/prototype-etl.json:3-14``): here the
        caller maps their transport to the change-event columns and hands
        the unstarted stream over; exactly-once, checkpoint resume, schema
        evolution, and lineage all behave identically to the directory path
        because they live in ``foreachBatch``/the sink, not in the source.

        ``stream_df`` must carry every column of ``change_schema``; columns
        are selected in schema order and cast to the schema's types (a
        Kafka value parsed with ``from_json`` or a rate source's LongType
        ``value`` arithmetic both normalize cleanly).  Extra columns are
        dropped — the payload contract is the schema.

        TRANSPORT ORDERING CONTRACT: the tail requires NO delivery-order
        guarantee — not even Kafka's per-partition order.  The MERGE keeps,
        per key, the row with the maximum ``(ts, lsn)`` and delete
        tombstones persist with their version, so any interleaving of a
        change set converges to the same per-key winner: an event
        delivered after a newer event of its key simply loses the
        max-version comparison (within a batch via the dedup aggregate,
        across epochs via the versioned target row), and a late older
        update cannot resurrect a deleted key.  What the transport MUST
        provide instead: (a) versions ``(ts, lsn)`` assigned at the SOURCE
        (the WAL/binlog position) — never at delivery time, which would
        re-order history; (b) at-least-once delivery — duplicates are
        collapsed by the epoch ledger (same epoch), the max-version rule
        (older re-deliveries), and optionally ``event_dedup`` for
        cross-epoch redelivery of the winning event itself.  Pinned by
        ``test_stream_source.py::test_replay_stream_out_of_order_transport``:
        a stream whose delivery order is scrambled against its lsn order,
        within and across epochs, converges to the in-order oracle state.
        """
        import os

        if not stream_df.isStreaming:
            raise ValueError(
                "replay_stream requires a STREAMING DataFrame "
                "(spark.readStream...); for a batch apply use apply_batch_once"
            )
        missing = [
            f.name
            for f in self.change_schema.fields
            if f.name not in stream_df.columns
        ]
        if missing:
            raise ValueError(
                f"change stream is missing required columns {missing}; "
                f"expected {[f.name for f in self.change_schema.fields]}"
            )
        stream = stream_df.selectExpr(
            *[
                f"CAST({sql_ident(f.name)} AS {sql_type(f.dataType)})"
                f" AS {sql_ident(f.name)}"
                for f in self.change_schema.fields
            ]
        )
        self._epoch_scope = os.path.abspath(checkpoint_dir)
        if self.event_dedup:
            from .windows import dedup_stream_within_watermark

            key_cols = self.table.manifest()["key_cols"]
            stream = dedup_stream_within_watermark(
                stream, key_cols=[*key_cols, "lsn"], delay=self.event_dedup
            )
        # unique per replay CALL (monotonic nonce): a leaked tail listener
        # from a previous replay can never match a new query's name, so
        # progress rows are recorded exactly once per micro-batch
        qname = f"cdc_replay_{time.monotonic_ns():x}"
        if getattr(self, "_listener", None) is not None:
            # a previous continuous tail registered a listener this engine
            # owns — detach it before adding the new one
            try:
                self.spark.streams.removeListener(self._listener)
            except Exception:
                pass
            self._listener = None
        listener = _ProgressListener(self.lineage, qname)
        self.spark.streams.addListener(listener)
        writer = (
            stream.writeStream.foreachBatch(self.apply_batch)
            .option("checkpointLocation", checkpoint_dir)
            .queryName(qname)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=processing_time)
        q = writer.start()
        listener.bind(q.id)
        if available_now:
            try:
                q.awaitTermination(timeout_s)
            finally:
                # bus events are async: wait for the terminated event (FIFO
                # ⇒ all progress rows delivered) before detaching + flushing
                listener.done.wait(10)
                self.spark.streams.removeListener(listener)
                self.lineage.flush()
        else:
            # continuous tail: the listener lives as long as the query; the
            # caller's q.stop() ends progress events.  The query name is
            # unique per replay call, so even if this listener is never
            # removed it can never match a later query; the next replay()
            # on this engine detaches it explicitly (above)
            self._listener = listener
        return q

    def apply_batch_once(
        self, changelog_dir: str, epoch_id: int = 0, fmt: str = "json"
    ) -> dict:
        """Batch-mode apply of a whole changelog dir as one epoch (the
        'single-chunk ad-hoc re-run' path, SURVEY.md §3.2 — idempotent here)."""
        df = read_changelog_batch(
            self.spark, changelog_dir, schema=self.change_schema, fmt=fmt
        )
        return self.apply_batch(df, epoch_id)

    # ---------- reads ----------

    def read_table(self, version: int | None = None) -> DataFrame:
        return self.table.read(version=version)

    def stream_changes(self, starting_version: int | None = None) -> DataFrame:
        """This engine's table as a STREAMING change-event source
        (``sources/table_source.py``): registers the ``edem_cdc`` format
        on the session and returns the unstarted stream — snapshot
        versions as checkpointed offsets, rows in the change-batch shape
        ``(op, lsn, payload…)``.  ``starting_version`` replays history
        from that commit; default tails from the head at first drain.
        Feed it straight to another engine's ``replay_stream`` for
        streaming table-to-table replication."""
        from ..sources.table_source import register_cdc_source

        register_cdc_source(self.spark)
        r = self.spark.readStream.format("edem_cdc").option(
            "path", self.table.root
        )
        if starting_version is not None:
            r = r.option("startingVersion", int(starting_version))
        return r.load()

    def metrics_report(self) -> DataFrame:
        return self.lineage.stage_report()
