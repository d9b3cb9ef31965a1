"""Replica (follower) tables: log-shipping a ManifestTable into a second
table — the cross-region mirror / disaster-recovery follower / read
off-loading hop (Delta DEEP CLONE incremental re-sync, Iceberg
snapshot-shipping mirrors).

The reference pipeline's only downstream copy is the whole-prefix backup
re-run each execution (``Phase3-BackupData.py:23-41``); at 10^10 rows a
follower must instead consume O(appended change rows) per sync.

How a sync moves (sv = last replicated upstream version, t = upstream
head):

1. **Log-ship fast path.**  Walk the upstream manifest chain over
   ``(sv, t]`` (``ManifestTable._append_candidates`` — the change-feed
   machinery): when every step is a delta append or a state-preserving
   rewrite (compact/rebucket contribute zero changes by construction),
   the appended delta files ARE the log.  Their raw rows — original
   ``(ts, _lsn, _deleted)`` stamps included — are replayed through the
   replica's own MERGE, which runs the same per-key max-``(ts, lsn)``
   fold and tombstone rules as the upstream's write path, so the replica
   resolves every race exactly the way the upstream did (including
   ``merge_into``'s insert-over-tombstone rows, which are stamped at
   write time to outrank the tombstone — ``manifest.py merge_into``).
   Cost: O(appended rows in the range); the upstream table itself is
   never scanned.

2. **Snapshot resync fallback** (first sync, a CoW rewrite in the range,
   or an expired mid-range manifest): the upstream's folded state at
   ``t`` — INCLUDING delete tombstones, which the replica needs to keep
   blocking late resurrection — is replayed wholesale.  Correct because
   upstream per-key ``(ts, _lsn)`` is monotone over time (ordinary
   merges keep the max; ``update_where``/``merge_into`` stamp
   ``(t.ts, t._lsn + 1)``), so every snapshot row either outranks the
   replica's stored row or equals it (a same-stamp re-upsert is a
   state no-op).

3. **Rollback fence.**  An upstream ``rollback_to`` moves keys to OLDER
   stamps — no forward replay can follow it (the same reason
   ``changes()`` refuses the fast path there).  A rollback detected in
   the unsynced range raises ``ReplicaDiverged`` naming the upstream
   version to roll the replica back to (or recreate) — the honest
   contract every log-shipping replica has with a master reset.

4. **Watermarks are the upstream's.**  Every row a sync ships was
   admitted by the upstream's own watermark (``_merge``), or is an
   ``update_where`` rewrite of a live row stamped with that row's own
   ``ts``, which may precede the watermark on purpose.  So the replica's
   merge does not filter shipped rows again by the replica's OWN
   watermark (a purge or retention run on the replica table itself):
   doing so dropped such a rewrite and the mirror diverged.  The
   constraint this leaves: purge or retention-delete a replica only
   right after a sync to the upstream head, with a bound the upstream's
   watermark already covers — a later shipped row older than that bound
   could otherwise land over a tombstone the replica has purged.

Exactly-once: each sync merges with ``epoch_scope="replica",
epoch_id=t`` — the upstream version IS the idempotence token, and the
replica's own applied-epoch ledger is the resume point (no sidecar hint
objects needed).  The replica may re-bucket (``n_buckets`` independent
of upstream — a resharding mirror) and may PROJECT a column subset
(``columns=``, must keep the key columns and ``ts``); row filtering is
the derived-table layer's job (a filtered "replica" is a view, not a
log copy — an update moving a row out of the filter must become a
delete, which net-image machinery handles and raw log replay cannot).
"""
from __future__ import annotations

import json
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .manifest import ManifestTable, _data_files, _epoch_applied, _ledger_max
from .storage import TableStorage

_REPLICA_DIR = "_replica"
_DEF_KEY = f"{_REPLICA_DIR}/definition.json"


class ReplicaDiverged(RuntimeError):
    """The upstream was rolled back past the replica's resume point —
    forward log replay cannot follow a move to older version stamps.
    Roll the replica back to the snapshot it holds for the named upstream
    version (``replica.table.rollback_to``) or recreate it."""


class ReplicaTable:
    """A log-shipped follower of an upstream ManifestTable.  Duck-type
    compatible with ``CDCEngine.register_derived`` (exposes ``upstream``,
    ``root``, ``sync()``), so a tail can keep a mirror fresh behind every
    ingest epoch exactly like it does MVs."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        upstream: ManifestTable,
        table: ManifestTable,
        columns: list[str] | None = None,
    ):
        self.spark = spark
        self.root = root
        self.upstream = upstream
        self.table = table
        self.columns = list(columns) if columns is not None else None
        self.storage = table.storage

    # ---------- bootstrap ----------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        upstream: ManifestTable,
        n_buckets: int | None = None,
        columns: list[str] | None = None,
        storage: TableStorage | None = None,
    ) -> "ReplicaTable":
        """Idempotent create.  ``n_buckets`` defaults to the upstream's
        (pass a different count for a resharding mirror); ``columns``
        projects the replica to a subset (keys + ``ts`` mandatory — they
        are the merge identity and version)."""
        um = upstream.manifest()
        key_cols = list(um["key_cols"])
        up_schema = upstream.schema()
        up_names = [f.name for f in up_schema.fields]
        if columns is not None:
            missing = [c for c in columns if c not in up_names]
            if missing:
                raise ValueError(
                    f"columns not in upstream schema: {missing}"
                )
            need = [c for c in key_cols + ["ts"] if c not in columns]
            if need:
                raise ValueError(
                    f"columns must include the upstream key columns and "
                    f"ts (missing {need}) — they are the replica's merge "
                    f"identity and version ordering"
                )
            # preserve upstream column order (stable schema hashing)
            cols = [c for c in up_names if c in set(columns)]
        else:
            cols = up_names
        schema = T.StructType(
            [f for f in up_schema.fields if f.name in set(cols)]
        )
        table = ManifestTable.create(
            spark,
            root,
            schema,
            key_cols=key_cols,
            n_buckets=n_buckets if n_buckets is not None else um["n_buckets"],
            storage=storage,
        )
        t = cls(spark, root, upstream, table, columns=columns)
        t.storage.put_if_absent(
            _DEF_KEY,
            json.dumps(
                {
                    "upstream_root": upstream.root,
                    "columns": list(columns) if columns is not None else None,
                }
            ).encode(),
        )
        return t

    @classmethod
    def load(
        cls,
        spark: SparkSession,
        root: str,
        upstream: ManifestTable,
        storage: TableStorage | None = None,
    ) -> "ReplicaTable":
        """Reconstruct from the definition sidecar; rejects a mismatched
        upstream handle (same guard as ``DerivedTable.load`` — syncing
        from the wrong table would commit wrong state to this replica's
        exactly-once ledger)."""
        import os as _os

        table = ManifestTable(spark, root, storage=storage)
        d = json.loads(table.storage.get(_DEF_KEY))
        want = d.get("upstream_root")
        if (
            want is not None
            and want != upstream.root
            and _os.path.abspath(want) != _os.path.abspath(upstream.root)
        ):
            raise ValueError(
                f"replica at {root} was defined over upstream {want!r}, "
                f"not {upstream.root!r} — pass the upstream the definition "
                f"names"
            )
        return cls(spark, root, upstream, table, columns=d.get("columns"))

    # ---------- resume point ----------

    def last_synced_version(self) -> int | None:
        return self._synced(self.table.manifest())

    @staticmethod
    def _synced(m: dict[str, Any]) -> int | None:
        """The upstream version the replica's own ledger ``m`` last
        applied (scope ``replica``)."""
        return _ledger_max(m, lambda scope: scope == "replica")

    # ---------- sync ----------

    def _projected(
        self, df: DataFrame, schema_names: list[str], m: dict[str, Any]
    ) -> DataFrame:
        """``df`` narrowed to the replica's columns (``m``: its head)."""
        mine = set(T.StructType.fromJson(m["schema"]).fieldNames())
        if self.columns is None:
            # full-copy replica: carry every upstream payload column the
            # batch has (additive upstream evolution flows through — the
            # replica's merge evolves additively like any change batch)
            keep = [c for c in schema_names if c not in ("op", "lsn")]
        else:
            keep = [c for c in schema_names if c in mine]
        return df.select("op", "lsn", *keep)

    def sync(self, mode: str = "delta", **merge_kwargs) -> dict[str, Any]:
        """Bring the replica up to the upstream head.  Returns the merge
        result dict (plus ``path``: 'log' or 'snapshot')."""
        t0 = time.monotonic()
        t = self.upstream.current_version()
        mine = self.table.manifest()  # the replica's head, resolved once
        sv = self._synced(mine)
        if sv is not None and t == sv:
            return {"status": "NoChange", "version": t}
        if _epoch_applied(mine, f"replica:{t}"):
            return {"status": "Skipped", "version": t}

        up = self.upstream
        mb = up.manifest(t)
        cand = None
        if sv is not None:
            # one walk of the upstream chain over (sv, t] serves both the
            # rollback fence and the log-ship candidates
            steps, complete = up._chain(sv, mb)
            rb = next(
                (
                    x["version"]
                    for x in [mb, *(p for p, _ in steps)]
                    if x["version"] > sv
                    and str(x.get("epoch_id") or "").startswith("rollback:")
                ),
                None,
            )
            if rb is not None:
                raise ReplicaDiverged(
                    f"upstream rolled back at v{rb} (> replicated v{sv}) — "
                    f"forward log replay cannot follow a move to older "
                    f"version stamps; rollback_to the replica snapshot "
                    f"that mirrored v{sv} or recreate the replica"
                )
            if complete:
                cand = up._candidates(steps)
            else:
                # the walk stopped short of sv: a resume snapshot expired
                # upstream fails loudly (FileNotFoundError) — the snapshot
                # resync cannot see what retention or a tombstone purge
                # removed in the gap; only a mid-range expiry resyncs
                up.manifest(sv)

        payload_names = [
            f.name for f in T.StructType.fromJson(mb["schema"]).fields
        ]
        if cand is not None:
            files, ret_dropped, _est = cand
            raw = up._scan(mb, files, live=False)
            path = "log"
        else:
            # snapshot resync: every file at t, tombstones INCLUDED, and no
            # pre-fold — the replica's merge dedups the batch by per-key
            # max-(ts, lsn) anyway (the same fold), so folding twice would
            # just pay a second shuffle
            raw = up._scan(mb, [p for _, p, _ in _data_files(mb)], live=False)
            ret_dropped = []
            path = "snapshot"

        batch = self._projected(
            raw.select(
                F.when(
                    F.coalesce(F.col("_deleted"), F.lit(False)), F.lit("D")
                )
                .otherwise(F.lit("U"))
                .alias("op"),
                F.coalesce(F.col("_lsn"), F.lit(0)).alias("lsn"),
                *payload_names,
            ),
            payload_names,
            mine,
        )
        if ret_dropped:
            # a retention_delete upstream removed these files with a
            # metadata commit: their rows were live at that moment, so the
            # replica applies them as DELETE tombstones stamped
            # (row ts, _lsn + 1) — identical to delete_where's versioning.
            # Exact convergence with the upstream is guaranteed by the
            # upstream's retention watermark: any pre-cutoff upsert these
            # tombstones could block is already filtered out of upstream
            # commits and therefore never shipped here.
            ek = set(mb["key_cols"])
            dr = up._scan(mb, ret_dropped, live=False)
            dels = self._projected(
                dr.select(
                    F.lit("D").alias("op"),
                    (F.coalesce(F.col("_lsn"), F.lit(0)) + 1).alias("lsn"),
                    *[
                        F.col(n)
                        if n in ek or n == "ts"
                        else F.lit(None)
                        .cast(dr.schema[n].dataType)
                        .alias(n)
                        for n in payload_names
                    ],
                ),
                payload_names,
                mine,
            )
            batch = batch.unionByName(dels)
        res = self.table._merge(
            mine,
            batch,
            epoch_id=t,
            epoch_scope="replica",
            mode=mode,
            # shipped rows already passed the upstream's watermark (see 4.
            # in the module docstring)
            _bypass_watermark=True,
            **merge_kwargs,
        )
        res["path"] = path
        res["upstream_version"] = t
        res["duration_s"] = time.monotonic() - t0
        return res
