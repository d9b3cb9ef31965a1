"""Type-2 slowly-changing-dimension (SCD2) history tables: apply the
change stream so EVERY version of every row survives with a validity
interval, instead of folding to latest-state.

The reference's only history story is object-copy backups of whole
pipeline prefixes (``Phase3-BackupData.py:18-39`` — pre-transform and
final full copies per run); answering "what did this row look like at
time t" means restoring a backup and re-running downstream.  An SCD2
table answers it with one filter, and a training-data pipeline over
transcripts gets the turn-EDIT history (who rewrote which turn when) as
a first-class table instead of a diff over backups.

Model — one version row per change event:

* ``vf_lsn``      — the LSN of the event that opened this version
                    (part of the backing table's key: history rows are
                    immutable facts keyed by the event that made them).
* ``ts``          — the version's valid-from instant (the event's own
                    ``ts``; exposed as ``valid_from`` by :meth:`read`).
* ``change_op``   — ``'U'`` (the version is live data) or ``'D'`` (a
                    delete marker: a zero-width interval recording WHEN
                    the key vanished; ``valid_to == ts`` always).
* ``valid_to``    — the next event's ``ts``; NULL = still open.
* ``is_last``     — this is the key's newest version row (any op).
                    ``is_current`` (read-side) = ``is_last AND
                    change_op='U'`` — the open, live version.

Version order per key is ``(ts, lsn)`` lexicographic — IDENTICAL to the
latest-state engine's max-version MERGE rule, so ``current()`` equals
the ``ManifestTable`` built from the same stream, row for row.

Apply modes:

* ``mode="inorder"`` (default, the binlog-tail path): requires per-key
  delivery in version order ACROSS apply() calls (within a batch any
  order is fine — a window sorts it), i.e. exactly the order a binlog /
  WAL shard already gives.  Cost per batch: O(batch) window + ONE
  stats-pruned, semi-join-restricted read of the touched keys' newest
  version rows (the bucket layout co-locates a key's whole history, and
  the read is bounded by the batch's key range via manifest stats).
  Events at-or-below a key's applied version are TRIMMED — the same
  "older version loses" rule the MERGE path applies — which also makes
  cross-batch redelivery of individual events a no-op.
* ``mode="repair"``: delivery-order-proof.  Rebuilds the interval chain
  of the TOUCHED keys only — union of their existing version rows
  (version rows are invertible back to change events) and the batch,
  re-windowed and re-merged.  O(touched keys' history) per batch; the
  path for late/backfill feeds and for healing an out-of-order lapse.

Both end in ONE exactly-once ``ManifestTable.merge`` (epoch ledger =
the same exactly-once token the latest-state sink uses).  The merge's
version columns are ``(ts = the row's own valid_from, lsn = a per-apply
clock derived from the backing table version)`` — a re-emitted row
(closing an interval, or a repair) always carries its original
``valid_from`` with a strictly newer clock, so it deterministically
wins the max-version comparison against the row it supersedes.

Single logical writer per SCD2 table (the same contract as any CDC
apply loop); the backing table's optimistic manifest commits protect
metadata integrity, not cross-apply serializability.
"""
from __future__ import annotations

import functools
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..schemas import KEY_COLS
from .manifest import ManifestTable, _data_files
from .storage import TableStorage

# engine-managed history columns (read-side also exposes valid_from /
# is_current as derived names, so payloads may not claim those either)
_HISTORY_COLS = ("vf_lsn", "change_op", "valid_to", "is_last")
_DERIVED_NAMES = ("valid_from", "is_current")


def _and_all(conds):
    return functools.reduce(lambda a, b: a & b, conds)


class SCD2Table:
    """History-preserving apply target over the standard change-event
    contract (``op``/``lsn``/``ts``/keys/payload — the same frame
    ``ManifestTable.merge`` takes)."""

    def __init__(self, table: ManifestTable):
        m = table.manifest()
        kc = m["key_cols"]
        names = {f.name for f in table.schema().fields}
        if len(kc) < 2 or kc[-1] != "vf_lsn" or not set(_HISTORY_COLS) <= names:
            raise ValueError(
                f"{table.root} is not an SCD2 table: expected key_cols "
                f"(*user_keys, 'vf_lsn') and history columns "
                f"{list(_HISTORY_COLS)}, found key_cols={kc}"
            )
        self.table = table
        self.spark = table.spark
        self.key_cols: list[str] = list(kc[:-1])

    # ---------- lifecycle ----------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        payload_schema: T.StructType,
        key_cols: list[str] | None = None,
        n_buckets: int = 16,
        storage: TableStorage | None = None,
        **create_kwargs: Any,
    ) -> "SCD2Table":
        """Idempotent create.  ``payload_schema`` is the ROW schema (must
        contain the key columns and a ``ts`` timestamp — the event-time /
        valid-from column, same contract as the latest-state sink)."""
        kc = list(key_cols or KEY_COLS)
        names = payload_schema.fieldNames()
        clash = [
            c for c in names if c in _HISTORY_COLS or c in _DERIVED_NAMES
        ]
        if clash:
            raise ValueError(
                f"payload uses SCD2-managed column names {clash} — rename "
                f"them (history columns: {list(_HISTORY_COLS)}, read-side "
                f"derived: {list(_DERIVED_NAMES)})"
            )
        missing = [k for k in kc if k not in names]
        if missing:
            raise ValueError(f"key_cols not in payload schema: {missing}")
        if "ts" not in names or not isinstance(
            payload_schema["ts"].dataType, T.TimestampType
        ):
            raise ValueError(
                "payload schema must carry a timestamp column 'ts' (the "
                "event-time / valid-from column of the change contract)"
            )
        rest = [
            f for f in payload_schema.fields if f.name not in kc and f.name != "ts"
        ]
        fields = (
            [payload_schema[k] for k in kc]
            + [
                T.StructField("vf_lsn", T.LongType(), False),
                payload_schema["ts"],
                T.StructField("change_op", T.StringType(), False),
                T.StructField("valid_to", T.TimestampType(), True),
                T.StructField("is_last", T.BooleanType(), True),
            ]
            + rest
        )
        backing = ManifestTable.create(
            spark,
            root,
            T.StructType(fields),
            key_cols=[*kc, "vf_lsn"],
            n_buckets=n_buckets,
            storage=storage,
            **create_kwargs,
        )
        return cls(backing)

    @classmethod
    def load(
        cls, spark: SparkSession, root: str, storage: TableStorage | None = None
    ) -> "SCD2Table":
        t = ManifestTable(spark, root, storage=storage)
        if not t.exists():
            raise FileNotFoundError(f"no table at {root}")
        return cls(t)

    # ---------- helpers ----------

    @property
    def _rest_cols(self) -> list[str]:
        """Payload columns beyond keys + ts (current backing schema)."""
        skip = set(self.key_cols) | set(_HISTORY_COLS) | {"ts"}
        return [f.name for f in self.table.schema().fields if f.name not in skip]

    def _normalize(self, changes: DataFrame) -> DataFrame:
        """Change frame → (change_op, vf_lsn, ts, keys, payload...), one
        row per (key, lsn) — exact redelivered copies inside the batch
        collapse here (an lsn identifies an event immutably)."""
        need = {"op", "lsn", "ts", *self.key_cols}
        missing = sorted(need - set(changes.columns))
        if missing:
            raise ValueError(f"change frame is missing columns: {missing}")
        payload = [c for c in changes.columns if c not in ("op", "lsn")]
        return changes.select(
            F.when(F.col("op") == "D", F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("change_op"),
            F.col("lsn").cast("long").alias("vf_lsn"),
            *payload,
        ).dropDuplicates([*self.key_cols, "vf_lsn"])

    def _chain(self, b: DataFrame) -> DataFrame:
        """Interval chain over normalized rows: valid_to = next event's
        ts (a 'D' version is a zero-width marker), is_last per key."""
        w = Window.partitionBy(*self.key_cols).orderBy("ts", "vf_lsn")
        nxt = F.lead("ts").over(w)
        return b.select(
            "*",
            F.when(F.col("change_op") == "D", F.col("ts"))
            .otherwise(nxt)
            .alias("valid_to"),
            nxt.isNull().alias("is_last"),
        )

    def _merge_frame(self, rows: DataFrame, clock: int) -> DataFrame:
        """Stamp merge verb/version: op='U' (history rows are never
        deleted), lsn=clock (monotone per apply → re-emits win)."""
        return rows.select(
            F.lit("U").alias("op"),
            F.lit(int(clock)).cast("long").alias("lsn"),
            "*",
        )

    def _restricted_read(
        self, kdf: DataFrame, stats, broadcast: bool
    ) -> DataFrame:
        """Snapshot rows of the touched keys only: manifest-stats range
        pruning on the first key column + a (broadcast when small)
        null-safe semi-join on the exact key set."""
        mn, mx = stats["mn"], stats["mx"]
        where = None
        if mn is not None and mx is not None and not int(stats["n_null"]):
            where = {self.key_cols[0]: (mn, mx)}
        snap = self.table.read(where=where)
        r = kdf.select(
            *[F.col(c).alias(f"_k_{c}") for c in self.key_cols]
        )
        if broadcast:
            r = F.broadcast(r)
        cond = _and_all(
            F.col(c).eqNullSafe(F.col(f"_k_{c}")) for c in self.key_cols
        )
        return snap.join(r, cond, "left_semi")

    # ---------- apply ----------

    def apply(
        self,
        changes: DataFrame,
        epoch_id: int,
        epoch_scope: str = "batch",
        mode: str = "inorder",
        merge_mode: str = "delta",
        broadcast_keys: int = 2_000_000,
        **merge_kwargs: Any,
    ) -> dict[str, Any]:
        """Apply one change batch to the history.  Exactly-once per
        ``(epoch_scope, epoch_id)`` via the backing table's epoch ledger;
        see the module docstring for the two modes' contracts/costs."""
        if mode not in ("inorder", "repair"):
            raise ValueError(f"mode must be inorder|repair, got {mode!r}")
        if self.table.epoch_applied(epoch_id, epoch_scope):
            return {
                "status": "Skipped",
                "epoch_id": epoch_id,
                "version": self.table.current_version(),
                "reason": "epoch already committed",
            }
        clock = (self.table.current_version() or 0) + 1
        b = self._normalize(changes).persist()
        try:
            kdf = b.select(*self.key_cols).distinct().persist()
            try:
                k0 = self.key_cols[0]
                stats = kdf.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.min(k0).alias("mn"),
                    F.max(k0).alias("mx"),
                    # a NULL first-key value cannot ride a range bound
                    # (bounds are >=/<= filters, which drop NULLs) — the
                    # pruning hint is skipped for such batches
                    F.count(F.when(F.col(k0).isNull(), 1)).alias("n_null"),
                ).collect()[0]
                nk, small = int(stats["n"]), int(stats["n"]) <= broadcast_keys
                m = self.table.manifest()
                empty = not _data_files(m)
                if nk == 0 or empty:
                    rows = self._chain(b)
                elif mode == "inorder":
                    rows = self._apply_inorder(b, kdf, stats, small)
                else:
                    rows = self._apply_repair(b, kdf, stats, small)
                res = self.table.merge(
                    self._merge_frame(rows, clock),
                    epoch_id=epoch_id,
                    epoch_scope=epoch_scope,
                    mode=merge_mode,
                    **merge_kwargs,
                )
                res["scd2_mode"] = mode
                res["touched_keys"] = nk
                return res
            finally:
                kdf.unpersist()
        finally:
            b.unpersist()

    def _apply_inorder(
        self, b: DataFrame, kdf: DataFrame, stats, small: bool
    ) -> DataFrame:
        last = self._restricted_read(kdf, stats, small).filter(
            F.col("is_last")
        )
        # trim events at-or-below each key's applied version — the merge
        # path's "older version loses" rule, and the cross-batch
        # redelivery guard.  last is tiny (≤ touched keys): broadcast it
        # under the same guard as the semi-join.
        linfo = last.select(
            *[F.col(c).alias(f"_k_{c}") for c in self.key_cols],
            F.col("ts").alias("_last_ts"),
            F.col("vf_lsn").alias("_last_lsn"),
        )
        if small:
            linfo = F.broadcast(linfo)
        cond = _and_all(
            F.col(c).eqNullSafe(F.col(f"_k_{c}")) for c in self.key_cols
        )
        fresh = (
            b.join(linfo, cond, "left")
            .filter(
                F.col("_last_ts").isNull()
                | (F.col("ts") > F.col("_last_ts"))
                | (
                    (F.col("ts") == F.col("_last_ts"))
                    & (F.col("vf_lsn") > F.col("_last_lsn"))
                )
            )
            .drop(
                *[f"_k_{c}" for c in self.key_cols], "_last_ts", "_last_lsn"
            )
        )
        vrows = self._chain(fresh)
        # close each touched key's previous newest version: a live 'U'
        # interval ends at the first fresh event; a 'D' marker keeps its
        # zero-width interval — only its is_last flag drops.
        first = fresh.groupBy(*self.key_cols).agg(
            F.min(F.struct("ts", "vf_lsn")).alias("_first")
        )
        finfo = first.select(
            *[F.col(c).alias(f"_k_{c}") for c in self.key_cols],
            F.col("_first.ts").alias("_first_ts"),
        )
        if small:
            finfo = F.broadcast(finfo)
        closing = (
            last.join(finfo, cond, "inner")
            .select(
                *self.key_cols,
                "vf_lsn",
                "ts",
                "change_op",
                F.when(F.col("change_op") == "U", F.col("_first_ts"))
                .otherwise(F.col("valid_to"))
                .alias("valid_to"),
                F.lit(False).alias("is_last"),
                *self._rest_cols,
            )
        )
        return vrows.unionByName(closing, allowMissingColumns=True)

    def _apply_repair(
        self, b: DataFrame, kdf: DataFrame, stats, small: bool
    ) -> DataFrame:
        existing = self._restricted_read(kdf, stats, small).select(
            # version rows invert to change events: drop the chain columns
            "change_op",
            "vf_lsn",
            "ts",
            *self.key_cols,
            *self._rest_cols,
        )
        merged = (
            existing.unionByName(b, allowMissingColumns=True)
            # an lsn identifies an event immutably — a redelivered copy is
            # byte-identical to the stored version row, either survives
            .dropDuplicates([*self.key_cols, "vf_lsn"])
        )
        return self._chain(merged)

    # ---------- read ----------

    def read(
        self,
        version: int | None = None,
        at=None,
        tag: str | None = None,
        as_of=None,
    ) -> DataFrame:
        """Full history (one row per version) with user-facing names:
        ``valid_from`` (the stored ``ts``), ``is_current`` (= ``is_last
        AND change_op='U'``).  ``at`` slices AS-OF an instant: the live
        versions whose interval contains it — the latest state of the
        table at that moment (event-time travel, finer than snapshot
        time travel via ``version``/``tag``/``as_of``, which select a
        COMMIT)."""
        df = self.table.read(version=version, tag=tag, as_of=as_of)
        out = df.select(
            *self.key_cols,
            "vf_lsn",
            "change_op",
            F.col("ts").alias("valid_from"),
            "valid_to",
            "is_last",
            (F.col("is_last") & (F.col("change_op") == "U")).alias(
                "is_current"
            ),
            *self._rest_cols,
        )
        if at is not None:
            at_c = F.lit(at).cast("timestamp")
            out = out.filter(
                (F.col("change_op") == "U")
                & (F.col("valid_from") <= at_c)
                & (F.col("valid_to").isNull() | (F.col("valid_to") > at_c))
            )
        return out

    def current(self) -> DataFrame:
        """The latest-state slice — equals the ``ManifestTable`` built
        from the same change stream (same ``(ts, lsn)`` version rule),
        pinned by ``tests/test_scd2.py``."""
        return (
            self.table.read()
            .filter(F.col("is_last") & (F.col("change_op") == "U"))
            .select(*self.key_cols, "ts", *self._rest_cols)
        )
