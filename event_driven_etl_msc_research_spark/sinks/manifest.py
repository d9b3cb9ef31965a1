"""ManifestTable — Iceberg-style snapshot table over Parquet + JSON manifests.

Replaces the reference's warehouse layer end-to-end:

* Athena ``CREATE EXTERNAL TABLE`` + CSV SerDe (``Phase3-DataLoad.py:99-124``)
  → typed Parquet data files tracked by commit manifests;
* ``MSCK REPAIR TABLE`` partition discovery per chunk
  (``Phase3-DataLoad.py:169-175``) → manifests list data files directly, no
  discovery step ever;
* per-stage DynamoDB tracking rows + compensation-delete lambdas
  (``Phase3-Data-Extraction.py:123-136``, ``RevertDataFromLoadErrorLambda.py:44-74``)
  → write-audit-publish: data lands in an unreferenced staging dir, a single
  atomic manifest rename publishes it; a failed epoch simply never publishes
  (orphans are vacuumed lazily) — no compensating deletes;
* completion-marker row (``Backup_03072024/.../DataLoading.py:154-165``)
  → the manifest itself, keyed by ``epoch_id`` for idempotent re-delivery;
* final-backup object copies (``Phase3-BackupData.py:18-39``) → snapshot
  time travel: every manifest version remains readable (``read(version=k)``).

Scale design (10^10 events / 100 TB):
* the table is hash-bucketed on ``conv_id`` (``n_buckets`` fixed at create);
  a MERGE rewrites ONLY the buckets touched by the batch — copy-on-write at
  bucket granularity, so per-batch cost is O(touched data), not O(table);
* the MERGE itself is a single hash aggregate (union of target-touched +
  deduped changes, then per-key max-version) — map-side partial aggregation
  absorbs hot-key skew; no sort, no window;
* ``mode="delta"`` (merge-on-read, Iceberg-MOR/Paimon-style): the epoch
  commit writes ONLY the deduped change batch as bucket-partitioned delta
  files — per-epoch cost O(batch) regardless of table size; readers fold
  base+delta by the same per-key max-version rule; ``compact()`` folds
  deltas back into base files at bucket granularity.  A high-frequency
  binlog tail at 10^10-event scale needs this: with random key spread,
  copy-on-write touches every bucket every epoch and degrades to O(table)
  per commit;
* readers resolve state ONLY through manifests (never directory listing),
  so commits are atomic and concurrent readers see consistent snapshots.
"""

from __future__ import annotations

import functools
import json
import os
import re
import time
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.dedup import dedup_latest
from ..schemas import KEY_COLS
from ..util import sql_ident, sql_type
from .storage import LocalFSStorage, TableStorage

_MANIFEST_DIR = "_manifest"
_DATA_DIR = "data"
# shallow-clone external file reference: everything after the prefix is an
# ABSOLUTE Spark-readable path into the clone source's data tree
_EXT_PREFIX = "ext://"
_TAGS_DIR = "_tags"
_BRANCH_REFS_DIR = "_branches"           # branch ref objects ({name}.json)
_BRANCH_META_DIR = "_manifest_branches"  # per-branch manifest chains
# content-addressed manifest SEGMENT pool (shared by main + every branch):
# large snapshots externalize their per-bucket file listings/stats here so a
# commit uploads only the segments whose content changed — see _externalize
_SEG_DIR = "_manifest_seg"


def _segment_refs(m: dict[str, Any]) -> list[str]:
    """Segment object keys a raw manifest references: an index-addressed
    dict ``{str(bucket % segment_mod): key}`` (which lets a pinned-bucket
    read splice ONE segment)."""
    return list((m.get("segments") or {}).values())


class SchemaEvolutionError(ValueError):
    pass


class ConstraintViolationError(ValueError):
    """A change batch contains rows that fail a table CHECK constraint
    (Delta Lake ``DeltaInvariantViolationException`` analogue).  Raised
    BEFORE publish: the staged files are unreferenced and the table
    snapshot is untouched — the epoch can be retried after fixing the
    data or dropping the constraint."""


class ManifestConflict(RuntimeError):
    """Another writer committed this manifest version first (optimistic
    concurrency loss).  ``merge`` catches it and rebases; see
    ``ManifestTable.merge`` retries."""


def _bucket_expr(
    n_buckets: int,
    bucket_col: str = "conv_id",
    as_type: T.DataType | None = None,
):
    # deterministic hash bucket of the first key column — the physical
    # partition and the MERGE rewrite unit (co-locates a conversation).
    # ``as_type``: hash the value cast to the table's type (a change batch
    # may carry the key narrower; xxhash64 hashes int and bigint apart)
    c = sql_ident(bucket_col)
    if as_type is not None:
        c = f"CAST({c} AS {sql_type(as_type)})"
    return F.expr(f"CAST(pmod(xxhash64({c}), {int(n_buckets)}) AS INT)")


def _fold_rows(df: DataFrame, key_cols: list[str]) -> DataFrame:
    # the merge-on-read rule: per key, the row with the max (ts, _lsn) wins
    return dedup_latest(df, key_cols, ["ts", "_lsn"])


def _fold_on_buckets(
    df: DataFrame, key_cols: list[str], version_cols=("ts", "_lsn")
) -> DataFrame:
    """The fold of a write: ``df`` carries ``_bucket``, a function of the
    key, so exchanging on it and grouping by ``(_bucket, *key_cols)``
    picks the same winners as grouping by key.  That exchange is the one
    ``_stage`` needs (Spark drops ``_stage``'s own ``_bucket``
    repartition as redundant), and one sort on ``(_bucket, *key_cols)``
    serves both the aggregate and the writer: one exchange and one sort
    per staged write.  The price is the
    map-side partial combine — every input row crosses the exchange —
    which a conversation's rows pay anyway on the way to its bucket's
    writer task."""
    return dedup_latest(
        df.repartition(F.expr("`_bucket`")), ["_bucket", *key_cols], version_cols
    )


def _split_epoch_key(key: str) -> tuple[str, int] | None:
    scope, _, tail = key.rpartition(":")
    if not scope:
        return None
    try:
        return scope, int(tail)
    except ValueError:
        return None


def _epoch_applied(m: dict[str, Any], epoch_key: str) -> bool:
    """Exactly-once membership check: the explicit tail list OR the folded
    per-scope contiguous ranges (see ``_fold_applied``)."""
    if epoch_key in m["applied_epochs"]:
        return True
    parsed = _split_epoch_key(epoch_key)
    if parsed is None:
        return False
    scope, eid = parsed
    r = (m.get("applied_ranges") or {}).get(scope)
    return bool(r) and r[0] <= eid <= r[1]


def _ledger_max(m: dict[str, Any], in_scope) -> int | None:
    """The highest epoch id ``m``'s applied-epoch ledger holds under the
    scopes ``in_scope`` accepts, folded ranges included (None: none) — the
    resume point of replicas and derived tables, whose epoch ids are
    upstream versions."""
    ids = [
        parsed[1]
        for parsed in map(_split_epoch_key, m["applied_epochs"])
        if parsed is not None and in_scope(parsed[0])
    ]
    ids += [
        r[1]
        for scope, r in (m.get("applied_ranges") or {}).items()
        if r and in_scope(scope)
    ]
    return max(ids, default=None)


def _fold_applied(
    applied: list[str], ranges: dict[str, list[int]], max_entries: int
) -> tuple[list[str], dict[str, list[int]]]:
    """Bound the applied-epochs metadata: when the explicit list exceeds
    ``max_entries``, fold each scope's CONTIGUOUS run of epoch ids into a
    single inclusive ``[lo, hi]`` range (extending an existing range only
    through ids adjacent to it, so a range never claims an id that was not
    actually applied).

    Without this a long tail rewrites an ever-growing epoch list into
    EVERY manifest — O(n²) metadata bytes over the stream's life.  With
    it the common case (streaming epochs commit in order per checkpoint
    scope) folds to one range per scope plus a bounded tail of recent /
    out-of-order entries."""
    if len(applied) <= max_entries:
        return applied, ranges
    by_scope: dict[str, list[int]] = {}
    passthrough: list[str] = []
    for key in applied:
        parsed = _split_epoch_key(key)
        if parsed is None:
            passthrough.append(key)
            continue
        by_scope.setdefault(parsed[0], []).append(parsed[1])
    new_ranges = {s: list(r) for s, r in ranges.items()}
    kept: list[str] = list(passthrough)
    for scope, ids in by_scope.items():
        ids = sorted(set(ids))
        r = new_ranges.get(scope)
        if r is None:
            # open a range at the scope's smallest id and absorb the
            # contiguous run from there
            lo = hi = ids[0]
            rest = ids[1:]
        else:
            lo, hi = r
            rest = ids
        for i in rest:
            if i == hi + 1:
                hi = i
            elif lo <= i <= hi:
                continue  # already inside the range
            else:
                # below lo or past a gap: stays explicit — a range must
                # never claim an id that was not actually applied, and
                # dropping an id below lo would lose its membership
                kept.append(f"{scope}:{i}")
        new_ranges[scope] = [lo, hi]
    return kept, new_ranges


def _stat_to_json(v):
    """JSON-encode a parquet footer statistic.  TOTAL over every stat type
    pyarrow can hand back (datetime, date, Decimal, bytes, scalars) — an
    unknown type returns None so the COLUMN'S STAT IS DROPPED rather than
    json.dump blowing up the manifest publish (a commit must never fail
    because one column's statistic is exotic)."""
    import datetime as _dt
    import decimal as _dec

    if isinstance(v, _dt.datetime):
        if v.tzinfo is None:  # parquet UTC-adjusted timestamps are instants
            v = v.replace(tzinfo=_dt.timezone.utc)
        return {"_ts": v.isoformat()}
    if isinstance(v, _dt.date):
        return {"_d": v.isoformat()}
    if isinstance(v, _dec.Decimal):
        return {"_n": str(v)}
    if isinstance(v, (bytes, bytearray)):
        return v.decode("utf-8", errors="replace")
    if isinstance(v, (str, int, float, bool)):
        return v
    return None  # unknown stat type: drop, never crash the commit


def _stat_from_json(v):
    import datetime as _dt
    import decimal as _dec

    if isinstance(v, dict) and "_ts" in v:
        return _dt.datetime.fromisoformat(v["_ts"])
    if isinstance(v, dict) and "_d" in v:
        return _dt.date.fromisoformat(v["_d"])
    if isinstance(v, dict) and "_n" in v:
        return _dec.Decimal(v["_n"])
    return v


# Manifest keys ManifestTable._commit treats specially.  Table config a
# rollback or branch publish never reverts (the head's wins):
_CONFIG_KEYS = ("properties", "cloned_from")
# monotone event-time watermarks (table config, never moved backward):
# ``retention_ts`` is retention_delete's cutoff — also its drop floor —
# and ``lateness_ts`` the tombstone-purge bound of compact
_WATERMARK_KEYS = ("retention_ts", "lateness_ts")
# fields describing ONE commit, never inherited by the next
_PER_COMMIT_KEYS = ("added_cols", "retdel_dropped", "retdel_rows")
# largest change batch (keys) a CoW merge broadcasts into the target scan
_BROADCAST_MAX_KEYS = 1_000_000


def _policy_on_columns(props: dict[str, str], col) -> dict[str, str]:
    """``props`` with the layout policy's column lists
    (``maintenance.compact.sort_by``/``zorder_by``) mapped through
    ``col``: a name to its current name, or to None when the column is
    gone.  A list left empty unsets its key."""
    out = dict(props)
    for k in ("maintenance.compact.sort_by", "maintenance.compact.zorder_by"):
        names = map(str.strip, out.pop(k, "").split(","))
        if cols := [n for c in names if c and (n := col(c))]:
            out[k] = ",".join(cols)
    return out


def _watermark(m: dict[str, Any]):
    """The bound merge drops older upserts below: the later of the two
    watermarks, or None when neither is set."""
    marks = [_stat_from_json(m[k]) for k in _WATERMARK_KEYS if m.get(k)]
    return max(marks) if marks else None


def _norm_bound(v, dtype: T.DataType | None = None):
    """Normalize a query bound for comparison against decoded stats.

    TYPE-AWARE: string→datetime parsing happens ONLY when the column's
    declared type is temporal — otherwise a date-like string bound on a
    STRING column (e.g. the week-keyed table's 'yyyy-MM-dd' keys, or
    all-digit conv ids, which ``fromisoformat`` happily parses) would be
    silently coerced into a timestamp literal and empty the read."""
    import datetime as _dt

    temporal = dtype is None or isinstance(
        dtype, (T.TimestampType, T.TimestampNTZType, T.DateType)
    )
    if isinstance(v, str) and temporal and dtype is not None:
        try:
            if isinstance(dtype, T.DateType):
                return _dt.date.fromisoformat(v)
            d = _dt.datetime.fromisoformat(v)
            return d.replace(tzinfo=_dt.timezone.utc) if d.tzinfo is None else d
        except ValueError:
            return v
    if isinstance(v, str) and dtype is None:
        # no type context (legacy callers): keep the string untouched —
        # never guess
        return v
    if isinstance(v, _dt.datetime) and v.tzinfo is None:
        return v.replace(tzinfo=_dt.timezone.utc)
    return v


def _footer_minmax(md, stats_cols: list[str]) -> dict[str, list]:
    """Per-column [min, max, null_count] over all row groups of one parquet
    footer (already in memory — no extra I/O).  Columns whose min/max
    statistics are absent are omitted → the file is never pruned on them —
    EXCEPT a column that is provably ALL NULL in the file (every row group
    reports null_count == its row count), recorded as
    ``[None, None, null_count]`` so null-predicate pruning can skip it.
    The third element is present only when EVERY row group records a null
    count (it's what lets ``retention_delete`` prove null-freeness and
    ``read(where={col: "is_null"/"not_null"})`` prune files from the
    manifest alone); readers index ``[0]``/``[1]`` so older two-element
    entries keep working.  All-null row groups contribute no values, so a
    mixed file still gets tight min/max from its value-bearing groups.

    Two engine pseudo-columns are harvested UNCONDITIONALLY (even with no
    ``stats_cols`` configured — the footer is already in memory):
    ``::rows`` (the file's row count) and, when provable from the
    ``_deleted`` boolean column's row-group statistics alone, ``::dead``
    (the file's tombstone count).  Together they make
    :meth:`ManifestTable.count` a pure manifest read — live rows =
    Σ(rows − dead) — with zero Spark jobs and zero file I/O on a
    delta-free table.  ``::dead`` is omitted when any row group mixes
    live and tombstone rows without separating them in stats (min=False,
    max=True); ``count()`` then falls back to a pruned scan of just those
    files."""
    idx = _footer_cols(md)
    out: dict[str, list] = {}
    for col in stats_cols or ():
        i = idx.get(col)
        if i is None:
            continue
        lo = hi = None
        nulls: int | None = 0
        ok = md.num_row_groups > 0
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            st = rg.column(i).statistics
            if st is None:
                ok = False
                break
            if nulls is not None and st.has_null_count:
                nulls += st.null_count
            else:
                nulls = None
            if st.has_null_count and st.null_count == rg.num_rows:
                continue  # all-null group: no values to fold into min/max
            if not st.has_min_max:
                ok = False
                break
            lo = st.min if lo is None or st.min < lo else lo
            hi = st.max if hi is None or st.max > hi else hi
        if not ok:
            continue
        if lo is None and hi is None:
            # every group proved all-null (the continue path requires
            # has_null_count), so nulls is an int == md.num_rows here
            out[col] = [None, None, nulls]
        else:
            lo_j, hi_j = _stat_to_json(lo), _stat_to_json(hi)
            if lo_j is not None and hi_j is not None:
                out[col] = (
                    [lo_j, hi_j] if nulls is None else [lo_j, hi_j, nulls]
                )
    # per-FILE row count under a reserved pseudo-column ("::" can never be
    # a column name) — with the null counts above, this is what lets
    # retention_delete's drop phase and count() run from the manifest alone
    out["::rows"] = [md.num_rows]
    dead = _footer_dead_count(md)
    if dead is not None:
        out["::dead"] = [dead]
    return out


def _footer_dead_count(md) -> int | None:
    """Exact tombstone (``_deleted`` = true) count of one parquet file,
    from its footer statistics alone — or ``None`` when not provable.

    Booleans carry min/max in parquet stats: a row group with
    ``max == False`` holds no tombstones; one with ``min == True`` is all
    tombstones among its non-null values (nulls read as live — the read
    path coalesces ``_deleted`` to false).  A group mixing both gives up
    (``None``): ``count()`` scans that file instead.  Compaction
    writes keep tombstones, so post-compact files are commonly mixed —
    but a table that never deletes proves ``dead = 0`` everywhere, and a
    tombstone-purged compaction (``purge_tombstones_before``) restores
    all-live files."""
    i = _footer_cols(md).get("_deleted")
    if i is None:
        return 0  # column absent: written before deletes existed → all live
    dead = 0
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        st = rg.column(i).statistics
        if st is None or not st.has_null_count:
            return None
        non_null = rg.num_rows - st.null_count
        if non_null == 0:
            continue  # all-null group: reads as live
        if not st.has_min_max:
            return None
        if st.max is False or st.max == False:  # noqa: E712 — pyarrow bool
            continue
        if st.min is True or st.min == True:  # noqa: E712
            dead += non_null
        else:
            return None  # mixed group: not provable from the footer
    return dead


def _footer_cols(md) -> dict[str, int]:
    """Column path → index of one parquet footer."""
    return {md.schema.column(i).path: i for i in range(md.num_columns)}


def _footers(storage: TableStorage, relpaths: list[str]) -> list:
    """Parquet footer metadata of each file, in ``relpaths`` order — the
    one driver-side footer read (staging audit, the count/min_max probes,
    ``check(verify_rows=True)``, the ``edem_cdc`` sink's commit audit).
    One small ranged read per file on a thread pool (pure I/O), no Spark
    job — and no Spark at all: the sink commits from a Python data-source
    worker without a JVM.  Shallow-clone ``ext://`` references are read
    from their absolute path (their bytes live outside ``storage``)."""
    import pyarrow.parquet as pq
    from concurrent.futures import ThreadPoolExecutor

    def _read(p: str):
        if p.startswith(_EXT_PREFIX):
            return pq.ParquetFile(p[len(_EXT_PREFIX):]).metadata
        with storage.open_input(p) as fh:
            return pq.ParquetFile(fh).metadata

    if not relpaths:
        return []
    with ThreadPoolExecutor(max_workers=min(16, len(relpaths))) as pool:
        return list(pool.map(_read, relpaths))


def _harvest(
    storage: TableStorage,
    entries: list[tuple[int, str]],
    stats_cols: list[str],
    buckets: list[int] | None = None,
) -> tuple[dict[int, list[str]], dict[str, int], dict[str, dict], list[int]]:
    """What a commit records of freshly written ``(bucket, relpath)``
    files, from their footers — shared by ``_stage`` and the ``edem_cdc``
    sink: ``(files_by_bucket, rows_by_bucket, file_stats over
    stats_cols, rows_per_file)``, the last for the caller's audit.
    ``buckets`` pre-seeds empty entries for buckets a write may leave
    empty."""
    files: dict[int, list[str]] = {b: [] for b in buckets or ()}
    rows = {str(b): 0 for b in files}
    stats: dict[str, dict] = {}
    counts: list[int] = []
    for (b, p), md in zip(entries, _footers(storage, [p for _, p in entries])):
        files.setdefault(b, []).append(p)
        rows[str(b)] = rows.get(str(b), 0) + md.num_rows
        stats[p] = _footer_minmax(md, stats_cols)
        counts.append(md.num_rows)
    return files, rows, stats, counts


def _data_files(m: dict[str, Any]) -> list[tuple[int, str, str]]:
    """Every data file of snapshot ``m`` as ``(bucket, relpath, kind)``,
    ``kind`` being ``"base"`` or ``"delta"``: base files first, each kind
    in manifest order — the one walk of a snapshot's file set."""
    return [
        (int(b), p, kind)
        for kind, d in (
            ("base", m["files"]), ("delta", m.get("delta_files") or {})
        )
        for b, ps in d.items()
        for p in ps
    ]


# column names the engine claims for itself: 'op'/'lsn' are the change-batch
# verb/version columns (a payload column by either name could never ride in
# a change batch alongside them), and the underscore names are internal —
# row metadata persisted in every file (_lsn/_deleted/_bucket) or transient
# writer/clustering columns (_pb/_z) that the write paths withColumn() over,
# which would SILENTLY CLOBBER a same-named user column.  Refused for every
# column entering a schema (``ManifestTable._admit``: create, evolution and
# the column DDL) so the failure is a loud error, not data corruption later.
_RESERVED_COLS = {"op", "lsn", "_lsn", "_deleted", "_bucket", "_pb", "_z"}
# the row metadata every data file carries after the payload columns
_INTERNAL_FIELDS = [
    T.StructField("_lsn", T.LongType(), True),
    T.StructField("_deleted", T.BooleanType(), True),
    T.StructField("_bucket", T.IntegerType(), True),
]


class ManifestTable:
    """A snapshot-versioned, bucket-partitioned Parquet table with
    exactly-once MERGE, additive schema evolution, and time travel."""

    # explicit applied-epoch entries retained before folding contiguous
    # runs into per-scope ranges (``_fold_applied`` — bounds manifest
    # metadata growth on long tails)
    max_epoch_entries: int = 1024

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        storage: TableStorage | None = None,
        branch: str | None = None,
    ):
        self.spark = spark
        if spark is not None:
            # file stats must not depend on the caller's session: legacy
            # INT96 timestamps carry NO parquet min/max statistics, which
            # would blind ts pruning, retention's metadata drop and the
            # count/min_max tiers on every file the session writes
            spark.conf.set(
                "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
            )
        self.root = root
        # every metadata operation goes through the TableStorage verbs
        # (put-if-absent / get / list / delete) — see sinks/storage.py; the
        # default is the POSIX backend, and the object-store fake is proven
        # equivalent by the parameterized concurrency/chaos/vacuum suites
        self.storage = storage or LocalFSStorage(root)
        from collections import OrderedDict

        # content-hash-keyed manifest-segment LRU (see _get_segments)
        self._seg_cache: "OrderedDict[str, dict]" = OrderedDict()
        # a branch handle commits to its own manifest namespace while
        # sharing the table's data/ tree — see create_branch()
        self.branch = branch
        self._manifest_dir = (
            _MANIFEST_DIR if branch is None else f"{_BRANCH_META_DIR}/{branch}"
        )

    # ---------- bootstrap ----------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        schema: T.StructType,
        key_cols: list[str] | None = None,
        n_buckets: int = 16,
        tenant_id: str | None = None,
        stats_cols: list[str] | None = None,
        bloom_filter_cols: list[str] | None = None,
        storage: TableStorage | None = None,
        constraints: dict[str, str] | None = None,
        properties: dict[str, str] | None = None,
    ) -> "ManifestTable":
        """Idempotent create (cf. ``IF NOT EXISTS`` DDL, ``Phase3-DataLoad.py:86,104``).

        ``stats_cols`` — columns whose per-file min/max ranges are harvested
        from parquet footers at write time and recorded in the manifest for
        scan pruning (default: ``ts`` + the key columns).  This is the
        capability Iceberg's per-file stats add over the reference's
        MSCK-partition model (``Phase3-DataLoad.py:169-175``): a bounded
        ``read(where=...)`` opens only overlapping files.

        ``bloom_filter_cols`` — columns the data writers attach PARQUET
        BLOOM FILTERS for (default: none).  Complements min/max stats for
        POINT lookups on scattered values: within the files the manifest
        can't prune (a hot bucket's delta files span wide key ranges by
        nature), Spark's parquet reader consults the bloom to skip whole
        row groups on a pushed-down equality predicate — no engine read
        path changes, no manifest growth (the bloom lives in the data
        file, bounded by ``bloom_filter_max_bytes``).  Typically the key
        column(s) a point lookup pins on.

        ``constraints`` — named CHECK constraints ``{name: sql_bool_expr}``
        (Delta Lake ``ALTER TABLE ADD CONSTRAINT ... CHECK`` parity,
        enforced at write: every non-delete change row must satisfy every
        expression or the whole epoch fails before publish).  NOT NULL is
        the special case ``{"text_nn": "text IS NOT NULL"}``.  See
        ``add_constraint`` for semantics (a NULL expression result is a
        violation, matching Delta, not ANSI CHECK).

        ``properties`` — initial table properties (see
        :meth:`set_properties` for namespace validation; e.g.
        ``{"write.parquet.compression": "zstd"}`` makes every data write
        of this table's life use that codec)."""
        for f in schema.fields:
            cls._admit(None, f.name)
            cls._admit_ts(f)
        t = cls(spark, root, storage=storage)
        if t.exists():
            return t
        t.storage.ensure_root()
        kc = key_cols or KEY_COLS
        have = {f.name for f in schema.fields}
        missing_keys = [k for k in kc if k not in have]
        if missing_keys:
            raise ValueError(
                f"key_cols not in schema: {missing_keys} "
                f"(schema has {sorted(have)})"
            )
        missing_bloom = [c for c in (bloom_filter_cols or []) if c not in have]
        if missing_bloom:
            raise ValueError(f"bloom_filter_cols not in schema: {missing_bloom}")
        for cname, cexpr in (constraints or {}).items():
            t._validate_constraint(schema, cname, cexpr)
        if properties:
            cls._validate_props(properties)
            cls._check_clustering(
                {"schema": schema.jsonValue(), "properties": properties}
            )
        manifest = {
            "version": 0,
            "parent": None,
            "epoch_id": None,
            "schema": schema.jsonValue(),
            "key_cols": kc,
            "n_buckets": n_buckets,
            "tenant_id": tenant_id,
            "files": {},
            "file_stats": {},
            "applied_ranges": {},
            "stats_cols": stats_cols
            or [c for c in (["ts"] + kc) if c in have],
            "bloom_filter_cols": list(bloom_filter_cols or []),
            "constraints": dict(constraints or {}),
            "properties": {
                k: str(v) for k, v in (properties or {}).items()
                if v is not None
            },
            "applied_epochs": [],
            "total_rows": 0,
            "committed_at": time.time(),
        }
        t._publish(manifest)
        return t

    def exists(self) -> bool:
        return self.current_version() is not None

    def clone(
        self,
        new_root: str,
        version: int | None = None,
        tag: str | None = None,
        storage: TableStorage | None = None,
    ) -> "ManifestTable":
        """ZERO-COPY SHALLOW CLONE (Delta ``CREATE TABLE ... SHALLOW
        CLONE`` / Iceberg snapshot-ref-table analogue): a new, fully
        independent table whose v0 manifest references this table's data
        files IN PLACE (absolute ``ext://`` entries) — no bytes move, so
        cloning a 100 TB table is one metadata commit.  The dev/test/
        experiment workflow at scale: fork production, run destructive
        DML against the fork, throw it away.

        Independence: every write on the clone lands under ITS OWN root
        (merges append local delta files; a compaction rewrites buckets
        locally, dropping their external references — ``compact(
        min_delta_files=0)`` fully localizes, i.e. materializes, the
        clone); the clone's ``vacuum`` never deletes source bytes
        (external refs are skipped when computing the GC set) and the
        source is never aware of the clone.  The applied-epoch ledger is
        CARRIED so replaying the source's WAL against the clone skips
        already-applied epochs instead of double-applying.  Tags and
        branches are NOT carried (fresh chains); constraints, schema
        history (renames/drops), clustering markers, stats and bloom
        config are.

        The standard shallow-clone hazard applies (same as Delta): the
        SOURCE's ``vacuum``/``expire_snapshots`` can delete files the
        clone still references — it has no way to know.  ``clone.check()``
        detects exactly this (external refs are existence-checked per
        file); pin the cloned snapshot with ``source.tag(...)`` to hold
        its files for the clone's lifetime.

        ``version``/``tag`` clone a historical snapshot (mutually
        exclusive; default = current).  Metadata-only and SPARK-FREE —
        works on a handle constructed with ``spark=None``."""
        self._require_main("clone")
        if version is not None and tag is not None:
            raise ValueError("pass version= or tag=, not both")
        if tag is not None:
            known = self.tags()
            if tag not in known:
                raise ValueError(
                    f"unknown tag {tag!r} (have {sorted(known)})"
                )
            version = known[tag]
        m = self.manifest(version)
        head = m if version is None else self.manifest()

        def ext(p: str) -> str:
            # cloning a clone re-points at the ORIGINAL absolute path
            return (
                p
                if p.startswith(_EXT_PREFIX)
                else _EXT_PREFIX + self.storage.spark_path(p)
            )

        files = {b: [ext(p) for p in ps] for b, ps in m["files"].items()}
        delta = {
            b: [ext(p) for p in ps]
            for b, ps in (m.get("delta_files") or {}).items()
            if ps
        }
        stats = {ext(p): st for p, st in (m.get("file_stats") or {}).items()}
        # capture sizes now (one LIST per referenced dir, metadata-only):
        # the clone can never LIST the source tree later, and files()/
        # byte-targeted sizing want them
        src_ext = m.get("external_sizes") or {}
        sizes: dict[str, int] = {}
        rels = [p for _, p, _ in _data_files(m)]
        listed = self._listing(rels)
        for p in rels:
            if p in listed:
                sizes[ext(p)] = int(listed[p].size)
            elif p in src_ext:
                sizes[p] = int(src_ext[p])

        t = ManifestTable(self.spark, new_root, storage=storage)
        if t.exists():
            raise ValueError(f"a table already exists at {new_root!r}")
        t.storage.ensure_root()
        manifest = {
            "version": 0,
            "parent": None,
            "epoch_id": f"clone:{self.root}@v{m['version']}",
            "schema": m["schema"],
            "key_cols": list(m["key_cols"]),
            "n_buckets": m["n_buckets"],
            "tenant_id": m.get("tenant_id"),
            "files": files,
            "delta_files": delta,
            "file_stats": stats,
            "stats_cols": list(m.get("stats_cols") or []),
            "bloom_filter_cols": list(m.get("bloom_filter_cols") or []),
            "constraints": dict(m.get("constraints") or {}),
            "sorted_by": list(m.get("sorted_by") or []),
            "zordered_by": list(m.get("zordered_by") or []),
            "renamed_cols": m.get("renamed_cols") or {},
            "dropped_cols": m.get("dropped_cols") or [],
            "bucket_rows": m.get("bucket_rows") or {},
            "applied_epochs": list(m["applied_epochs"]),
            "applied_ranges": m.get("applied_ranges") or {},
            "total_rows": m["total_rows"],
            "delta_rows": m.get("delta_rows") or {},
            "delta_rows_total": int(m.get("delta_rows_total") or 0),
            "external_sizes": sizes,
            "cloned_from": {"root": self.root, "version": m["version"]},
            "committed_at": time.time(),
        }
        # table properties travel with the fork (Delta clone parity) — the
        # HEAD's, not the cloned snapshot's (config, not snapshot state)
        props = head.get("properties")
        if props:
            manifest["properties"] = dict(props)
        t._publish(manifest)
        return t

    # ---------- manifest plumbing ----------

    def _manifest_key(self, version: int) -> str:
        return f"{self._manifest_dir}/v{version:012d}.json"

    def _list_versions(self) -> list[int]:
        versions = []
        for o in self.storage.list(self._manifest_dir):
            name = o.key.rsplit("/", 1)[-1]
            if name.startswith("v") and name.endswith(".json"):
                try:
                    versions.append(int(name[1:-5]))
                except ValueError:
                    continue  # an in-flight .tmp or foreign file
        return sorted(versions)

    # Head resolution is the one metadata read EVERY verb pays, and a
    # naive lookup LISTs the whole manifest directory — O(commits) pages
    # on an object store (10^10 events at 10^4-event epochs is 10^6
    # commits ≈ 1,000 ListObjectsV2 pages per read).  Instead every
    # publish drops a tiny HEAD HINT object (put_if_absent under its own
    # per-version key, so the five-verb no-overwrite contract holds) and
    # GCs all but the newest few; resolution LISTs the hint dir (O(keep)
    # objects), takes the max, and probes FORWARD with GETs to absorb
    # hint-lag from a writer that crashed between publish and hint.  The
    # hint is a hint — the conditional PUT of the manifest key remains
    # the only commit point — and a table with no hints (pre-hint
    # layouts, tampered dirs) falls back to the full listing, healed by
    # its next publish.  Delta's ``_last_checkpoint`` plays the same role.
    head_hint_keep: int = 4

    def _head_hint_dir(self) -> str:
        return f"{self._manifest_dir}/head"

    def _write_head_hint(self, version: int) -> None:
        try:
            self.storage.put_if_absent(
                f"{self._head_hint_dir()}/h{version:012d}",
                json.dumps({"version": version}).encode(),
            )
            hints = sorted(
                o.key for o in self.storage.list(self._head_hint_dir())
            )
            for key in hints[: -max(1, self.head_hint_keep)]:
                self.storage.delete(key)
        except Exception:
            # best-effort: the publish already committed; a lost hint only
            # costs the next reader its probe (or the full-list fallback)
            pass

    # Manifests are rewritten WHOLE per commit — O(files) bytes uploaded
    # at publish and downloaded by every verb's head read.  gzip is a
    # 5-10× cut on that traffic for free (JSON file lists/stats compress
    # hard), which at 10^5 files per table is the difference between a
    # ~1 MB and a ~10 MB object riding every single commit and read.
    # Manifests and segments are always gzip'd JSON.
    @staticmethod
    def _encode_manifest(manifest: dict[str, Any]) -> bytes:
        import gzip

        return gzip.compress(json.dumps(manifest).encode(), compresslevel=5)

    @staticmethod
    def _decode_blob(raw: bytes) -> dict[str, Any]:
        import gzip

        return json.loads(gzip.decompress(raw))

    def _get_manifest(self, key: str, splice: bool = True) -> dict[str, Any]:
        m = self._decode_blob(self.storage.get(key))
        return self._splice(m) if splice else m

    def _splice(
        self, raw: dict[str, Any], where: dict[str, tuple] | None = None
    ) -> dict[str, Any]:
        """``raw`` with its externalized segments spliced back in: callers
        always see the fully-inline manifest shape (and never the
        "segments" key, so a spliced dict re-published verbatim can never
        double-count).  A ``where`` that pins the bucket column job-free
        (equality / ``is_null`` — see ``_pinned_bucket``) splices only the
        ONE segment covering that bucket, so a point lookup's metadata cost
        is two small GETs regardless of table file count.  That PARTIAL
        view is safe because ``_pruned_files`` skips every bucket but the
        pinned one anyway; it is never cached or published."""
        segs = raw.get("segments")
        if not segs:
            return raw
        m = dict(raw)
        del m["segments"]
        mod = m.pop("segment_mod", None)
        b = self._pinned_bucket(m, where) if where and mod else None
        if b is None:
            keys = list(dict.fromkeys(segs.values()))  # splice each once
        else:
            # absent = the pinned bucket's segment holds nothing
            keys = [k for k in (segs.get(str(int(b) % int(mod))),) if k]
        files = dict(m.get("files") or {})
        delta = dict(m.get("delta_files") or {})
        stats = dict(m.get("file_stats") or {})
        for part in self._get_segments(keys):
            for dst, src_key in ((files, "files"), (delta, "delta_files")):
                for bb, ps in (part.get(src_key) or {}).items():
                    dst[bb] = dst.get(bb, []) + list(ps)
            stats.update(part.get("file_stats") or {})
        m["files"] = files
        m["delta_files"] = delta
        m["file_stats"] = stats
        return m

    # parsed segments cached per handle, keyed by their content hash —
    # immutable objects make the cache trivially correct, and a long-lived
    # handle (the streaming tailer reads the head every epoch) then GETs
    # only the segments the last commit actually changed instead of
    # re-downloading the whole O(files) listing each time
    _SEG_CACHE_MAX = 64

    def _get_segments(self, keys: list[str]) -> list[dict[str, Any]]:
        """Fetch segment objects — LRU-cached by content hash; misses go
        out in parallel (a real object store pays one RTT per object)."""
        cache = self._seg_cache
        out: dict[str, dict[str, Any]] = {}
        missing: list[str] = []
        for k in keys:
            if k in cache:
                cache.move_to_end(k)
                out[k] = cache[k]
            elif k not in missing:
                missing.append(k)
        if missing:
            if len(missing) == 1:
                blobs = [self.storage.get(missing[0])]
            else:
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(
                    max_workers=min(8, len(missing))
                ) as ex:
                    blobs = list(ex.map(self.storage.get, missing))
            for k, raw in zip(missing, blobs):
                part = self._decode_blob(raw)
                out[k] = part
                cache[k] = part
            while len(cache) > self._SEG_CACHE_MAX:
                cache.popitem(last=False)
        return [out[k] for k in keys]

    # Inline manifests are rewritten WHOLE per commit — O(live files) bytes
    # uploaded at publish and downloaded by every head read, the last
    # recurring O(table) cost in the metadata plane (gzip cuts the constant,
    # not the shape: 10^6 files is still a ~30 MB object riding EVERY
    # commit).  Above ``manifest_segment_min_files`` file entries the heavy
    # per-bucket payloads (``files``/``delta_files``/``file_stats``) are
    # split by bucket into ≤ ``manifest_segments`` CONTENT-ADDRESSED segment
    # objects (keyed by the sha256 of their canonical JSON, Iceberg's
    # manifest-reuse design): a commit that touches k buckets re-uploads
    # only the ⌈k·S/n_buckets⌉ segments whose content moved — the
    # put_if_absent of an unchanged segment's key finds it already present
    # and uploads nothing — so publish I/O is O(touched buckets), and
    # successive snapshots SHARE their unchanged segments on disk.
    # Readers re-assemble via S parallel GETs (see _splice); segment
    # objects die in expire_snapshots' ref-counted GC once no surviving
    # snapshot on any ref chain points at them.  Both knobs are overridable
    # per table via write.manifest.* properties; the inline format remains
    # readable forever (a manifest without "segments" is its own splice).
    manifest_segment_min_files: int = 512
    manifest_segments: int = 16

    def _segment_params(self, manifest: dict[str, Any]) -> tuple[int, int]:
        props = manifest.get("properties") or {}

        def _int(key: str, default: int) -> int:
            try:
                return int(props.get(key, default))
            except (TypeError, ValueError):
                return default

        return (
            max(0, _int(
                "write.manifest.segment-min-files",
                self.manifest_segment_min_files,
            )),
            max(1, _int("write.manifest.segments", self.manifest_segments)),
        )

    def _externalize(self, manifest: dict[str, Any]) -> dict[str, Any]:
        """Publish-ready copy of ``manifest``: heavy per-bucket payloads
        split into content-addressed segment objects (written here, BEFORE
        the manifest's conditional PUT — same data-first ordering as
        write-audit-publish; a lost manifest race orphans only segments,
        which expire_snapshots GCs after its grace window).  Small
        manifests pass through inline."""
        import gzip
        import hashlib

        m = dict(manifest)
        m.pop("segments", None)  # defensive: spliced dicts never carry it
        m.pop("segment_mod", None)
        files = m.get("files") or {}
        delta = m.get("delta_files") or {}
        stats = m.get("file_stats") or {}
        min_files, n_seg = self._segment_params(m)
        if len(_data_files(m)) < max(1, min_files):
            return m
        n_buckets = int(m.get("n_buckets") or 1)
        S = max(1, min(n_buckets, n_seg))
        seg: list[dict[str, dict]] = [
            {"files": {}, "delta_files": {}, "file_stats": {}}
            for _ in range(S)
        ]
        path_seg: dict[str, int] = {}
        for dst_key, d in (("files", files), ("delta_files", delta)):
            for b, ps in d.items():
                if not ps:
                    continue
                s = int(b) % S
                seg[s][dst_key][str(b)] = list(ps)
                for p in ps:
                    path_seg[p] = s
        rem_stats: dict[str, Any] = {}
        for p, st in stats.items():
            s = path_seg.get(p)
            if s is None:
                rem_stats[p] = st  # stats for a path no bucket lists
            else:
                seg[s]["file_stats"][p] = st
        parts: dict[str, str] = {}
        for idx, part in enumerate(seg):
            if not (
                part["files"] or part["delta_files"] or part["file_stats"]
            ):
                continue  # empty segment: nothing to store or splice
            body = json.dumps(part, sort_keys=True).encode()
            # hash the CANONICAL JSON, not the gzip bytes (gzip headers
            # embed a timestamp) — equal content must reuse its key
            digest = hashlib.sha256(body).hexdigest()[:40]
            key = f"{_SEG_DIR}/{digest}.json"
            # present already = an earlier snapshot wrote identical
            # content: the put uploads nothing and the key is shared
            self.storage.put_if_absent(
                key, gzip.compress(body, compresslevel=5)
            )
            # index-addressed: segment idx holds buckets {b: b % S == idx},
            # so a pinned-bucket reader can splice exactly one segment
            parts[str(idx)] = key
        m["segments"] = parts
        m["segment_mod"] = S
        m["files"] = {}
        m["delta_files"] = {}
        m["file_stats"] = rem_stats
        return m

    def current_version(self) -> int | None:
        best = None
        for o in self.storage.list(self._head_hint_dir()):
            name = o.key.rsplit("/", 1)[-1]
            if name.startswith("h"):
                try:
                    v = int(name[1:])
                except ValueError:
                    continue
                best = v if best is None else max(best, v)
        if best is None:
            versions = self._list_versions()
            return versions[-1] if versions else None
        # probe forward over hint-lag: a hint is written only AFTER its
        # manifest's conditional PUT, so max-hint ≤ head always, and the
        # chain above it is dense (each commit is parent+1; expiry only
        # removes versions below the head)
        v = best
        while True:
            try:
                self.storage.get(self._manifest_key(v + 1))
            except FileNotFoundError:
                return v
            v += 1

    def manifest(self, version: int | None = None) -> dict[str, Any]:
        return self._snapshot(version)

    def _snapshot(
        self, version: int | None, where: dict[str, tuple] | None = None
    ) -> dict[str, Any]:
        """:meth:`manifest`, with the head resolved once; a ``where``
        pinning one bucket splices only that bucket's segment (see
        ``_splice``)."""
        head = version is None
        v = self.current_version() if head else version
        if v is None:
            raise FileNotFoundError(f"no manifest at {self.root}")
        try:
            raw = self._get_manifest(self._manifest_key(v), splice=False)
        except FileNotFoundError:
            if head and self.branch is None:
                # a hinted head whose manifest is gone (tampered hints /
                # partial restore): recompute from the full listing once
                versions = self._list_versions()
                if versions and versions[-1] != v:
                    return self._get_manifest(self._manifest_key(versions[-1]))
            if self.branch is None:
                raise
            # pre-fork snapshots live on the main chain: a branch is seeded
            # with a copy of its fork-base manifest only, so time travel /
            # chain walks below the fork fall through to the main namespace
            return self._get_manifest(f"{_MANIFEST_DIR}/v{v:012d}.json")
        return self._splice(raw, where)

    def _publish(self, manifest: dict[str, Any]) -> None:
        """Atomic publish: a conditional PUT of the version key — the
        storage backend claims it atomically (POSIX: tmp+fsync+hard-link,
        EEXIST = lost race; object store: ``If-None-Match: *`` PUT).
        Readers can never observe a partial manifest; the PUT IS the commit
        point (SURVEY.md §7 hard parts).  Raises ``ManifestConflict`` on a
        lost race.  Only ``create``/``clone`` publish their v0 directly;
        every later commit goes through :meth:`_commit`."""
        key = self._manifest_key(manifest["version"])
        stored = self._externalize(manifest)
        if not self.storage.put_if_absent(key, self._encode_manifest(stored)):
            raise ManifestConflict(
                f"manifest v{manifest['version']} was committed by a "
                f"concurrent writer"
            )
        self._write_head_hint(manifest["version"])

    def _commit(
        self,
        base: dict[str, Any],
        change,
        report=None,
        *,
        source: dict[str, Any] | None = None,
        epoch_key: str | None = None,
        on_conflict="skip",
        retries: int = 1,
        before_publish=None,
    ) -> dict[str, Any]:
        """The one commit path of every manifest after v0 (the reference's
        single tracking ``put_item``, ``Phase3-Data-Extraction.py:123-136``).

        The next manifest is ``{**(source or base), **change}`` published
        as the child of ``base`` — the head the verb already read, so the
        commit adds no metadata GET.  ``change`` holds only the fields the
        verb changes, or is a function of the base (re-evaluated against
        the winner on a rebase; returning None means nothing to commit →
        ``NoChange``).  ``source`` republishes another snapshot's content
        (rollback_to's target, fast_forward's branch head).

        Owned here so that no verb repeats it:

        * table config carries from ``base`` unless ``change`` sets it:
          ``properties`` and ``cloned_from`` are the head's (config, not
          snapshot state — Iceberg semantics), with a ``source``'s
          missing columns pruned from the layout policy; the watermarks
          never move backward (max of base and new); ``external_sizes``
          keeps the clone-time sizes of the external files still
          referenced;
        * per-commit fields (``added_cols``, ``retdel_*``) reset unless set;
        * with ``epoch_key``: the exactly-once check against every base
          and the applied-ledger fold (``_fold_applied``);
        * the ``before_publish`` test/chaos hook, the put-if-absent
          publish, and the lost-race outcome ``on_conflict``: ``"skip"`` →
          ``Skipped`` (maintenance and DDL never block ingest; they re-run
          later), ``"raise"`` → ``ManifestConflict``, ``"retry"`` → re-read
          the head and rebuild against it, at most ``retries`` attempts; a
          callable ``rebase(winner, retries_left)`` retries the same way
          unless it first returns a final outcome (or raises).

        Returns ``{"status": "Success", "version": v, **report}``
        (``report`` may be a function of the published manifest), or the
        ``Skipped``/``NoChange`` outcome."""
        for attempt in range(max(1, retries)):
            if attempt:
                base = self.manifest()  # the winner's head
            if epoch_key is not None and _epoch_applied(base, epoch_key):
                return {
                    "status": "Skipped",
                    "version": base["version"],
                    "reason": (
                        "epoch committed by concurrent writer"
                        if attempt
                        else "epoch already committed"
                    ),
                }
            if attempt and callable(on_conflict):
                out = on_conflict(base, retries - attempt)
                if out is not None:
                    return out
            fields = change(base) if callable(change) else change
            if fields is None:
                return {"status": "NoChange", "version": base["version"]}
            new = {**(source or base), **fields}
            for k in _CONFIG_KEYS:
                if k not in fields:
                    new.pop(k, None)
                    if base.get(k):
                        new[k] = base[k]
            if source is not None and new.get("properties"):
                # the head's layout policy over another snapshot's columns:
                # one the source lacks leaves the policy, as on drop_column,
                # or every later rewrite would refuse the policy
                have = {f["name"] for f in new["schema"]["fields"]}
                new["properties"] = _policy_on_columns(
                    new["properties"], lambda c: c if c in have else None
                )
                if not new["properties"]:
                    del new["properties"]
            for k in _WATERMARK_KEYS:
                marks = [x[k] for x in (base, new) if x.get(k) is not None]
                if marks:
                    new[k] = max(marks, key=_stat_from_json)
            ext = {
                **(base.get("external_sizes") or {}),
                **(new.pop("external_sizes", None) or {}),
            }
            if ext:
                live = {p for _, p, _ in _data_files(new)}
                kept = {p: n for p, n in ext.items() if p in live}
                if kept:
                    new["external_sizes"] = kept
            for k in _PER_COMMIT_KEYS:
                if k not in fields:
                    new.pop(k, None)
            new.setdefault("added_cols", [])
            if epoch_key is not None:
                new["applied_epochs"], new["applied_ranges"] = _fold_applied(
                    base["applied_epochs"] + [epoch_key],
                    base.get("applied_ranges") or {},
                    self.max_epoch_entries,
                )
            new.update(
                version=base["version"] + 1,
                parent=base["version"],
                committed_at=time.time(),
            )
            if before_publish is not None:
                # test/chaos hook: fail after staging, before the commit
                # point — the staged files stay unreferenced; a replay
                # re-runs the verb
                before_publish(new)
            try:
                self._publish(new)
            except ManifestConflict:
                if on_conflict == "raise":
                    raise
                if on_conflict == "skip":
                    return {
                        "status": "Skipped",
                        "reason": "lost manifest race to a concurrent writer",
                        "version": self.current_version(),
                    }
                continue
            extra = report(new) if callable(report) else (report or {})
            return {"status": "Success", "version": new["version"], **extra}
        raise ManifestConflict(
            f"{epoch_key}: lost the manifest race {retries} times — giving "
            f"up (staged files remain unreferenced; safe to retry)"
        )

    # ---------- schema ----------

    def schema(self, version: int | None = None) -> T.StructType:
        """User-facing schema (no internal columns)."""
        return T.StructType.fromJson(self.manifest(version)["schema"])

    @staticmethod
    def _internal_schema_of(m: dict[str, Any]) -> T.StructType:
        return T.StructType(
            T.StructType.fromJson(m["schema"]).fields + _INTERNAL_FIELDS
        )

    # Iceberg-compatible safe type promotions (integer and float families
    # widen independently; never across families, never narrowing)
    _WIDEN_RANK = {  # keys are DataType.simpleString() spellings
        "tinyint": ("int", 0), "smallint": ("int", 1), "int": ("int", 2),
        "bigint": ("int", 3), "float": ("flt", 0), "double": ("flt", 1),
    }

    @classmethod
    def _widens(cls, frm: T.DataType, to: T.DataType) -> bool:
        a = cls._WIDEN_RANK.get(frm.simpleString())
        b = cls._WIDEN_RANK.get(to.simpleString())
        return a is not None and b is not None and a[0] == b[0] and b[1] > a[1]

    # the manifest lists that name columns: a rename rewrites them to the
    # new name, a drop removes the column from them
    _COL_LISTS = (
        "key_cols", "stats_cols", "bloom_filter_cols", "sorted_by", "zordered_by",
    )

    @staticmethod
    def _admit(m: dict[str, Any] | None, name: str, *, ddl: bool = False) -> None:
        """Name admission for a column entering the schema of ``m`` (None:
        a table being created).  Refused: a name carrying a backtick, an
        engine-reserved name — the write paths would clobber it — and a
        TOMBSTONED one, dropped or renamed away while live files still
        carry it: re-adding it would
        resurrect stale values under name-based parquet resolution, until
        a full rewrite (``rebucket`` or an all-bucket
        ``compact(min_delta_files=0)``) physicalizes the current naming and
        frees it.  The explicit DDL verbs (``ddl``) also refuse a name that
        already exists or is not an identifier."""
        if "`" in name:
            # identifiers reach Spark as backtick-quoted SQL text, and the
            # name-based column API (F.col) rejects a backtick outright
            raise SchemaEvolutionError(
                f"column {name!r} contains a backtick, which column names "
                f"cannot carry — rename it"
            )
        if name in _RESERVED_COLS:
            raise SchemaEvolutionError(
                f"column {name!r} is an engine-reserved name: 'op'/'lsn' are "
                f"the change-batch verb/version columns and _lsn/_deleted/"
                f"_bucket/_pb/_z internal row metadata / writer columns — "
                f"rename it"
            )
        if m is None:
            return
        if name in set(m.get("dropped_cols") or []).union(
            *(m.get("renamed_cols") or {}).values()
        ):
            raise SchemaEvolutionError(
                f"column {name!r} was previously dropped or renamed away and "
                f"live data files still carry it under that name — use the "
                f"current column name, or physicalize the schema first "
                f"(rebucket / compact(min_delta_files=0)) to free the name"
            )
        if ddl and name in T.StructType.fromJson(m["schema"]).fieldNames():
            raise SchemaEvolutionError(f"column {name!r} already exists")
        if ddl and not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
            raise SchemaEvolutionError(f"invalid column name {name!r}")

    @staticmethod
    def _admit_ts(f: T.StructField) -> None:
        """Type admission for ``ts`` entering a schema: ``TIMESTAMP_NTZ``
        is refused.  ``ts`` orders a key's versions, and every ordering of
        an NTZ value casts it through the session time zone — a wall-clock
        time in a DST gap moves by an hour, so the winning version would
        depend on the session."""
        if f.name == "ts" and isinstance(f.dataType, T.TimestampNTZType):
            raise SchemaEvolutionError(
                "'ts' is TIMESTAMP_NTZ: ts orders row versions, and ordering "
                "NTZ values reads the session time zone — cast ts to "
                "TIMESTAMP (an instant) before it reaches the table"
            )

    def _schema_change(
        self,
        m: dict[str, Any],
        incoming: T.StructType | None = None,
        *,
        add: T.StructField | None = None,
        widen: T.StructField | None = None,
        rename: tuple[str, str] | None = None,
        drop: str | None = None,
    ) -> dict[str, Any]:
        """The one derivation of a table's columns after a column change
        against manifest ``m`` (cf. Iceberg schema-update transactions):
        merge-path evolution (``incoming``: a change batch's payload
        columns) and the column DDL (``add``/``widen`` a field, ``rename``
        ``(old, new)``, ``drop`` a name).  Returns the manifest fields the
        change sets — ``schema`` and ``added_cols``, plus, for a rename or
        drop, the history (``renamed_cols``, ``dropped_cols``), every list
        in ``_COL_LISTS`` and the layout policy's ``sort_by``/``zorder_by``
        properties following the new name or losing the dropped one.  A
        refused change raises ``SchemaEvolutionError``.

        * Names: every column entering the schema passes ``_admit`` (and
          ``_admit_ts``); an incoming column new to the table is appended
          nullable.
        * Types: a column only widens within its numeric family
          (``_widens``; files written narrow read back up-cast), and a
          narrower change batch keeps the table type (the merge up-casts
          it).  Key columns and ``ts`` never change type: they are the
          row identity and the bucket-hash input, and ``xxhash64`` hashes
          an ``int`` and a ``bigint`` differently — a widened key would
          split keys across buckets.
        * ``ts`` keeps its name; key columns and ``ts`` cannot be dropped."""
        cur = {f.name: f for f in T.StructType.fromJson(m["schema"]).fields}
        fixed = {"ts", *m["key_cols"]}

        def identity(name: str, what: str) -> SchemaEvolutionError:
            return SchemaEvolutionError(
                f"{name!r} is a key/version column (a key column or ts): it "
                f"identifies rows, routes buckets and orders versions, so it "
                f"cannot {what} (create a new table)"
            )

        for name in (widen and widen.name, rename and rename[0], drop):
            if name is not None and name not in cur:
                raise SchemaEvolutionError(
                    f"no column {name!r} in schema (have {list(cur)})"
                )
        out = dict(cur)
        added: list[str] = []
        for f in [*(incoming or ()), *(g for g in (add, widen) if g)]:
            have = cur.get(f.name)
            if have is None or f is add:
                self._admit(m, f.name, ddl=f is add)
                self._admit_ts(f)
                out[f.name] = T.StructField(f.name, f.dataType, True)
                added.append(f.name)
                continue
            if f.dataType == have.dataType:
                continue
            grows = self._widens(have.dataType, f.dataType)
            if f.name in fixed and (grows or f is widen):
                raise identity(f.name, "change type")
            if grows:
                out[f.name] = T.StructField(f.name, f.dataType, have.nullable)
            elif f is widen or not self._widens(f.dataType, have.dataType):
                raise SchemaEvolutionError(
                    f"type conflict on {f.name!r}: table "
                    f"{have.dataType.simpleString()}, wanted "
                    f"{f.dataType.simpleString()} — only safe promotions "
                    f"within a numeric family are allowed (tinyint→smallint"
                    f"→int→bigint, float→double); a narrower change batch "
                    f"keeps the table type"
                )
        history: dict[str, Any] = {}
        if rename or drop:
            ren = {k: list(v) for k, v in (m.get("renamed_cols") or {}).items()}
            sub = dict([rename]) if rename else {}
            if rename:
                old, new = rename
                if old == "ts":
                    raise identity(old, "be renamed")
                self._admit(m, new, ddl=True)
                self._admit_ts(T.StructField(new, cur[old].dataType))
                out = {(new if n == old else n): f for n, f in out.items()}
                out[new] = T.StructField(new, cur[old].dataType, cur[old].nullable)
                ren[new] = [old] + ren.pop(old, [])
            else:
                if drop in fixed:
                    raise identity(drop, "be dropped")
                del out[drop]
                history["dropped_cols"] = (
                    list(m.get("dropped_cols") or []) + [drop] + ren.pop(drop, [])
                )
            history["renamed_cols"] = ren
            for k in self._COL_LISTS:
                history[k] = [sub.get(c, c) for c in m.get(k) or [] if c != drop]
            # so do the layout policy's
            props = _policy_on_columns(
                m.get("properties") or {},
                lambda c: None if c == drop else sub.get(c, c),
            )
            if props != (m.get("properties") or {}):
                history["properties"] = props
        return {
            "schema": T.StructType(list(out.values())).jsonValue(),
            "added_cols": added,
            **history,
        }

    # ---------- read ----------

    def _spath(self, p: str) -> str:
        """Spark-readable path of a manifest-referenced data file.
        Shallow clones (:meth:`clone`) record the SOURCE's files as
        absolute ``ext://`` references; everything else is
        table-root-relative.  Write paths never go through here — every
        write lands under this table's own root."""
        if p.startswith(_EXT_PREFIX):
            return p[len(_EXT_PREFIX):]
        return self.storage.spark_path(p)

    def _listing(self, relpaths: list[str]) -> dict[str, Any]:
        """Storage objects of the table's own files among ``relpaths``
        (``ext://`` references are the clone source's), by key: one LIST
        per distinct staging dir, metadata only."""
        dirs = {
            p.split("/")[1] for p in relpaths if not p.startswith(_EXT_PREFIX)
        }
        return {
            o.key: o
            for d in sorted(dirs)
            for o in self.storage.list(f"{_DATA_DIR}/{d}")
        }

    def _read_files(
        self,
        files: list[str],
        schema: T.StructType,
        renames: dict[str, list[str]] | None = None,
    ) -> DataFrame:
        if not files:
            return self.spark.createDataFrame([], schema)
        # explicit schema: files written before an additive evolution simply
        # lack the new column → Spark fills null (verified in tests)
        have = {f.name for f in schema.fields}
        shadows = {
            cur: olds
            for cur, olds in (renames or {}).items()
            if cur in have and olds
        }
        if not shadows:
            return self.spark.read.schema(schema).parquet(*files)
        # metadata-only renames: files written BEFORE rename_column() carry
        # the old physical name, files after carry the current one — never
        # both (re-adding a historical name is rejected until a full
        # rewrite).  Read through the schema widened with the historical
        # shadow names (absent columns null-fill at zero IO), coalesce
        # newest-physical-name-first, and project the shadows away.  The
        # coalesce is exact because exactly one physical generation exists
        # per file; it stays in whole-stage codegen.
        types = {f.name: f.dataType for f in schema.fields}
        read_schema = T.StructType(
            list(schema.fields)
            + [
                T.StructField(o, types[cur], True)
                for cur, olds in sorted(shadows.items())
                for o in olds
            ]
        )
        df = self.spark.read.schema(read_schema).parquet(*files)
        for cur, olds in shadows.items():
            names = ", ".join(map(sql_ident, [cur, *olds]))
            df = df.withColumn(cur, F.expr(f"coalesce({names})"))
        return df.selectExpr(*[sql_ident(f.name) for f in schema.fields])

    def _scan(
        self,
        m: dict[str, Any],
        files: list[str] | None = None,
        *,
        where: dict[str, tuple] | None = None,
        live: bool = True,
        schema: T.StructType | None = None,
    ) -> DataFrame:
        """The one read path from a snapshot to rows — prune → scan →
        fold — over ``m``, the manifest the verb already holds (a scan
        never re-resolves a snapshot).

        ``files=None`` scans the snapshot itself: every file of ``m``, or
        the ones ``where`` keeps (``_pruned_files``), folded base+delta by
        the per-key max-``(ts, _lsn)`` rule when delta files are among
        them, with ``where``'s bounds applied as exact filters.  Caller-
        given relpaths (staged, candidate, added or dropped files) are
        scanned raw, unfolded.  ``live`` drops delete tombstones.  Rows
        come in the internal shape of ``schema`` (default: ``m``'s) with
        rename shadows coalesced (``_read_files``); this is the only place
        a manifest relpath becomes a Spark path (``_spath``)."""
        ischema = schema or self._internal_schema_of(m)
        delta: list[str] = []
        if files is None and where:
            files, delta = self._pruned_files(m, where)
        elif files is None:
            entries = _data_files(m)
            files = [p for _, p, kind in entries if kind == "base"]
            delta = [p for _, p, kind in entries if kind == "delta"]
        df = self._read_files(
            [self._spath(p) for p in files + delta],
            ischema,
            renames=m.get("renamed_cols"),
        )
        if delta:
            df = _fold_rows(df, m["key_cols"])
        if live:
            df = df.filter("NOT coalesce(`_deleted`, false)")
        dtypes = {f.name: f.dataType for f in ischema.fields}
        for c, v in (where or {}).items():
            if v == "is_null":
                df = df.filter(F.col(c).isNull())
            elif v == "not_null":
                df = df.filter(F.col(c).isNotNull())
            else:
                lo, hi = v
                if lo is not None:
                    df = df.filter(F.col(c) >= F.lit(_norm_bound(lo, dtypes.get(c))))
                if hi is not None:
                    df = df.filter(F.col(c) <= F.lit(_norm_bound(hi, dtypes.get(c))))
        return df

    def _snapshot_version(
        self, verb: str, version: int | None, tag: str | None, as_of
    ) -> int | None:
        """The snapshot a ``version=``/``tag=``/``as_of=`` selector names
        (None = the head); the three are mutually exclusive."""
        if sum(x is not None for x in (version, tag, as_of)) > 1:
            raise ValueError(
                f"{verb}(version=, tag=, as_of=) are mutually exclusive"
            )
        if tag is not None:
            return self._resolve_tag(tag)
        if as_of is not None:
            return self._resolve_as_of(as_of)
        return version

    def read(
        self,
        version: int | None = None,
        include_internal: bool = False,
        where: dict[str, tuple] | None = None,
        tag: str | None = None,
        as_of=None,
    ) -> DataFrame:
        """Snapshot read.  ``version`` gives time travel (replaces the
        reference's final-backup copies, ``Phase3-BackupData.py:23-27``);
        ``tag`` time-travels by NAME (``read(tag="prod")``);
        ``as_of`` time-travels by TIMESTAMP (epoch seconds, ISO string, or
        datetime — the newest surviving snapshot committed at or before it;
        Iceberg's ``TIMESTAMP AS OF``).  The three selectors are mutually
        exclusive.

        Merge-on-read: when the snapshot carries delta files, base+delta are
        folded by the same per-key max-version rule as the write path.  Base
        files are one-row-per-key, so the fold cost is O(live rows + delta
        rows) — and it disappears entirely after ``compact()``.

        ``where`` — optional inclusive bounds ``{col: (lo, hi)}`` (either
        side None = unbounded), or the strings ``"is_null"`` /
        ``"not_null"`` for null-ness predicates (the data-quality scans —
        "transcript rows missing their tool column" — that at 10^10 rows
        must skip every healthy file: harvested per-file null counts prove
        null-freeness, all-null files prune under any range or
        ``not_null`` bound, and ``is_null`` on the bucket column pins the
        single bucket null keys hash to).  Files whose manifest-recorded
        [min, max] range cannot overlap are never opened (the per-file-stats pruning
        Iceberg manifests give over the reference's MSCK model,
        ``Phase3-DataLoad.py:169-175``; at 10^10 events this is the
        difference between reading a bucket and reading a day).  The bounds
        are ALSO applied as a filter, so results are exact regardless of
        pruning.  MOR correctness rule: key-column bounds prune base AND
        delta files (a file outside the key range holds none of the
        requested keys); for non-key bounds (e.g. ``ts``) delta files are
        always kept, and in a delta-free bucket base files prune freely —
        in a bucket carrying deltas, a base file prunes on a non-key column
        only when EVERY delta file of the bucket is provably out of range
        on it (then any key the pruned file held has an out-of-range winner
        regardless of which side wins the fold, and no stale in-range base
        row can resurrect — see ``_pruned_files``).  An EQUALITY bound on
        the bucket column
        additionally pins the single hash bucket that can hold the key
        (Iceberg bucket-transform analogue) — the O(one-bucket) point
        lookup regardless of stats."""
        version = self._snapshot_version("read", version, tag, as_of)
        for c, v in (where or {}).items():
            if isinstance(v, str) and v not in ("is_null", "not_null"):
                raise ValueError(
                    f"where[{c!r}]: expected a (lo, hi) tuple, "
                    f"'is_null', or 'not_null' — got {v!r}"
                )
        m = self._snapshot(version, where)
        df = self._scan(m, where=where)
        if not include_internal:
            df = df.selectExpr(
                *[
                    sql_ident(f.name)
                    for f in T.StructType.fromJson(m["schema"]).fields
                ]
            )
        return df

    def count(
        self,
        version: int | None = None,
        tag: str | None = None,
        as_of=None,
    ) -> int:
        """Exact live-row count of a snapshot, answered from METADATA when
        possible (the Iceberg manifest-count / Delta ``SELECT COUNT(*)``
        fast path — at 10^10 rows, counting by scanning is a cluster job;
        counting from the manifest is a driver dict-sum).

        Tiered, always exact:

        1. **Delta-free table, stats complete** — Σ(``::rows`` − ``::dead``)
           over the manifest's per-file stats.  ZERO Spark jobs, zero file
           I/O (job-count asserted in ``test_count.py``).
        2. Files whose stats can't prove their tombstone count (a mixed
           row group: the harvest recorded no ``::dead``, and the footer
           would prove no more) and shallow-clone externals — ONE
           column-pruned Spark job over just those files (reads only
           ``_deleted``; every provable file stays pruned).
        3. Any delta files present — the MOR fold decides winners, so the
           folded snapshot scan counts (correctness beats the shortcut;
           ``compact()`` restores tier 1).

        Selectors mirror :meth:`read` (``version``/``tag``/``as_of``,
        mutually exclusive)."""
        version = self._snapshot_version("count", version, tag, as_of)
        m = self.manifest(version)
        if any(ps for ps in (m.get("delta_files") or {}).values()):
            return self._scan(m).count()
        stats = m.get("file_stats") or {}
        total = 0
        scan: list[str] = []  # tier 2: pruned Spark scan
        for _, p, _ in _data_files(m):  # all base: no deltas here
            fs = stats.get(p) or {}
            rows, dead = fs.get("::rows"), fs.get("::dead")
            if rows and dead:
                total += int(rows[0]) - int(dead[0])
            else:
                scan.append(p)
        if scan:
            total += int(self._scan(m, scan).count())
        return total

    def min_max(
        self,
        col: str,
        version: int | None = None,
        tag: str | None = None,
        as_of=None,
    ) -> tuple:
        """Exact ``(min, max)`` of a payload column over a snapshot's LIVE
        rows, answered from METADATA when possible — the same tier ladder
        as :meth:`count` (at 10^10 rows ``SELECT max(ts)`` must not be a
        cluster scan; the manifest already harvested every file's footer
        min/max at write time).  SQL semantics: nulls contribute nothing;
        an empty / all-null snapshot returns ``(None, None)``.

        1. **Manifest** — files whose stats carry the column's harvested
           ``[min, max]`` AND prove ``::dead == 0`` fold driver-side with
           zero Spark jobs (a retained tombstone's value could BE the
           extremum, so only all-live files are provable; the all-null
           ``[None, None, n]`` form contributes nothing regardless of
           tombstones).  Files written before an ``add_column`` read as
           null → contribute nothing.
        2. **Driver footer probe** — files whose stats have no entry for
           the column (not in ``stats_cols``) re-harvest through the same
           ``_footer_minmax`` the writer uses.
        3. **One column-pruned Spark scan** of only the still-unprovable
           files (mixed row groups, whose footers prove no more than their
           stats; clone externals), reading just the column + ``_deleted``.
        4. Delta files present → the MOR fold decides winners: an
           aggregate over the folded snapshot scan.

        String/binary columns go straight to the scan tiers: parquet
        writers may TRUNCATE binary statistics (a truncated max is a valid
        pruning BOUND but not an actual row value), so footer stats are
        range-safe yet not exactness-safe there.  Float/double columns go
        there too: parquet min/max skip NaN, while Spark orders NaN above
        every number, so a NaN row IS the max.  Rename shadows resolve
        through the same chain the pruner uses."""
        version = self._snapshot_version("min_max", version, tag, as_of)
        m = self.manifest(version)
        field = next(
            (
                f
                for f in T.StructType.fromJson(m["schema"]).fields
                if f.name == col
            ),
            None,
        )
        if field is None:
            raise ValueError(f"min_max: unknown column {col!r}")

        def _agg(df) -> tuple:
            r = df.agg(F.min(col).alias("lo"), F.max(col).alias("hi")).first()
            return r["lo"], r["hi"]

        if any(ps for ps in (m.get("delta_files") or {}).values()):
            d_lo, d_hi = _agg(self._scan(m))
            if d_lo is None:
                return None, None
            # normalize to the same tz-aware shape the metadata tiers
            # return (Spark collects naive session-tz datetimes)
            return (
                _norm_bound(d_lo, field.dataType),
                _norm_bound(d_hi, field.dataType),
            )

        scan_only = isinstance(
            field.dataType,
            (T.StringType, T.BinaryType, T.FloatType, T.DoubleType),
        )
        names = (col, *(m.get("renamed_cols") or {}).get(col, ()))
        stats = m.get("file_stats") or {}
        lo = hi = None

        def _fold(v_lo, v_hi):
            nonlocal lo, hi
            v_lo = _norm_bound(v_lo, field.dataType)
            v_hi = _norm_bound(v_hi, field.dataType)
            lo = v_lo if lo is None or v_lo < lo else lo
            hi = v_hi if hi is None or v_hi > hi else hi

        probe: list[str] = []
        scan: list[str] = []
        for _, p, _ in _data_files(m):  # all base: no deltas here
            fs = stats.get(p) or {}
            entry = next((fs[nm] for nm in names if nm in fs), None)
            if entry is not None and entry[0] is None:
                continue  # provably all-null file: contributes nothing
            if scan_only or p.startswith(_EXT_PREFIX):
                scan.append(p)
            elif entry is None:
                probe.append(p)
            elif fs.get("::dead") == [0]:
                _fold(_stat_from_json(entry[0]), _stat_from_json(entry[1]))
            else:
                scan.append(p)  # tombstones: the footer proves no more
        for relpath, md in zip(probe, _footers(self.storage, probe)):
            cols = _footer_cols(md)
            phys = next((nm for nm in names if nm in cols), None)
            if phys is None:
                continue  # pre-add_column file: reads as null
            out = _footer_minmax(md, [phys])
            ent = out.get(phys)
            if ent is not None and ent[0] is None:
                continue  # all-null file
            if ent is None or out.get("::dead") != [0]:
                scan.append(relpath)  # not provable: scan it
            else:
                _fold(_stat_from_json(ent[0]), _stat_from_json(ent[1]))
        if scan:
            s_lo, s_hi = _agg(self._scan(m, scan))
            if s_lo is not None:
                _fold(s_lo, s_hi)
        return lo, hi

    @staticmethod
    def _pinned_bucket(
        m: dict[str, Any], where: dict[str, tuple]
    ) -> int | None:
        """The single hash bucket a ``where`` can touch, when provable
        JOB-FREE on the driver: an equality bound on the bucket column
        (driver-side xxhash64 replica, property-tested byte-identical to
        Spark's) or ``is_null`` on it (null keys hash to the seed).  None
        = not pinned (or a literal type the replica can't hash — the
        caller may fall back to a 1-row Spark job).  Needs only inline
        manifest fields (schema/key_cols/n_buckets), so it works on a
        RAW, unspliced manifest — the partial point-lookup read depends
        on that."""
        bcol = m["key_cols"][0]
        v = (where or {}).get(bcol)
        if v == "is_null":
            from ..hashing import SPARK_HASH_SEED

            return SPARK_HASH_SEED % m["n_buckets"]
        if isinstance(v, str) or v is None:
            return None
        dtypes = {
            f.name: f.dataType
            for f in T.StructType.fromJson(m["schema"]).fields
        }
        lo = _norm_bound(v[0], dtypes.get(bcol))
        hi = _norm_bound(v[1], dtypes.get(bcol))
        if lo is None or lo != hi:
            return None
        from ..hashing import spark_bucket

        return spark_bucket(lo, dtypes[bcol], m["n_buckets"])

    def _pruned_files(
        self, m: dict[str, Any], where: dict[str, tuple]
    ) -> tuple[list[str], list[str]]:
        """Split the snapshot's files into (kept base, kept delta) relpaths
        under the bounds — see ``read`` for the MOR pruning rule.
        Files with no recorded stats for a bound column are always kept.

        Null predicates (``"is_null"`` / ``"not_null"`` values) ride the
        SAME machinery: ``disjoint`` dispatches on the predicate kind, and
        the MOR proof carries over verbatim — a base file only prunes when
        it is ITSELF provably predicate-free, so its rows would have been
        filtered anyway, and requiring every delta file of the bucket to be
        provably predicate-free guarantees any newly-winning stale delta
        row is filtered too."""
        key_cols = set(m["key_cols"])
        stats = m.get("file_stats") or {}
        dtypes = {
            f.name: f.dataType
            for f in T.StructType.fromJson(m["schema"]).fields
        }
        null_preds = {c: v for c, v in where.items() if isinstance(v, str)}
        nb = {
            c: (_norm_bound(v[0], dtypes.get(c)), _norm_bound(v[1], dtypes.get(c)))
            for c, v in where.items()
            if c not in null_preds
        }

        # files written before a rename_column() carry their stats under the
        # historical name — look the bound column up through the rename
        # chain so old files keep pruning (missing either way = kept)
        ren = m.get("renamed_cols") or {}

        def disjoint(p: str, c: str) -> bool:
            """PROVABLY no row of file ``p`` satisfies the predicate on
            ``c`` — range bounds via min/max (an all-null file is disjoint
            from any actual bound), ``is_null`` via a zero harvested null
            count, ``not_null`` via the all-null ``[None, None, n]``
            stats form."""
            st = stats.get(p)
            if not st:
                return False
            entry = None
            for nm in (c, *ren.get(c, ())):
                if nm in st:
                    entry = st[nm]
                    break
            if entry is None:
                return False
            if c in null_preds:
                if null_preds[c] == "is_null":
                    # two-element entries (a row group without a null
                    # count, see _footer_minmax) are not provable: keep
                    return len(entry) >= 3 and entry[2] == 0
                return entry[0] is None  # not_null: all-null file form
            lo, hi = nb[c]
            if entry[0] is None:
                # all-null file: no row satisfies an ACTUAL bound (nulls
                # fail every comparison); (None, None) applies no filter,
                # so it must keep the file
                return lo is not None or hi is not None
            fmin = _stat_from_json(entry[0])
            fmax = _stat_from_json(entry[1])
            try:
                return (lo is not None and fmax < lo) or (
                    hi is not None and fmin > hi
                )
            except TypeError:  # incomparable bound/stat types: not provable
                return False

        def keep(p: str, usable: list[str]) -> bool:
            return not any(disjoint(p, c) for c in usable)

        delta_by_bucket = {
            b: ps for b, ps in (m.get("delta_files") or {}).items() if ps
        }
        key_bounds = [c for c in where if c in key_cols]
        nonkey_bounds = [c for c in where if c not in key_cols]

        # exact hash-bucket pruning (Iceberg bucket-transform analogue): an
        # EQUALITY bound on the bucket column pins the one bucket that can
        # hold the key — every other bucket's files are skipped outright,
        # stats or no stats.  This is the O(1-bucket) point lookup ("latest
        # state of conversation X") at 10^10 rows.
        only_bucket = self._pinned_bucket(m, where)
        if (
            only_bucket is None
            and m["key_cols"][0] in nb
            and nb[m["key_cols"][0]][0] is not None
            and nb[m["key_cols"][0]][0] == nb[m["key_cols"][0]][1]
        ):
            bcol = m["key_cols"][0]
            # exotic literal the driver-side hash replica can't type:
            # 1-row Spark hashing job fallback (rare; the common string/
            # int path above is job-free, property-tested vs F.xxhash64)
            btype = next(
                f.dataType
                for f in T.StructType.fromJson(m["schema"]).fields
                if f.name == bcol
            )
            try:
                row = (
                    self.spark.createDataFrame(
                        [(nb[bcol][0],)],
                        T.StructType([T.StructField("_k", btype)]),
                    )
                    .select(
                        F.pmod(F.xxhash64(F.col("_k")), F.lit(m["n_buckets"]))
                        .cast("int")
                        .alias("b")
                    )
                    .collect()
                )
                only_bucket = int(row[0]["b"])
            except Exception:
                only_bucket = None  # untypable literal: stats pruning only

        base: list[str] = []
        for b, ps in m["files"].items():
            if only_bucket is not None and int(b) != only_bucket:
                continue
            if str(b) not in delta_by_bucket:
                usable = key_bounds + nonkey_bounds
            else:
                # MOR rule, per non-key column: a base file may prune on c
                # when EVERY delta file of this bucket is PROVABLY disjoint
                # from the bound on c.  Proof sketch: deltas are always
                # kept, so pruning base can only drop keys whose winner
                # would have been filtered anyway — a key with no delta
                # rows had its (out-of-range) base winner excluded by the
                # bound filter; a key with delta rows has every delta row
                # out-of-range on c, so whichever side wins the per-key
                # max-version fold, the winner is out-of-range and excluded.
                # No in-range stale base row can resurrect because base
                # files only prune when they are THEMSELVES out-of-range.
                # An unprovable delta file (missing stats) disables the
                # column — conservative, never wrong.
                usable = key_bounds + [
                    c
                    for c in nonkey_bounds
                    if all(disjoint(p, c) for p in delta_by_bucket[str(b)])
                ]
            base += [p for p in ps if keep(p, usable)]
        deltas: list[str] = []
        for b, ps in delta_by_bucket.items():
            if only_bucket is not None and int(b) != only_bucket:
                continue
            deltas += [p for p in ps if keep(p, key_bounds)]
        return base, deltas

    def applied_epochs(self) -> set:
        """Explicit (unfolded) applied-epoch keys; long-tail history lives
        compactly in the manifest's ``applied_ranges`` — membership checks
        go through ``epoch_applied``."""
        return set(self.manifest()["applied_epochs"])

    def epoch_applied(self, epoch_id: int, epoch_scope: str = "batch") -> bool:
        return _epoch_applied(self.manifest(), f"{epoch_scope}:{epoch_id}")

    # ---------- MERGE (the one join-shaped op; SURVEY.md §2.4) ----------

    def merge(
        self, changes: DataFrame, epoch_id: int, **kw: Any
    ) -> dict[str, Any]:
        """Exactly-once upsert of a change batch; the keyword options and
        their defaults are :meth:`_merge`'s.

        Equivalent of ``MERGE INTO t USING c ON t.key = c.key WHEN MATCHED
        [AND c.version > t.version] UPDATE ... WHEN NOT MATCHED INSERT``
        plus delete tombstones.

        ``mode="cow"`` (copy-on-write): stage-first — job 1 writes the
        deduped batch bucket-partitioned (identical to the delta path's only
        job); the touched-bucket set and batch size come from its parquet
        footers driver-side (no counting job, no persist); job 2 merges the
        staged batch with the touched buckets' base files and rewrites them.
        An initial load (empty target) publishes the staged batch directly —
        one job.  Reads stay one-row-per-key cheap; writes are O(touched
        data).  Two jobs is the CoW floor: the rewrite's input file set is
        data-dependent (find-touched + rewrite, the same two-phase shape as
        Delta Lake's MERGE).

        ``mode="delta"`` (merge-on-read): the deduped change batch itself is
        committed as bucket-partitioned delta files — ONE Spark job per
        epoch, O(batch) cost, no target read.  Readers fold base+delta;
        ``compact()`` folds deltas into base.  This is the high-frequency
        binlog-tail path at 10^10-event scale.

        Audit (write-audit-publish): expected row count is observed inside
        the write job (``Observation``); actual is summed from staged parquet
        footers driver-side — no extra Spark job.  ``audit="keys"`` adds a
        staged duplicate-key scan.

        Idempotence: an ``epoch_id`` already in ``applied_epochs`` is a no-op
        (exactly-once under streaming re-delivery / restart).

        Concurrency (``retries``): the manifest commit is an optimistic
        put-if-absent (``_commit``).  On a lost race the merge re-reads the
        winner's manifest and rebases: a duplicate epoch is skipped
        (exactly-once across writers); a delta commit rebases by re-appending
        its staged files; a CoW commit rebases only if the winner's commit
        left every touched bucket unchanged, otherwise the whole merge
        re-runs against fresh state.  Bounded by ``retries`` attempts.
        Late data: target rows carry their applied ``(ts, _lsn)``; an
        out-of-order older change loses the max-version comparison, and a
        delete tombstone persists so an older update cannot resurrect a key.
        """
        return self._merge(self.manifest(), changes, epoch_id, **kw)

    def _merge(
        self,
        m: dict[str, Any],
        changes: DataFrame,
        epoch_id: int,
        *,
        audit: str = "counts",
        epoch_scope: str = "batch",
        before_publish=None,
        mode: str = "cow",
        retries: int = 5,
        _bypass_watermark: bool = False,
    ) -> dict[str, Any]:
        """:meth:`merge` against ``m``, the head the caller already read —
        the DML verbs pass the snapshot they derived their batch from, so
        the head is resolved once per verb."""
        # this attempt's options, verbatim, for a stale rebase's redo
        opts = {
            k: v
            for k, v in locals().items()
            if k not in ("self", "m", "changes", "epoch_id")
        }
        t0 = time.monotonic()
        # idempotence scope: Structured Streaming epoch ids restart at 0 for
        # every NEW checkpoint, so re-delivery detection is keyed by
        # (checkpoint lineage, epoch) — the exactly-once contract is
        # per-checkpoint, cross-restart
        epoch_key = f"{epoch_scope}:{epoch_id}"
        if _epoch_applied(m, epoch_key):
            return {
                "status": "Skipped",
                "epoch_id": epoch_id,
                "version": m["version"],
                "reason": "epoch already committed",
                "duration_s": time.monotonic() - t0,
            }
        n_buckets = m["n_buckets"]
        key_cols = m["key_cols"]

        # watermark (retention_delete's cutoff or compact's purge bound,
        # whichever is later — see _watermark): an upsert older than it is
        # data the table contracted never to hold again (or whose tombstone
        # may be purged) — drop it before the fold.  Deletes pass (they can
        # only remove), and null-ts events keep their existing semantics.
        # This filter is also what keeps replicas exactly convergent after
        # a retention delete: the upstream never commits a pre-watermark
        # upsert, and the replica's synthesized tombstones block the same
        # versions a second time.  ``_bypass_watermark`` is for INTERNAL
        # verbs only: update_where, whose rewrite of current LIVE state
        # stamps the row's own ts, which may legitimately precede the
        # watermark — it is not late external data, and it can never
        # resurrect a purged key because it was derived from the live
        # snapshot; and a replica's sync, whose rows the upstream's
        # watermark already admitted (``sinks/replica.py``).
        wm = None if _bypass_watermark else _watermark(m)
        batch = changes
        if wm is not None and "ts" in changes.columns:
            batch = changes.filter(
                (F.col("op") == F.lit("D"))
                | F.col("ts").isNull()
                | (F.col("ts") >= F.lit(wm))
            )

        # 1. schema evolution BEFORE touching data: a refused change
        # raises here, before any staging job
        payload = T.StructType(
            [f for f in batch.schema.fields if f.name not in ("op", "lsn")]
        )
        new_schema = T.StructType.fromJson(
            self._schema_change(m, payload)["schema"]
        )

        # 2. within-batch dedup: per-key max-version aggregate, folded on
        # the staging write's bucket exchange (_fold_on_buckets).  The
        # bucket hashes the key cast to the table's type, as every file
        # of the table was bucketed
        kf = new_schema[key_cols[0]]
        deduped = _fold_on_buckets(
            batch.withColumn(
                "_bucket", _bucket_expr(n_buckets, kf.name, kf.dataType)
            ),
            key_cols,
            ("ts", "lsn"),
        )

        # 3. normalize to internal row shape (evaluated once: both the delta
        # path and the stage-first CoW path write this plan straight to
        # parquet and work from the staged files after).  One projection
        # of SQL text
        have = {f.name: f.dataType for f in payload.fields}

        def _internal(f: T.StructField) -> str:
            c = sql_ident(f.name)
            if f.name not in have:
                # the alias is load-bearing: two absent same-typed columns
                # would otherwise share a name and the staging write dies
                # on COLUMN_ALREADY_EXISTS (DML-fuzz find)
                return f"CAST(NULL AS {sql_type(f.dataType)}) AS {c}"
            if have[f.name] == f.dataType:
                return c
            # up-casts a batch narrower than a widened table column
            return f"CAST({c} AS {sql_type(f.dataType)}) AS {c}"

        change_rows = deduped.selectExpr(
            *map(_internal, new_schema.fields),
            "`lsn` AS `_lsn`",
            "`op` = 'D' AS `_deleted`",
            "`_bucket`",
        )

        ischema = T.StructType(new_schema.fields + _INTERNAL_FIELDS)
        old_files = {int(b): paths for b, paths in m["files"].items()}
        old_delta = {
            int(b): paths for b, paths in (m.get("delta_files") or {}).items()
        }
        stage_rel = self._staging_relpath(m["version"] + 1, epoch_id)

        # job 1, both modes: the deduped batch staged bucket-partitioned.
        # delta mode publishes these files as the epoch's delta files (ONE
        # Spark job per epoch).  Copy-on-write stages them under changes/:
        # the touched-bucket set and batch size come from their footers
        # driver-side (no counting job, no persist), and for an empty
        # target (initial load) they ARE the merged result, published
        # directly — one job.  A non-initial CoW epoch adds the
        # merge/rewrite job: the CoW floor (find-touched + rewrite, the
        # same two-phase shape as Delta Lake's MERGE).
        staged_files, rows_by_bucket, staged_rows, staged_stats, observed = (
            self._stage(
                change_rows,
                m,
                stage_rel if mode == "delta" else os.path.join(stage_rel, "changes"),
                obs_aggs=self._constraint_obs_aggs(m),
                audit_empty=False,
            )
        )
        # CHECK constraints gate publish BEFORE the CoW rewrite job is even
        # planned: the violation counts rode the staging observation, so a
        # rejected batch costs only its own staging (zero extra jobs)
        if observed is not None:
            self._check_constraint_obs(m, observed, epoch_id)
        n_change_keys = staged_rows
        touched = sorted(staged_files)
        touched_files = [
            p for b in touched for p in old_files.get(b, []) + old_delta.get(b, [])
        ]
        if mode == "delta":
            merge_path = "delta"
        elif not touched_files:
            merge_path = "initial"  # the staged batch IS the merged result
        else:
            staged_changes = self._scan(
                m,
                [p for ps in staged_files.values() for p in ps],
                live=False,
                schema=ischema,
            )
            target = self._scan(m, touched_files, live=False, schema=ischema)
            # Fast path (the common micro-batch case): the deduped batch is
            # small → broadcast it; target data flows scan→write with ZERO
            # shuffle.  General path: union + per-key max-version aggregate
            # folded on the write's bucket exchange.  A CoW merge over a
            # delta-carrying bucket must also fold the deltas, so it takes
            # the aggregate path.
            if n_change_keys <= _BROADCAST_MAX_KEYS and not any(
                old_delta.get(b) for b in touched
            ):
                merged = self._merge_broadcast(
                    target, staged_changes, key_cols, ischema
                )
                merge_path = "broadcast"
            else:
                merged = _fold_on_buckets(
                    target.unionByName(staged_changes, allowMissingColumns=True),
                    key_cols,
                )
                merge_path = "shuffle"
            staged_files, rows_by_bucket, staged_rows, staged_stats, _ = (
                self._stage(
                    merged,
                    m,
                    os.path.join(stage_rel, "merged"),
                    buckets=touched,
                    audit_empty=False,
                )
            )
        if audit == "keys" and staged_rows:
            dups = (
                self._scan(
                    m,
                    [p for ps in staged_files.values() for p in ps],
                    live=False,
                    schema=ischema,
                )
                .groupBy(*key_cols)
                .count()
                .filter(F.col("count") > 1)
                .limit(1)
                .count()
            )
            if dups:
                raise RuntimeError(
                    f"audit failed: duplicate keys staged for epoch {epoch_id}"
                )

        # ---- publish (optimistic concurrency: assemble against a base
        # manifest; on a lost race, rebase onto the winner and retry)
        def _assemble(mc: dict[str, Any]) -> dict[str, Any]:
            """The fields this commit changes on top of base manifest ``mc``
            (first attempt: the manifest the merge read; rebase attempts:
            the concurrent winner's).  Schema evolution is re-derived
            against ``mc`` — a concurrent writer may have added columns;
            additive union + read-through-nulls make both sides' files
            readable under the merged schema.  Layout (key_cols,
            n_buckets) carries from ``mc``: the rebase check guarantees it
            equals the merge-start layout (a layout change redoes the
            merge)."""
            appends = mode == "delta"
            out = {
                **self._file_set(
                    mc,
                    # a delta commit appends; a CoW commit rewrites the
                    # touched buckets (their deltas are folded in)
                    delta=staged_files if appends else None,
                    base=None if appends else staged_files,
                    stats=staged_stats,
                    rows=rows_by_bucket,
                ),
                "epoch_id": epoch_key,
                **self._schema_change(mc, payload),
            }
            if not appends:
                # clustering markers drop: the touched buckets are
                # rewritten UNSORTED (re-establish with compact/rebucket —
                # the decay-then-reoptimize lifecycle of Delta OPTIMIZE /
                # Iceberg sort orders); a delta commit leaves every base
                # file untouched, so there the claim carries
                out.update(sorted_by=[], zordered_by=[])
            return out

        def _rebase(mc: dict[str, Any], retries_left: int):
            stale = (
                mc["n_buckets"] != n_buckets
                or mc["key_cols"] != key_cols
                # a constraint-set change (the winner was add_constraint/
                # drop_constraint) invalidates the staged ENFORCEMENT, not
                # the bytes: this batch was validated against the
                # constraints as of m, and publishing it under the winner's
                # stricter set would commit unchecked rows
                or (mc.get("constraints") or {})
                != (m.get("constraints") or {})
            )
            # a layout change (the winner was rebucket()) invalidates the
            # staged files in EVERY mode: they are hashed under the OLD
            # bucket count, and appending them (delta) or republishing the
            # old layout (CoW) would silently revert the rebucket and
            # mis-bucket data.  A CoW rewrite folded the touched buckets'
            # state AS OF m, so a winner that changed any of them makes it
            # stale too.  A same-layout delta rebase is safe: delta commits
            # only append per-bucket file lists, they never read target
            # state.
            if not stale and mode != "delta":
                od = m.get("delta_files") or {}
                nd = mc.get("delta_files") or {}
                stale = any(
                    mc["files"].get(str(b)) != m["files"].get(str(b))
                    or nd.get(str(b)) != od.get(str(b))
                    for b in touched
                )
            if stale:
                # redo the whole merge against the winner with this
                # attempt's options (the staged dirs orphan → vacuumed)
                return self._merge(
                    mc, changes, epoch_id, **{**opts, "retries": retries_left}
                )
            return None

        res = self._commit(
            m,
            _assemble,
            lambda new: {
                "merge_path": merge_path,
                "touched_buckets": touched,
                "staged_rows": staged_rows,
                "n_change_keys": n_change_keys,
                "rows_by_bucket": {
                    int(b): n for b, n in rows_by_bucket.items()
                },
                "added_cols": new["added_cols"],
            },
            epoch_key=epoch_key,
            on_conflict=_rebase,
            retries=retries,
            before_publish=before_publish,
        )
        if mode != "delta" and merge_path != "initial":
            # the intermediate change-stage files were folded into merged/
            # and are never referenced by any manifest; drop them now rather
            # than letting them ride inside the (referenced) version dir,
            # which vacuum only collects at top-dir granularity
            self.storage.delete_prefix(os.path.join(stage_rel, "changes"))
        return {
            "epoch_id": epoch_id, **res, "duration_s": time.monotonic() - t0,
        }

    def commit_delta_files(
        self,
        staged_files: dict[int, list[str]],
        rows_by_bucket: dict[str, int],
        staged_stats: dict[str, dict],
        epoch_id,
        payload_schema: T.StructType,
        epoch_scope: str = "batch",
        expected_n_buckets: int | None = None,
        retries: int = 5,
    ) -> dict[str, Any]:
        """Metadata-only delta-append commit of EXTERNALLY WRITTEN files —
        the Iceberg ``add_files`` / external-writer commit analogue, and
        deliberately SPARK-FREE: every step is storage verbs + JSON, so it
        runs in processes without a SparkSession (the ``edem_cdc`` sink's
        driver-side ``commit`` lives in a Python data source worker that
        has no JVM).

        Caller contract (violations corrupt reads — this is the sharp
        verb under the safe ``format("edem_cdc")`` sink):

        * each file is parquet in the internal row shape — the payload
          columns of ``payload_schema`` plus ``_lsn`` (long), ``_deleted``
          (bool), ``_bucket`` (int);
        * files are BUCKET-PURE: every row's ``_bucket`` equals the
          ``staged_files`` key it is listed under, computed as
          ``pmod(xxhash64(key_cols[0]), n_buckets)`` over the CURRENT
          bucket count (``hashing.spark_bucket_array`` is the tested
          executor-side twin of ``_bucket_expr``);
        * files are durable before this call (publish is the commit
          point; a crash before it leaves unreferenced orphans for
          ``vacuum``);
        * ``rows_by_bucket`` / ``staged_stats`` come from the files' own
          parquet footers (the sink audits task-reported counts against
          footers before calling — write-audit-publish).

        Within-epoch duplicate keys are legal (the read-time fold keeps
        the per-key max version, exactly as for redelivered delta rows);
        ``delta_rows`` planning counts include them.

        Exactly-once by ``(epoch_scope, epoch_id)`` through the same
        applied-epoch ledger as ``merge``.  Publish is the same optimistic
        put-if-absent retry loop; schema evolution is re-derived against
        each attempt's base manifest (additive + numeric widening, retired
        names rejected).  A concurrent ``rebucket``/key change/constraint
        change makes the staged files uncommittable (mis-bucketed or
        unvalidated) — unlike ``merge`` this verb cannot restage, so it
        raises instead of silently reverting the winner; the orphaned
        files are vacuum garbage and the caller restages against the
        fresh table.

        CHECK constraints are refused outright: this verb admits rows
        without evaluating anything, and publishing unvalidated rows into
        a constrained table would break the write-time enforcement
        contract — use ``merge``/``replay_stream`` there.
        """
        t0 = time.monotonic()
        m = self.manifest()
        epoch_key = f"{epoch_scope}:{epoch_id}"
        if _epoch_applied(m, epoch_key):
            return {
                "status": "Skipped",
                "epoch_id": epoch_id,
                "version": m["version"],
                "reason": "epoch already applied",
                "duration_s": time.monotonic() - t0,
            }
        if m.get("constraints"):
            raise ValueError(
                f"table has CHECK constraints "
                f"{sorted((m.get('constraints') or {}))} — "
                f"commit_delta_files admits externally written rows without "
                f"evaluating them, which would bypass write-time "
                f"enforcement; ingest through merge()/replay_stream (the "
                f"Spark-validated paths) instead"
            )
        n_buckets = m["n_buckets"]
        key_cols = list(m["key_cols"])
        if expected_n_buckets is not None and expected_n_buckets != n_buckets:
            raise RuntimeError(
                f"epoch {epoch_id}: files were bucketed for "
                f"n_buckets={expected_n_buckets} but the table now has "
                f"n_buckets={n_buckets} (a rebucket landed since staging) — "
                f"staged files are mis-bucketed and cannot be committed; "
                f"restage against the current layout (orphans are vacuumed)"
            )
        staged_sorted = {
            int(b): sorted(ps) for b, ps in staged_files.items() if ps
        }
        bad = [b for b in staged_sorted if not 0 <= b < n_buckets]
        if bad:
            raise ValueError(
                f"staged bucket ids {bad} outside [0, {n_buckets})"
            )
        have = {f.name for f in payload_schema.fields}
        missing = [c for c in key_cols + ["ts"] if c not in have]
        if missing:
            raise ValueError(
                f"payload schema is missing required columns {missing} "
                f"(key columns + the 'ts' version column)"
            )
        staged_rows_total = sum(int(v) for v in rows_by_bucket.values())

        def _assemble(mc: dict[str, Any]) -> dict[str, Any]:
            # a delta append leaves every base file untouched: files,
            # bucket_rows and the clustering claim carry from mc
            return {
                **self._file_set(
                    mc, delta=staged_sorted, stats=staged_stats,
                    rows=rows_by_bucket,
                ),
                "epoch_id": epoch_key,
                **self._schema_change(mc, payload_schema),
            }

        def _rebase(mc: dict[str, Any], _retries_left: int):
            if (
                mc["n_buckets"] != n_buckets
                or list(mc["key_cols"]) != key_cols
                or (mc.get("constraints") or {})
            ):
                raise RuntimeError(
                    f"epoch {epoch_id}: lost the manifest race to a "
                    f"bucket-layout / key / constraint change — the "
                    f"staged files are not committable under the new "
                    f"table shape and this Spark-free verb cannot "
                    f"restage them; restage against the current table "
                    f"(orphans are vacuumed)"
                )

        res = self._commit(
            m,
            _assemble,
            lambda new: {
                "staged_rows": staged_rows_total,
                "touched_buckets": sorted(staged_sorted),
                "added_cols": new["added_cols"],
            },
            epoch_key=epoch_key,
            on_conflict=_rebase,
            retries=retries,
        )
        return {
            "epoch_id": epoch_id, **res, "duration_s": time.monotonic() - t0,
        }

    def _stage(
        self,
        df: DataFrame,
        m: dict[str, Any],
        rel: str,
        *,
        buckets: list[int] | None = None,
        obs_aggs: list = (),
        audit_empty: bool = True,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        zorder_sample: DataFrame | None = None,
        max_rows_per_file: int | None = None,
    ) -> tuple[
        dict[int, list[str]], dict[str, int], int, dict[str, dict], Any
    ]:
        """Stage → audit, the one data-write path of every Spark verb
        (merge's change stage and CoW rewrite, compact, rebucket; the
        reference counts each chunk's records where it writes it,
        ``DataSplit.py:133``).

        Writes ``df`` (internal row shape, ``_bucket`` set) under the
        unreferenced staging prefix ``rel``, hash-partitioned on
        ``_bucket``, laid out as ``_pb=<bucket>/`` dirs, with the table's
        writer options (``_write_options``).  Tasks are sized by data, not
        by bucket count: the exchange has no partition count, so a bucket
        hashes to one shuffle partition (one task, one file) and AQE
        coalesces whole partitions into tasks by their measured shuffle
        bytes.  A small epoch's write is one task instead of one per
        touched bucket, each of which paid the job's Hadoop
        ``Configuration`` deserialization (~13-15 ms) for a few rows.
        This leans on AQE (on in ``get_spark`` and by Spark default):
        with ``spark.sql.adaptive.enabled=false`` the write runs
        ``spark.sql.shuffle.partitions`` tasks, still one file per bucket.
        The exchange may come from the caller's fold
        (:func:`_fold_on_buckets`): ``df`` then arrives hash-partitioned
        on ``_bucket`` already, Spark drops this repartition as
        redundant, and the fold's sort on ``(_bucket, keys)`` also orders
        the rows by ``_pb`` for the writer — one exchange and one sort.
        Clustering: ``sort_by`` sorts each task's rows, ``zorder_by``
        sorts them on a z-value sketched from ``zorder_sample`` (the
        rewrite's own input files); both sorts lead with ``_pb``, the
        writer's dynamic-partition column — FileFormatWriter requires
        task rows ordered by it and inserts its own sort (scrambling the
        clustering) when the incoming ordering is on a different
        attribute.  ``max_rows_per_file`` rolls files.

        Audit: the rows the write job observed (an ``Observation`` riding
        the same job, with the caller's ``obs_aggs`` SQL aggregates —
        merge's CHECK violation counts) must equal the rows in the staged
        parquet footers, read driver-side by :func:`_harvest` (no Spark job).  A
        truncated or unreadable file fails here, before publish.  With
        ``audit_empty=False`` a write that staged zero rows skips the
        observation read: a zero-row write can run zero tasks, leaving a
        schemaless Observation row the py4j conversion asserts on — and
        zero footer rows can neither fail the count nor violate a
        constraint.

        Returns ``(files_by_bucket, rows_by_bucket, total_rows,
        file_stats, observed)``: files sorted by path (one LIST over the
        prefix); ``buckets`` pre-seeds empty entries for buckets the write
        may leave empty and restricts the result to them; ``file_stats``
        holds each new file's footer stats over ``m``'s ``stats_cols``
        (for ``_file_set``); ``observed`` is the observation row (None
        when skipped)."""
        obs = Observation()
        out = df.observe(
            obs, *map(F.expr, ["count(1) AS `rows`", *obs_aggs])
        ).withColumn("_pb", F.expr("`_bucket`"))
        out = out.repartition(F.expr("`_bucket`"))
        if sort_by:
            out = out.sortWithinPartitions("_pb", *sort_by)
        elif zorder_by:
            # boundary sketch: one column-pruned pass over the sample
            # (approxQuantile — no shuffle, O(2^bits) floats to the driver);
            # `_z` is projected away after the sort (the ordering's `_pb`
            # prefix still satisfies the writer, so no re-sort is inserted —
            # the 40k-row disjoint-stats test pins this)
            from ..functions.zorder import zorder_column

            out = (
                out.withColumn("_z", zorder_column(zorder_sample, zorder_by))
                .sortWithinPartitions("_pb", "_z")
                .drop("_z")
            )
        # the write runs under the FRAME's session, which may not be the
        # handle's (a change batch built on another session): pin it too
        # (see __init__)
        df.sparkSession.conf.set(
            "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
        )
        writer = self._write_options(out.write.mode("overwrite"), m)
        if max_rows_per_file:
            writer = writer.option("maxRecordsPerFile", int(max_rows_per_file))
        writer.partitionBy("_pb").parquet(self.storage.spark_path(rel))

        work: list[tuple[int, str]] = []  # (bucket, relpath), sorted
        plen = len(rel.rstrip("/")) + 1
        for o in self.storage.list(rel):
            parts = o.key[plen:].split("/")
            # exactly _pb=<b>/<file>.parquet directly under the prefix —
            # skips _SUCCESS markers, task temp dirs, and nested stages
            if (
                len(parts) != 2
                or not parts[0].startswith("_pb=")
                or not parts[1].endswith(".parquet")
            ):
                continue
            b = int(parts[0].split("=", 1)[1])
            if buckets is not None and b not in buckets:
                continue
            work.append((b, o.key))
        files_by_bucket, rows_by_bucket, file_stats, counts = _harvest(
            self.storage, work, m.get("stats_cols") or [], buckets
        )
        total = sum(counts)

        observed = None
        if total or audit_empty:
            observed = obs.get
            if int(observed["rows"]) != total:
                raise RuntimeError(
                    f"staging audit failed for {rel}: the write job observed "
                    f"{int(observed['rows'])} rows but the staged footers "
                    f"total {total}"
                )
        return files_by_bucket, rows_by_bucket, total, file_stats, observed

    @staticmethod
    def _file_set(
        mc: dict[str, Any],
        *,
        base: dict[int, list[str]] | None = None,
        delta: dict[int, list[str]] | None = None,
        stats: dict[str, dict] | None = None,
        rows: dict[str, int] | None = None,
        drop: frozenset[str] | set[str] = frozenset(),
    ) -> dict[str, Any]:
        """The one derivation of a data commit's ``files``, ``delta_files``,
        ``file_stats``, ``bucket_rows``, ``delta_rows`` and both totals on
        top of base manifest ``mc`` (the reference's per-chunk record
        tracker, ``DataSplit.py:23-31``), from what the verb changed:

        * ``base`` — each REWRITTEN bucket's new base files: its deltas
          (folded in) drop, its ``bucket_rows`` becomes ``rows[b]``;
        * ``delta`` — delta files APPENDED per bucket, adding ``rows[b]``
          to its ``delta_rows``;
        * ``stats`` — the new files' footer stats (``_harvest``, as are
          ``rows``); kept files carry theirs, removed files lose theirs;
        * ``drop`` — base files removed whole, with their ``::rows``.

        Totals are the sums of the per-bucket counters.  A rebucket
        replaces every file under a new layout: it passes ``mc={}``."""

        def by_bucket(key: str, conv) -> dict[int, Any]:
            return {int(b): conv(v) for b, v in (mc.get(key) or {}).items()}

        files = by_bucket("files", list)
        deltas = by_bucket("delta_files", list)
        brows = by_bucket("bucket_rows", int)
        drows = by_bucket("delta_rows", int)
        rows = {int(b): int(n) for b, n in (rows or {}).items()}
        known = {**(mc.get("file_stats") or {}), **(stats or {})}
        for b, ps in (base or {}).items():
            files[b] = list(ps)
            deltas.pop(b, None)
            drows.pop(b, None)
            brows[b] = rows.get(b, 0)
        for b, ps in (delta or {}).items():
            deltas[b] = deltas.get(b, []) + list(ps)
            drows[b] = drows.get(b, 0) + rows.get(b, 0)
        for b, ps in files.items():
            for p in drop.intersection(ps):
                gone = int((known.get(p) or {}).get("::rows", [0])[0])
                brows[b] = max(0, brows.get(b, 0) - gone)
            files[b] = [p for p in ps if p not in drop]
        out = {
            "files": {str(b): ps for b, ps in files.items()},
            "delta_files": {str(b): ps for b, ps in deltas.items() if ps},
            "bucket_rows": {str(b): n for b, n in brows.items()},
            "total_rows": sum(brows.values()),
            "delta_rows": {str(b): n for b, n in drows.items()},
            "delta_rows_total": sum(drows.values()),
        }
        out["file_stats"] = {
            p: known[p] for _, p, _ in _data_files(out) if known.get(p)
        }
        return out

    def _rows_for_bytes(
        self,
        m: dict[str, Any],
        max_file_bytes: int,
        buckets: list[int] | None = None,
    ) -> int | None:
        """Rows-per-file target for a BYTES target: average on-disk row
        width of the files of ``buckets`` (None = all) of snapshot ``m``
        (object sizes, one storage LIST per distinct parent dir, over the
        manifest's base + delta row counters — no file reads) divided
        into ``max_file_bytes``.  ``None`` (no per-file cap) when the
        metadata can't support an estimate (no rows/bytes recorded)."""
        relpaths = [
            p for b, p, _ in _data_files(m) if buckets is None or b in buckets
        ]
        total_rows = sum(
            int(n)
            for counter in ("bucket_rows", "delta_rows")
            for b, n in (m.get(counter) or {}).items()
            if buckets is None or int(b) in buckets
        )
        want = {p for p in relpaths if not p.startswith(_EXT_PREFIX)}
        dirs = {p.rsplit("/", 1)[0] for p in want if "/" in p}
        total_bytes = 0
        for d in sorted(dirs):
            for o in self.storage.list(d):
                if o.key in want:
                    total_bytes += o.size
        # shallow-clone external references: sizes captured at clone time
        ext_sizes = m.get("external_sizes") or {}
        total_bytes += sum(
            int(ext_sizes.get(p, 0))
            for p in relpaths
            if p.startswith(_EXT_PREFIX)
        )
        if total_rows <= 0 or total_bytes <= 0:
            return None
        avg = max(1.0, total_bytes / total_rows)
        return max(1, int(max_file_bytes // avg))

    @staticmethod
    def _check_clustering(
        m: dict[str, Any],
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        max_rows_per_file: int | None = None,
        max_file_bytes: int | None = None,
    ) -> tuple:
        """The one layout resolver of a rewrite (compact, rebucket) and of
        a policy being set: the table's ``maintenance.compact.*``
        properties, read from ``m`` (no extra GET), with each argument
        pair that the caller set (not None) replacing the policy's —
        clustering is ``sort_by``/``zorder_by`` (``sort_by=[]`` opts out),
        sizing is ``max_rows_per_file``/``max_file_bytes``.  Misuse
        raises before any job.  Returns the four resolved values."""
        pol = m.get("properties") or {}

        def prop(key: str, cast):
            v = pol.get(f"maintenance.compact.{key}")
            return None if v is None else cast(v)

        def cols(v) -> list[str]:
            return [c.strip() for c in str(v).split(",") if c.strip()]

        if sort_by is None and zorder_by is None:
            sort_by, zorder_by = prop("sort_by", cols), prop("zorder_by", cols)
        if max_rows_per_file is None and max_file_bytes is None:
            max_rows_per_file = prop("max_rows_per_file", int)
            max_file_bytes = prop("max_file_bytes", int)
        if sort_by and zorder_by:
            raise ValueError("sort_by and zorder_by are mutually exclusive")
        if max_file_bytes and max_rows_per_file:
            raise ValueError(
                "max_rows_per_file and max_file_bytes are mutually exclusive"
            )
        schema = T.StructType.fromJson(m["schema"])
        bad = [c for c in sort_by or () if c not in schema.fieldNames()]
        if bad:
            raise ValueError(f"sort_by columns not in schema: {bad}")
        if zorder_by:
            from ..functions.zorder import zorder_validate

            zorder_validate(schema, zorder_by)
        return sort_by, zorder_by, max_rows_per_file, max_file_bytes

    def _rewrite(
        self,
        m: dict[str, Any],
        buckets: list[int] | None,
        layout: tuple,
        tag: str,
        *,
        n_buckets: int | None = None,
        purge_w=None,
    ) -> tuple[dict[str, Any], int]:
        """The one rewrite: compact's candidate ``buckets``, each whole, or
        (``None``) every file rehashed into ``n_buckets`` (rebucket),
        restaged under ``layout`` (``_check_clustering``).  The unfolded
        inputs (the z-order sketch samples them) fold only when one is a
        delta, since base rows are one per key, and fold on the write's
        bucket exchange (``_fold_on_buckets``; a rebucket hashes the new
        ``_bucket`` first).  Returns the file set with its clustering
        markers, and the staged row count; a full rewrite also clears the
        rename/drop shadows, as every file now carries the current
        names."""
        sort_by, zorder_by, max_rows_per_file, max_file_bytes = layout
        files = sorted(
            (e for e in _data_files(m) if buckets is None or e[0] in buckets),
            key=lambda e: e[0],
        )
        if max_file_bytes:
            max_rows_per_file = self._rows_for_bytes(m, max_file_bytes, buckets)
        key_cols = m["key_cols"]
        inputs = self._scan(m, [p for _, p, _ in files], live=False)
        df = inputs
        if n_buckets is not None:
            df = df.withColumn("_bucket", _bucket_expr(n_buckets, key_cols[0]))
        if any(kind == "delta" for *_, kind in files):
            df = _fold_on_buckets(df, key_cols)
        if purge_w is not None:
            # watermark-bounded tombstone GC (see compact): drop winners
            # that are tombstones older than the lateness bound W.  Applied
            # AFTER the fold so a tombstone first beats every older update
            # in the same fold, exactly as it would have at read time.  A
            # NULL-ts tombstone has no provable age and is always kept
            # (merge passes NULL-ts upserts through the watermark, so only
            # the tombstone can keep blocking them) — the same rule as
            # retention_delete, which never drops NULL-ts rows.
            df = df.filter(
                ~(
                    F.coalesce(F.col("_deleted"), F.lit(False))
                    & F.col("ts").isNotNull()
                    & (F.col("ts") < F.lit(purge_w))
                )
            )
        staged_files, rows_by_bucket, staged_rows, staged_stats, _ = self._stage(
            df,
            m,
            self._staging_relpath(m["version"] + 1, tag),
            buckets=buckets,
            sort_by=sort_by,
            zorder_by=zorder_by,
            zorder_sample=inputs,
            max_rows_per_file=max_rows_per_file,
        )
        change = {
            # a rebucket replaces every file under a new layout: a file
            # set built from nothing
            **self._file_set(
                {} if buckets is None else m,
                base=staged_files, stats=staged_stats, rows=rows_by_bucket,
            ),
            # informational: the clustering applied by THIS rewrite (pruning
            # reads file_stats directly and needs no ordering guarantee)
            "sorted_by": list(sort_by or []),
            "zordered_by": list(zorder_by or []),
        }
        if buckets is None or not change["delta_files"] and all(
            int(b) in buckets for b, ps in m["files"].items() if ps
        ):
            change.update(renamed_cols={}, dropped_cols=[])
        return change, staged_rows

    # ---------- compaction (MOR maintenance) ----------

    def compact(
        self,
        buckets: list[int] | None = None,
        min_delta_files: int = 1,
        before_publish=None,
        sort_by: list[str] | None = None,
        max_rows_per_file: int | None = None,
        zorder_by: list[str] | None = None,
        max_file_bytes: int | None = None,
        purge_tombstones_before=None,
    ) -> dict[str, Any]:
        """Fold delta files into base files at bucket granularity.

        Reads base+delta of each candidate bucket, applies the per-key
        max-version rule, rewrites the bucket, clears its delta list.
        Tombstones are RETAINED (a late out-of-order older update must still
        lose against a delete — dropping tombstones would resurrect keys).
        Compaction is maintenance, not an epoch: ``applied_epochs`` is
        carried through unchanged, so exactly-once bookkeeping is unaffected.

        ``min_delta_files=0`` switches to OPTIMIZE semantics (Iceberg
        ``rewrite_data_files`` / Delta ``OPTIMIZE``): EVERY bucket with
        files is rewritten, deltas or not — the in-place path to
        (re)cluster a copy-on-write table or roll small files.  Still a
        state-preserving ``compact:`` commit, so the change feed's
        fast-path traversal skips it like any other rewrite.

        CLUSTERED compaction (the Iceberg sort-order-rewrite / Delta
        OPTIMIZE analogue): ``sort_by`` sorts each bucket's rows by the
        given payload columns before writing and ``max_rows_per_file``
        rolls the bucket into multiple files at that row count.  At scale a
        bucket is many files, and sorting makes consecutive files carry
        TIGHT, near-disjoint min/max ranges in ``file_stats`` — a non-key
        predicate (``read(where={"ts": (lo, hi)})``) then skips most of a
        bucket's files instead of scanning all of them.  The sort is
        per-bucket (``sortWithinPartitions`` after the bucket exchange) so
        clustering adds no extra shuffle to the fold.

        ``zorder_by`` (mutually exclusive with ``sort_by``) sorts each
        bucket on a Morton-interleaved z-value of SEVERAL columns instead
        (Delta ``OPTIMIZE ZORDER`` / Iceberg z-order analogue,
        :mod:`..functions.zorder`): files then carry tight min/max ranges
        on ALL the clustered columns, so a bounded read on any of them
        skips files — a lexicographic sort only ever skips on its leading
        column.  Costs one extra column-pruned pass over the same files
        the fold reads anyway (the equi-depth boundary sketch).

        ``max_file_bytes`` (mutually exclusive with ``max_rows_per_file``)
        sizes rolled files by TARGET BYTES instead of rows — what you
        actually tune at 100 TB, where row width varies per table (Delta
        OPTIMIZE's ~1 GB default is a bytes target).  The average on-disk
        row width is estimated driver-side from the fold's own input
        (object sizes via the storage LIST verb ÷ manifest row counts — no
        Spark job, no file reads) and converted to a ``maxRecordsPerFile``;
        actual files land near the target, modulated by how much better the
        re-sorted data compresses.

        LAYOUT POLICY: the four clustering/sizing arguments default to the
        table's ``maintenance.compact.{sort_by,zorder_by,max_rows_per_file,
        max_file_bytes}`` properties, so the policy travels with the table
        and every rewrite — the engine tail's cadence, ``auto_maintain``,
        ``rebucket`` — applies it.  An argument pair set by the caller
        replaces the policy's pair for this call (``sort_by=[]`` writes
        unclustered); see :meth:`_check_clustering`.

        ``purge_tombstones_before`` — WATERMARK-BOUNDED TOMBSTONE GC.
        Tombstones must normally be retained forever (see above), because
        per-key max-version semantics need them to beat a late-arriving
        OLDER update.  But a CDC tail always carries a lateness contract —
        the same watermark the streaming engine already enforces — and
        once the caller asserts "no change event with ``ts`` earlier than
        W will ever arrive", a tombstone with ``ts < W`` can never lose to
        anything it still needs to block.  This parameter (epoch seconds,
        ISO string, or datetime — same forms as ``read(as_of=)``) drops
        exactly those tombstones during the fold.  At 10^10 events with
        ongoing deletes this is the difference between a table whose dead
        rows grow without bound and one whose physical size tracks its
        LIVE size (Cassandra's ``gc_grace_seconds`` / Delta deletion-vector
        vacuum analogue).  Live state is untouched, so the commit stays a
        state-preserving ``compact:`` and the change feed's fast path walks
        through it; it also restores the ``::dead``-provable all-live file
        shape that keeps :meth:`count` at tier 1.  The contract is
        ENFORCED, not assumed: the purge commit advances the table's
        lateness watermark (``lateness_ts``, monotone), so merge's
        pre-watermark filter drops a violating late upsert — a purged
        tombstone's key can never be resurrected; the engine simply stops
        needing the tombstone to guarantee it.  (Deletes pass the
        watermark as always; they can only remove.)  The bound is NOT a
        retention cutoff: a later ``retention_delete`` with an older
        cutoff still drops only rows older than its own cutoff.
        Tombstones with a NULL ``ts`` are never purged."""
        t0 = time.monotonic()
        m = self.manifest()
        layout = self._check_clustering(
            m, sort_by, zorder_by, max_rows_per_file, max_file_bytes
        )
        old_delta = {
            int(b): ps for b, ps in (m.get("delta_files") or {}).items() if ps
        }
        cand = sorted(
            b for b, ps in old_delta.items() if len(ps) >= min_delta_files
        )
        if min_delta_files <= 0:
            # OPTIMIZE semantics (Iceberg rewrite_data_files / Delta
            # OPTIMIZE): with min_delta_files=0 every bucket holding any
            # files is a candidate, deltas or not — the in-place path to
            # (re)cluster a copy-on-write table (which never accumulates
            # deltas, so the default fold would be a permanent no-op) or to
            # roll small files.
            cand = sorted(
                {int(b) for b, ps in m["files"].items() if ps} | set(old_delta)
            )
        if buckets is not None:
            cand = [b for b in cand if b in buckets]
        if not cand:
            return {
                "status": "Skipped",
                "reason": "no delta files to compact",
                "version": m["version"],
                "duration_s": time.monotonic() - t0,
            }
        purge_w = None
        if purge_tombstones_before is not None:
            purge_w = _norm_bound(
                self._as_of_datetime(purge_tombstones_before),
                T.TimestampType(),
            )
        version = m["version"] + 1
        change, staged_rows = self._rewrite(
            m, cand, layout, f"compact{version}", purge_w=purge_w
        )
        change["epoch_id"] = f"compact:{version}"
        if purge_w is not None:
            # the purge ENFORCES its own contract: it advances the table's
            # lateness watermark (monotone — _commit keeps the max), so
            # merge's pre-watermark-upsert filter drops the late older
            # events a purged tombstone can no longer block — resurrection
            # becomes impossible, not just contracted away.  Its own key,
            # not retention_ts: a purge bound is no retention cutoff, and
            # retention_delete's drop floor must never inherit it
            change["lateness_ts"] = _stat_to_json(purge_w)
        # compaction is pure maintenance: losing the race to an ingest
        # commit just means the fold re-runs at the next cadence — never
        # block or retry against the ingest path (on_conflict="skip")
        res = self._commit(
            m,
            change,
            {"compacted_buckets": cand, "staged_rows": staged_rows},
            before_publish=before_publish,
        )
        return {**res, "duration_s": time.monotonic() - t0}

    def _merge_broadcast(
        self,
        target: DataFrame,
        change_rows: DataFrame,
        key_cols: list[str],
        ischema: T.StructType,
    ) -> DataFrame:
        """Broadcast MERGE: the deduped change batch joins against the target
        with NO shuffle of target data.

        * updates: broadcast LEFT join target←changes; per row keep whichever
          side has the greater (ts, _lsn) — a late out-of-order change loses;
        * inserts: change keys not present in the target, found via a
          broadcast semi-scan of the target's key columns only (parquet
          column pruning makes this second scan cheap) and a broadcast
          anti-join on the (small) matched-key set.

        Target rows stream scan→(narrow ops)→write; the only shuffled data is
        the change batch itself.  This is the path that keeps per-epoch cost
        O(touched buckets) + O(batch) at 10^10-event scale.

        Every key comparison is NULL-SAFE (``<=>``): a NULL key value is a
        legal key for a grouped consumer (e.g. a derived table grouped on a
        nullable column) — plain equality would never match it, leaving the
        target row un-updated AND re-inserting the change row as a
        duplicate key.  The aggregate (shuffle) path is null-safe already
        (groupBy treats NULL as a group); this keeps both paths identical.
        """
        q = sql_ident
        non_key = [c for c in (f.name for f in ischema.fields) if c not in key_cols]
        c_ren = change_rows.selectExpr(
            *[f"{q(k)} AS {q('_ck_' + k)}" for k in key_cols],
            *[f"{q(c)} AS {q('_c_' + c)}" for c in non_key],
            # explicit match marker: null after an unmatched left join —
            # unlike `_c_ts IS NOT NULL`, it stays true for a matched change
            # row whose ts itself is null (corrupt-version rows still lose
            # the version comparison below, same as the aggregate path)
            "true AS `_c_matched`",
        )
        cond = " AND ".join(f"{q(k)} <=> {q('_ck_' + k)}" for k in key_cols)
        joined = target.join(F.broadcast(c_ren), F.expr(cond), "left")
        newer = (
            "coalesce(`_c_matched`, false)"
            " AND (struct(`_c_ts`, `_c__lsn`) > struct(`ts`, `_lsn`))"
        )
        updated = joined.selectExpr(
            *map(q, key_cols),
            *[
                f"CASE WHEN {newer} THEN {q('_c_' + c)} ELSE {q(c)} END AS {q(c)}"
                for c in non_key
            ],
        )
        from ..util import nullsafe_semi_anti

        keys = list(map(q, key_cols))
        matched = nullsafe_semi_anti(
            target.selectExpr(*keys),
            change_rows.selectExpr(*keys),
            key_cols,
            "left_semi",
            broadcast=True,
        )
        inserts = nullsafe_semi_anti(
            change_rows, matched, key_cols, "left_anti", broadcast=True
        )
        cols = [q(f.name) for f in ischema.fields]
        return updated.selectExpr(*cols).unionByName(inserts.selectExpr(*cols))

    # size cap for each per-column-chunk parquet bloom (parquet-mr's
    # parquet.bloom.filter.max.bytes; 128 KiB ≈ NDV 100k at 1% fpp —
    # bounded per file, zero manifest growth)
    bloom_filter_max_bytes: int = 131072

    def _write_options(self, writer, m: dict[str, Any]):
        """Attach the configured per-table writer options — parquet bloom
        filters and the ``write.parquet.compression`` codec property.
        Applied at EVERY data write site (delta staging, CoW changes +
        merged rewrite, compact, rebucket) so they survive rewrites the
        same way clustering does; a no-op when unconfigured.

        parquet-mr only MATERIALIZES the bloom for column chunks that fall
        back from dictionary encoding (verified empirically: all-unique
        keys grow the file by the bloom size, repeat-heavy keys do not) —
        which is exactly right: dictionary-encoded chunks already give the
        reader EXACT page-dictionary filtering, and the fallback regime is
        the high-cardinality one (10^10 mostly-unique conv_ids per file at
        scale) where only a bloom can skip row groups on a point
        equality.  So the option costs nothing on low-cardinality chunks
        and pays precisely where min/max stats and dictionaries both stop
        working."""
        cols = m.get("bloom_filter_cols") or []
        for c in cols:
            writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
        if cols:
            writer = writer.option(
                "parquet.bloom.filter.max.bytes",
                str(int(self.bloom_filter_max_bytes)),
            )
        codec = (m.get("properties") or {}).get("write.parquet.compression")
        if codec:
            # at 100 TB the codec is a first-order cost lever (zstd ≈ 1.3-
            # 1.5× smaller than Spark's snappy default at comparable scan
            # speed); per-table because transcript text and metric tables
            # compress very differently
            writer = writer.option("compression", str(codec).lower())
        return writer

    def _staging_relpath(self, version: int, epoch_id) -> str:
        # unique per attempt AND per writer: the suffix is a process/clock
        # nonce, not a check-then-act counter — two writers staging the
        # same (version, epoch) concurrently (racing redeliveries of one
        # stream) can never pick the same dir and overwrite each other's
        # staged files mid-merge.  A crashed attempt's dir is never
        # referenced and never collides with the retry (vacuum removes
        # orphans).
        nonce = f"{os.getpid():x}-{time.monotonic_ns():x}"
        return os.path.join(_DATA_DIR, f"v{version:012d}-e{epoch_id}-a{nonce}")

    def rebucket(
        self,
        n_buckets: int,
        before_publish=None,
        sort_by: list[str] | None = None,
        max_rows_per_file: int | None = None,
        zorder_by: list[str] | None = None,
        max_file_bytes: int | None = None,
    ) -> dict[str, Any]:
        """Change the table's hash-bucket count (Iceberg's partition-spec
        evolution for the bucket transform): fold the full current state
        (base + deltas), re-assign every row's bucket under the new count,
        rewrite all files, publish one manifest.

        An operational necessity at 10^10-row scale — a table outgrows its
        create-time ``n_buckets`` (bucket files too large ⇒ CoW epochs too
        expensive, point lookups too broad).  Cost is one full rewrite
        (O(table)), the same as any repartitioning maintenance; subsequent
        merges bucket by the new count.  Exactly-once bookkeeping carries
        through unchanged (maintenance, not an epoch), and the commit is
        the same optimistic put-if-absent — on a lost race to an ingest
        commit it returns Skipped to be retried at a quieter moment.

        ``sort_by`` / ``zorder_by`` / ``max_rows_per_file`` /
        ``max_file_bytes`` cluster and size the rewrite exactly as in
        :meth:`compact`, and default to the same table layout policy (the
        ``maintenance.compact.*`` properties) — a rebucket rewrites every
        file anyway, so re-establishing clustering here is free (without it
        a rebucket would destroy the file-range locality a prior clustered
        compaction built)."""
        t0 = time.monotonic()
        m = self.manifest()
        layout = self._check_clustering(
            m, sort_by, zorder_by, max_rows_per_file, max_file_bytes
        )
        if n_buckets == m["n_buckets"]:
            return {
                "status": "Skipped",
                "reason": "n_buckets unchanged",
                "version": m["version"],
                "duration_s": time.monotonic() - t0,
            }
        version = m["version"] + 1
        change, staged_rows = self._rewrite(
            m, None, layout, f"rebucket{n_buckets}", n_buckets=n_buckets
        )
        res = self._commit(
            m,
            {**change, "epoch_id": f"rebucket:{version}", "n_buckets": n_buckets},
            {"n_buckets": n_buckets, "staged_rows": staged_rows},
            before_publish=before_publish,
        )
        return {**res, "duration_s": time.monotonic() - t0}

    # ---------- maintenance ----------

    def vacuum(
        self,
        keep_versions: int = 1,
        grace_s: float = 600.0,
        dry_run: bool = False,
        collect_files: bool = False,
    ) -> list[str]:
        """Remove data dirs unreferenced by the newest ``keep_versions``
        SURVIVING manifests (the lazy cleanup that replaces the reference's
        eager compensation deletes, ``HandleDataExtractionErrorLambda.py:49-62``;
        "surviving" matters after ``expire_snapshots`` removes old manifest
        objects).

        ``grace_s``: dirs whose NEWEST object (from the storage LISTING's
        per-object metadata — Spark task commits land inner files, so the
        listing sees in-flight writes) is younger than ``grace_s`` seconds
        are NEVER removed even if unreferenced — a CONCURRENT writer's
        staging dir is unreferenced by definition until its manifest
        publishes, and deleting it mid-write would corrupt that writer's
        commit.  This is the standard object-store GC guard (Iceberg's
        ``older_than``); a crashed attempt's orphan stays one grace period
        longer, nothing else changes.  Residual window: a writer idle longer
        than ``grace_s`` between its last staged write and its publish can
        still lose its dir — size ``grace_s`` above the slowest expected
        merge gap (default 600 s).  ``grace_s=0`` restores eager
        single-writer behavior (used by tests).  ``dry_run=True`` reports
        the removal set under the same rules without deleting anything
        (Iceberg's remove-orphan-files dry run — what an operator checks
        before lowering ``grace_s`` or ``keep_versions``).

        ``collect_files=True`` additionally removes UNREFERENCED PARQUET
        FILES inside still-referenced dirs — the erasure path for
        ``retention_delete``'s metadata-dropped files, which share a
        commit dir with files that stay live (dir-granular GC alone would
        keep their bytes until some rewrite relocates the survivors).
        Opt-in because it lists every referenced dir (O(live dirs)
        metadata calls, vs the default's O(garbage)); the same grace
        window applies per object.  No in-flight writer is endangered:
        every commit attempt stages into its own fresh dir, never into an
        old one.

        Cost shape: referenced dirs are skipped on the cheap top-level
        ``list_dirs`` alone; the per-object listing runs ONLY over removal
        candidates, so steady-state vacuum work is O(garbage), not O(table)."""
        self._require_main("vacuum")
        versions = self._list_versions()
        referenced_files: set[str] = set()

        def pin(m: dict[str, Any]) -> None:
            referenced_files.update(
                p
                for _, p, _ in _data_files(m)
                # a clone source's file — not ours to GC
                if not p.startswith(_EXT_PREFIX)
            )

        # newest K surviving manifests PLUS every tagged snapshot — a named
        # ref pins its data files for as long as the tag exists
        keep = set(versions[-max(1, keep_versions):])
        keep |= {v for v in self.tags().values() if v in set(versions)}
        for v in sorted(keep):
            pin(self.manifest(v))
        # live branches pin every dir their surviving chain references —
        # branch writers share data/ and their staged dirs must survive the
        # audit window; drop_branch releases them (branches are short-lived
        # WAP refs, so this is O(branch manifests) small-object GETs)
        for name in self.branches():
            b = ManifestTable(
                self.spark, self.root, storage=self.storage, branch=name
            )
            for bv in b._list_versions():
                try:
                    pin(b.manifest(bv))
                except FileNotFoundError:
                    continue
        referenced = {p.split("/")[1] for p in referenced_files}  # data/<d>/
        removed = []
        now = time.time()
        for d in self.storage.list_dirs(_DATA_DIR):
            if d in referenced:
                if collect_files:
                    for o in self.storage.list(f"{_DATA_DIR}/{d}"):
                        if (
                            o.key.endswith(".parquet")
                            and o.key not in referenced_files
                            and (
                                grace_s <= 0
                                or now - o.last_modified >= grace_s
                            )
                        ):
                            if not dry_run:
                                self.storage.delete(o.key)
                            removed.append(o.key)
                continue
            prefix = f"{_DATA_DIR}/{d}"
            if grace_s > 0:
                newest = max(
                    (o.last_modified for o in self.storage.list(prefix)),
                    default=0.0,  # no objects yet = nothing to corrupt
                )
                if now - newest < grace_s:
                    continue  # possibly an in-flight writer's staging dir
            if not dry_run:  # dry_run: report the removal set, touch nothing
                self.storage.delete_prefix(prefix)
            removed.append(d)
        return removed

    def history(self) -> DataFrame:
        """Snapshot metadata table (Iceberg's ``snapshots``/``history``
        analogue): one row per SURVIVING manifest version, read from the
        manifest chain — the audit surface ("what committed yesterday, by
        which epoch?") without parsing raw manifest JSON.

        ``operation`` is derived from the stamped ``epoch_id``: ``create``
        (v0), ``merge`` (an ingest epoch key ``scope:id``), ``compact``, or
        ``rebucket``.  ``added_files``/``removed_files`` are diffs against
        the PARENT manifest and are null when the parent snapshot has been
        expired (the diff basis is gone — never guessed).

        Driver cost is O(surviving manifests) small-object GETs — the same
        metadata ``read(version=)`` touches; ``expire_snapshots`` /
        ``vacuum(keep_versions=)`` bound it."""
        import datetime as _dt

        versions = self._list_versions()
        manifests = {v: self.manifest(v) for v in versions}
        by_version_tags: dict[int, list[str]] = {}
        for name, tv in self.tags().items():
            by_version_tags.setdefault(tv, []).append(name)

        def _files_of(m: dict[str, Any]) -> set[str]:
            return {p for _, p, _ in _data_files(m)}

        # operation → the epoch-key scope its commits are stamped with
        ops = {
            "compact": "compact", "rebucket": "rebucket",
            "set-stats": "set-stats", "set-bloom": "set-bloom",
            "publish": "publish", "rollback": "rollback",
            "retention_delete": "retdel",
        }

        rows = []
        for v in versions:
            m = manifests[v]
            ek = m.get("epoch_id")
            op = "create" if ek is None else next(
                (op for op in ops if str(ek).startswith(f"{ops[op]}:")),
                "merge",  # an ingest epoch key
            )
            fs = _files_of(m)
            parent = m.get("parent")
            pm = manifests.get(parent) if parent is not None else None
            if pm is not None:
                pf = _files_of(pm)
                added, removed = len(fs - pf), len(pf - fs)
            elif parent is None:
                added, removed = len(fs), 0
            else:  # parent snapshot expired: no diff basis
                added = removed = None
            rows.append(
                (
                    v,
                    parent,
                    str(ek) if ek is not None else None,
                    op,
                    _dt.datetime.fromtimestamp(
                        m["committed_at"], tz=_dt.timezone.utc
                    ),
                    int(m.get("total_rows") or 0),
                    int(m.get("delta_rows_total") or 0),
                    len(fs),
                    added,
                    removed,
                    sorted(by_version_tags.get(v, [])),
                )
            )
        schema = (
            "version long, parent long, epoch_id string, operation string, "
            "committed_at timestamp, total_rows long, delta_rows_total long, "
            "n_files long, added_files long, removed_files long, "
            "tags array<string>"
        )
        return self.spark.createDataFrame(rows, schema)

    def files(self, version: int | None = None) -> DataFrame:
        """Data-file metadata table (Iceberg's ``files`` analogue): one row
        per data file of a snapshot — path, bucket, kind (``base`` /
        ``delta``), on-disk bytes, and the per-file min/max stats the
        manifest prunes with (JSON-encoded, exactly as stored) — the ops
        surface for "which buckets are delta-heavy?", "how skewed are file
        sizes?", "what ranges does this file cover?" without parsing raw
        manifest JSON.

        Driver cost: the manifest (already in hand) plus one storage LIST
        per distinct staging dir for object sizes — the same granularity
        ``vacuum`` lists at, metadata-only, no file contents read."""
        return self._files_of(self.manifest(version))

    def _files_of(self, m: dict[str, Any]) -> DataFrame:
        """:meth:`files` of snapshot ``m``."""
        import datetime as _dt

        stats = m.get("file_stats") or {}
        # (relpath, bucket, kind)
        entries = [(p, b, kind) for b, p, kind in _data_files(m)]
        listed = self._listing([p for p, _, _ in entries])
        sizes = {k: o.size for k, o in listed.items()}
        for p, sz in (m.get("external_sizes") or {}).items():
            sizes[p] = int(sz)
        rows = [
            (
                p,
                b,
                kind,
                sizes.get(p),
                json.dumps(stats[p], sort_keys=True) if p in stats else None,
                _dt.datetime.fromtimestamp(
                    listed[p].last_modified, tz=_dt.timezone.utc
                )
                if p in listed
                else None,
            )
            for p, b, kind in sorted(entries)
        ]
        return self.spark.createDataFrame(
            rows,
            "file_path string, bucket int, kind string, size_bytes long, "
            "stats_json string, written_at timestamp",
        )

    def partitions(self, version: int | None = None) -> DataFrame:
        """Per-bucket summary table (Iceberg's ``partitions`` analogue):
        file counts and bytes split base/delta plus the bucket's delta row
        count — the one-look surface for compaction planning ("which
        buckets have enough deltas to fold?") and skew diagnosis.  Built
        from ``files()``, so the cost is the same metadata-only LISTs."""
        m = self.manifest(version)
        f = self._files_of(m)
        dr = {int(b): int(n) for b, n in (m.get("delta_rows") or {}).items()}
        agg = (
            f.groupBy("bucket")
            .agg(
                F.sum(F.when(F.col("kind") == "base", 1).otherwise(0))
                .cast("long")
                .alias("base_files"),
                F.sum(F.when(F.col("kind") == "delta", 1).otherwise(0))
                .cast("long")
                .alias("delta_files"),
                F.sum(F.when(F.col("kind") == "base", F.col("size_bytes")))
                .cast("long")
                .alias("base_bytes"),
                F.sum(F.when(F.col("kind") == "delta", F.col("size_bytes")))
                .cast("long")
                .alias("delta_bytes"),
            )
        )
        drdf = self.spark.createDataFrame(
            [(b, n) for b, n in sorted(dr.items())] or [],
            "bucket int, delta_rows long",
        )
        return agg.join(drdf, "bucket", "left").na.fill(
            {"delta_rows": 0}
        ).orderBy("bucket")

    def delete_where(
        self,
        predicate,
        epoch_id: int,
        epoch_scope: str = "delete",
        mode: str = "delta",
        **merge_kwargs,
    ) -> dict[str, Any]:
        """Row-level ``DELETE FROM t WHERE predicate`` (the GDPR /
        right-to-be-forgotten verb) — expressed as an ordinary change
        batch so it inherits EVERYTHING the merge path gives: exactly-once
        by epoch, delta-mode O(matching rows) cost, the change feed sees
        the deletes, and downstream MVs sync them incrementally.

        CDC-consistent versioning: each matching LIVE row becomes a delete
        tombstone stamped ``(its own ts, its _lsn + 1)`` — it outranks
        exactly the version it deletes and LOSES to any genuinely newer
        change, so a later binlog update re-inserts the key (Iceberg
        DELETE + subsequent MERGE re-insert semantics) while an
        out-of-order OLDER update still cannot resurrect it.  A predicate
        matching nothing is a clean no-op epoch.

        The predicate is evaluated against LIVE rows of the current
        snapshot (user columns only).  Physical removal of the tombstoned
        payload bytes happens at the next rewrite of those buckets
        (``compact(min_delta_files=0)`` for at-once erasure — the same
        two-step logical-then-physical deletion contract as Iceberg/Delta
        row-level deletes).

        ``predicate`` is a SQL string or a ``Column`` expression."""
        m = self.manifest()
        key_cols = set(m["key_cols"])
        fields = list(T.StructType.fromJson(m["schema"]).fields)
        pred = (
            predicate if not isinstance(predicate, str) else F.expr(predicate)
        )
        live = self._scan(m).filter(pred)
        # the tombstone carries ONLY what versioning and routing need: the
        # key columns and the row's ts — every other payload column is
        # nulled so the deleted content never rides in the delta files
        batch = live.select(
            F.lit("D").alias("op"),
            (F.coalesce(F.col("_lsn"), F.lit(0)) + 1).alias("lsn"),
            *[
                F.col(f.name)
                if f.name in key_cols or f.name == "ts"
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in fields
            ],
        )
        return self._merge(
            m,
            batch,
            epoch_id,
            epoch_scope=epoch_scope,
            mode=mode,
            **merge_kwargs,
        )

    def retention_delete(
        self, ts_before, epoch_id: int, **merge_kwargs
    ) -> dict[str, Any]:
        """``DELETE FROM t WHERE ts < ts_before`` as a RETENTION verb —
        the Iceberg/Delta "drop old partitions" shape: files whose stats
        PROVE every row is older than the cutoff are removed with a
        METADATA-ONLY commit (zero Spark jobs, zero data rewritten — the
        O(metadata) retention path a 100 TB table needs), and only the
        boundary rows pay the ordinary tombstone-delete cost.

        Reference analogue: the reference pipeline has no retention story
        at all — the warehouse prefix only grows and each run re-declares
        the external table over all of it (``Phase3-DataLoad.py:101-118``).

        Three idempotent phases, each exactly-once by ``epoch_id`` so a
        crash between them retries cleanly:

        1. **File drop (metadata-only).**  A base file is droppable when
           its manifest ``ts`` stats prove ``max(ts) < ts_before``, its
           bucket has NO delta files (a remaining delta row could carry an
           out-of-order OLDER version that would win the fold once the
           base row is gone — resurrecting stale content), and its
           harvested null count proves the file has no null-``ts`` rows
           (nulls are invisible to min/max stats and do not match the
           predicate).  Droppable files are removed from the manifest in
           one commit tagged ``retdel:`` that also records them as
           ``retdel_dropped`` — the change feed, replicas, and the
           streaming source read the dropped files themselves as the
           delete set, so downstream consumers stay O(changes).
        2. **Retention watermark.**  The same commit advances
           ``retention_ts`` (monotone max).  Every later ``merge`` drops
           incoming UPSERTS older than the watermark before the fold: the
           table contracted never to hold pre-cutoff rows again, and this
           is what keeps log-shipped replicas exactly convergent (their
           synthesized tombstones block exactly the versions the upstream
           now filters).  Deletes pass the watermark — they can only
           remove.
        3. **Residual tombstones.**  Boundary files (stats straddle the
           cutoff) and buckets with deltas are handled by an ordinary
           ``delete_where(ts < ts_before)`` — O(matching rows), change
           feed and MVs see them as normal deletes.

        Physical bytes of dropped files remain on disk for time travel
        until ``expire_snapshots`` + ``vacuum`` — the standard two-step
        erasure contract.  Rows with NULL ``ts`` are never retention-
        deleted (retention is keyed on the version timestamp).

        Concurrency: the drop commit CAS-retries, RECOMPUTING the
        droppable set against each race winner (a concurrently merged
        bucket grows deltas and leaves the set; the residual pass then
        tombstones its pre-cutoff rows — nothing stale survives).  The
        watermark binds merges that BEGIN after the retention commit; a
        delta merge already staged when retention lands rebases and its
        pre-cutoff upserts still land (linearization point = merge
        start) — the NEXT retention pass ages them out.  Both races are
        pinned in ``test_retention.py``."""
        import datetime as _dt

        self._require_main("retention_delete")
        t0 = time.monotonic()
        m = self.manifest()
        ts_type = next(
            (
                f.dataType
                for f in T.StructType.fromJson(m["schema"]).fields
                if f.name == "ts"
            ),
            None,
        )
        if ts_type is None:
            raise ValueError("retention_delete needs a ts column")
        cutoff = _norm_bound(ts_before, ts_type)
        if not isinstance(cutoff, (_dt.datetime, _dt.date)):
            raise ValueError(
                f"ts_before must be a timestamp (datetime or ISO string), "
                f"got {ts_before!r}"
            )

        drop_key = f"retdel:{epoch_id}"

        def _drop(m: dict[str, Any]) -> dict[str, Any] | None:
            # the drop floor comes from retention cutoffs only: a purge's
            # lateness_ts bounds late upserts, it never licenses dropping
            # the live rows below it
            old_ret = m.get("retention_ts")
            old_cut = _stat_from_json(old_ret) if old_ret is not None else None
            eff = cutoff if old_cut is None else max(old_cut, cutoff)
            dropped = self._droppable_before(m, eff)
            if not dropped and old_cut is not None and eff <= old_cut:
                # nothing to drop and the watermark already covers the
                # cutoff: no commit needed, go straight to the residual
                return None
            return {
                **self._file_set(m, drop={p for _, p, _ in dropped}),
                "epoch_id": drop_key,
                "retention_ts": _stat_to_json(eff),
                "retdel_dropped": sorted(p for _, p, _ in dropped),
                "retdel_rows": sum(rows for _, _, rows in dropped),
            }

        # a lost race re-reads the head and recomputes the drop set
        drop = self._commit(
            m,
            _drop,
            lambda new: {
                "dropped_files": len(new["retdel_dropped"]),
                "dropped_rows": new["retdel_rows"],
            },
            epoch_key=drop_key,
            on_conflict="retry",
            retries=5,
        )
        result: dict[str, Any] = {
            "status": "Success",
            "epoch_id": epoch_id,
            "dropped_files": drop.get("dropped_files", 0),
            "dropped_rows": drop.get("dropped_rows", 0),
        }
        if drop["status"] == "Success":
            result["version"] = drop["version"]
        else:
            result["drop_status"] = drop["status"]  # Skipped / NoChange

        # residual tombstone pass over whatever live pre-cutoff rows remain
        # (boundary files, buckets that had deltas) — its own exactly-once
        # scope so a crash between the phases retries just this half
        res = self.delete_where(
            F.col("ts") < F.lit(cutoff),
            epoch_id,
            epoch_scope="retdel-res",
            mode="delta",
            **merge_kwargs,
        )
        result["residual"] = res
        result["version"] = res.get("version", result.get("version"))
        result["duration_s"] = time.monotonic() - t0
        return result

    def _droppable_before(
        self, m: dict[str, Any], cutoff
    ) -> list[tuple[str, str, int]]:
        """Files provably ALL-OLDER than ``cutoff``, from the manifest
        alone (no I/O): harvested ``ts`` stats give ``max(ts) < cutoff``
        and a zero null count (nulls are invisible to min/max stats and
        never match the predicate), ``::rows`` the row count, and the
        bucket has no delta files.  A file without that proof is left to
        the residual pass.  Returns ``(bucket, relpath, rows)`` sorted by
        path.  Shallow-clone ``ext://`` references are never dropped here
        (their bytes belong to the source table; localize with
        ``compact(min_delta_files=0)`` first)."""
        stats = m.get("file_stats") or {}
        deltas = m.get("delta_files") or {}
        out: list[tuple[str, str, int]] = []
        for b, ps in m["files"].items():
            if deltas.get(str(b)):
                continue
            for p in ps:
                if p.startswith(_EXT_PREFIX):
                    continue
                fs = stats.get(p) or {}
                st, rows = fs.get("ts"), fs.get("::rows")
                if st is None or len(st) < 3 or st[2] or not rows:
                    continue  # unproven, or has null-ts rows
                try:
                    if _stat_from_json(st[1]) < cutoff:
                        out.append((str(b), p, int(rows[0])))
                except TypeError:
                    continue
        return sorted(out, key=lambda r: r[1])

    def update_where(
        self,
        predicate: str,
        set: dict[str, str],
        epoch_id: int,
        epoch_scope: str = "update",
        mode: str = "delta",
        **merge_kwargs,
    ) -> dict[str, Any]:
        """Row-level ``UPDATE t SET col = expr WHERE predicate`` (Delta
        UPDATE analogue) — the DML triple's third verb, built exactly like
        :meth:`delete_where`: each matching LIVE row becomes an upsert
        stamped ``(its own ts, _lsn + 1)`` carrying the mutated payload,
        so the update outranks exactly the version it read, loses to
        genuinely newer changes, and an out-of-order older change cannot
        undo it.  ``set`` maps payload column -> SQL expression evaluated
        over the matching row (``{"text": "'[redacted]'"}``,
        ``{"value": "value * 2"}``).  Key columns and ``ts`` cannot be
        set (changing a key is delete+insert — two explicit verbs; ``ts``
        is the version column).  Exactly-once by epoch; O(matching rows)
        in delta mode; the change feed reports updates with both images."""
        m = self.manifest()
        key_cols = list(m["key_cols"])
        fields = list(T.StructType.fromJson(m["schema"]).fields)
        names = {f.name for f in fields}
        set_ = dict(set)  # `set` shadows the builtin inside this scope
        bad = [c for c in set_ if c not in names]
        if bad:
            raise ValueError(f"set columns not in schema: {bad}")
        immutable = [c for c in set_ if c in key_cols or c == "ts"]
        if immutable:
            raise ValueError(
                f"cannot set {immutable}: key columns identify the row "
                f"(delete + insert instead) and ts is the version column"
            )
        live = self._scan(m).filter(F.expr(predicate))
        batch = live.select(
            F.lit("U").alias("op"),
            (F.coalesce(F.col("_lsn"), F.lit(0)) + 1).alias("lsn"),
            *[
                F.expr(set_[f.name]).cast(f.dataType).alias(f.name)
                if f.name in set_
                else F.col(f.name)
                for f in fields
            ],
        )
        return self._merge(
            m,
            batch,
            epoch_id,
            epoch_scope=epoch_scope,
            mode=mode,
            # the rewrite stamps each row's OWN ts, which may precede a
            # purge-advanced watermark — internal live-state rewrites are
            # not late external data (see merge)
            _bypass_watermark=True,
            **merge_kwargs,
        )

    def merge_into(
        self,
        source: DataFrame,
        epoch_id: int,
        when_matched_update: dict[str, str] | str | None = None,
        matched_condition: str | None = None,
        when_matched_delete: bool | str = False,
        when_not_matched_insert: dict[str, str] | str | None = None,
        not_matched_condition: str | None = None,
        not_matched_by_source_delete: bool | str = False,
        epoch_scope: str = "merge_into",
        mode: str = "delta",
        validate_source_unique: bool = True,
        evolve_schema: bool = False,
        **merge_kwargs,
    ) -> dict[str, Any]:
        """General ``MERGE INTO t USING source ON t.key = s.key`` with
        user clauses — the Delta/Iceberg MERGE surface, compiled down to
        one change batch through :meth:`merge` so it inherits exactly-once
        by epoch, delta-mode O(affected rows) cost, the change feed, and
        incremental MV sync.  (:meth:`merge` itself is the CDC fast path:
        a pre-shaped op/lsn/ts change batch; this is the DML verb for
        callers holding an arbitrary source frame.)

        The ON condition is fixed to the table's key columns (null-safe
        equality) — that is what makes the apply key-partitionable and the
        per-key version fold correct; an arbitrary ON predicate is a
        different operator (a join), not an upsert.

        Clauses (each optional; at least one required):

        - ``when_matched_delete`` — ``True`` or a SQL condition over
          ``s.*``/``t.*``.  Evaluated FIRST on matched live rows (the
          standard MERGE idiom puts the narrowing delete clause first).
        - ``when_matched_update`` — ``"all"`` (every non-key payload
          column except ``ts`` ← source's same-named column) or a dict
          ``{col: sql_expr}`` where expressions may reference ``s.<col>``
          and ``t.<col>``; unlisted columns keep the target value.
          ``matched_condition`` narrows it.  Applies to matched live rows
          the delete clause did not take.
        - ``when_not_matched_insert`` — ``"all"`` (every payload column ←
          source's same-named column) or ``{col: sql_expr}`` over
          ``s.*``; unlisted columns insert as null, except ``ts`` which
          must be supplied (it is the version column).
          ``not_matched_condition`` narrows it.
        - ``not_matched_by_source_delete`` — ``True`` or a condition over
          ``t.*``: delete live target rows with NO source row (Delta's
          WHEN NOT MATCHED BY SOURCE; the sync-from-snapshot idiom).
          Requires a full-outer join; without it the plan is a cheaper
          left join from the source.

        CDC-consistent versioning (same contract as :meth:`update_where`
        / :meth:`delete_where`): every matched-row verb is stamped
        ``(t.ts, t._lsn + 1)`` — outranks exactly the version it read,
        loses to genuinely newer WAL changes.  An insert over a DELETE
        TOMBSTONE is stamped ``(greatest(insert ts, tombstone ts),
        tombstone lsn + 1)`` so MERGE insert semantics beat the tombstone
        (Iceberg MERGE re-insert after DELETE) while an out-of-order
        older WAL change still cannot shadow it.  A fresh insert carries
        its own ``ts`` and lsn 1.

        ``validate_source_unique`` (default on) runs one small count job
        rejecting sources with duplicate keys — the MERGE cardinality
        violation Delta/Iceberg raise at runtime; pass ``False`` when the
        source is unique by construction.

        ``evolve_schema`` (Delta's ``withSchemaEvolution()``): when True,
        source columns absent from the table schema flow through the
        statement — ``"all"`` clauses copy them, dict clauses may assign
        to them — and the batch rides :meth:`merge`'s additive evolution
        (new nullable column; rows the statement did not touch read
        null).  When False (default, Delta's default too), ``"all"``
        clauses ignore extra source columns and a dict assigning to an
        unknown column raises.  Reserved and tombstoned names are
        rejected before any job either way.
        """
        if not any(
            [
                when_matched_update,
                when_matched_delete,
                when_not_matched_insert,
                not_matched_by_source_delete,
            ]
        ):
            raise ValueError("merge_into needs at least one clause")
        if when_matched_delete is True and when_matched_update:
            raise ValueError(
                "when_matched_delete=True (unconditional) makes the update "
                "clause unreachable — give the delete clause a condition"
            )
        m = self.manifest()
        key_cols = list(m["key_cols"])
        fields = list(T.StructType.fromJson(m["schema"]).fields)
        names = {f.name for f in fields}
        payload_nonkey = [
            f.name for f in fields if f.name not in key_cols and f.name != "ts"
        ]
        missing_keys = [k for k in key_cols if k not in source.columns]
        if missing_keys:
            raise ValueError(f"source lacks key columns: {missing_keys}")
        # evolve_schema: names the statement introduces, in first-seen
        # order.  "all" clauses contribute extra source columns; dict
        # clauses contribute unknown assignment targets.  The emitted
        # batch carries them and merge()'s additive evolution lands them.
        new_cols: list[str] = []

        def _introduce(col: str) -> None:
            if col not in new_cols:
                new_cols.append(col)

        src_extras = [c for c in source.columns if c not in names]
        if isinstance(when_matched_update, dict):
            bad = [c for c in when_matched_update if c not in names]
            if bad and not evolve_schema:
                raise ValueError(
                    f"update columns not in schema: {bad} "
                    "(pass evolve_schema=True to add them)"
                )
            for c in bad:
                _introduce(c)
            imm = [
                c for c in when_matched_update if c in key_cols or c == "ts"
            ]
            if imm:
                raise ValueError(
                    f"cannot update {imm}: key columns identify the row and "
                    "ts is the version column"
                )
        elif when_matched_update == "all":
            lacking = [c for c in payload_nonkey if c not in source.columns]
            if lacking:
                raise ValueError(
                    f'update "all" needs source columns: {lacking}'
                )
            if evolve_schema:
                for c in src_extras:
                    _introduce(c)
        elif when_matched_update is not None:
            raise ValueError('when_matched_update must be "all" or a dict')
        ins_map: dict[str, str] | None = None
        if isinstance(when_not_matched_insert, dict):
            bad = [c for c in when_not_matched_insert if c not in names]
            if bad and not evolve_schema:
                raise ValueError(
                    f"insert columns not in schema: {bad} "
                    "(pass evolve_schema=True to add them)"
                )
            for c in bad:
                _introduce(c)
            ins_map = dict(when_not_matched_insert)
            if "ts" not in ins_map:
                if "ts" not in source.columns:
                    raise ValueError(
                        "insert clause must supply ts (the version column) "
                        "— add it to the dict or the source"
                    )
                ins_map["ts"] = "s.ts"
        elif when_not_matched_insert == "all":
            lacking = [
                f.name for f in fields if f.name not in source.columns
            ]
            if lacking:
                raise ValueError(
                    f'insert "all" needs source columns: {lacking}'
                )
            ins_map = {f.name: f"s.{f.name}" for f in fields}
            if evolve_schema:
                for c in src_extras:
                    _introduce(c)
                    ins_map[c] = f"s.{c}"
        elif when_not_matched_insert is not None:
            raise ValueError('when_not_matched_insert must be "all" or a dict')
        for c in new_cols:
            self._admit(m, c)

        if validate_source_unique:
            dup = (
                source.groupBy(*key_cols)
                .count()
                .filter(F.col("count") > 1)
                .limit(1)
                .collect()
            )
            if dup:
                raise ValueError(
                    "source has duplicate keys (MERGE cardinality "
                    f"violation), e.g. {dup[0].asDict()}"
                )

        s = source.withColumn("_s_exists", F.lit(True)).alias("s")
        # the folded state KEEPS tombstones: an insert over a tombstoned
        # key must stamp a version that outranks the tombstone
        t = self._scan(m, live=False).withColumn("_t_exists", F.lit(True)).alias("t")
        on = functools.reduce(
            lambda x, y: x & y,
            [F.col(f"s.{k}").eqNullSafe(F.col(f"t.{k}")) for k in key_cols],
        )
        how = "full_outer" if not_matched_by_source_delete else "left_outer"
        j = s.join(t, on, how)

        s_ex = F.col("s._s_exists").isNotNull()
        t_ex = F.col("t._t_exists").isNotNull()
        tomb = t_ex & F.coalesce(F.col("t._deleted"), F.lit(False))
        live = t_ex & ~F.coalesce(F.col("t._deleted"), F.lit(False))

        def _cond(c: bool | str | None) -> "F.Column":
            return F.expr(c) if isinstance(c, str) else F.lit(True)

        # clause order is fixed and documented: matched-delete, matched-
        # update, not-matched-insert, not-matched-by-source-delete.
        # Internal verbs: D/S fold to op 'D', U/I to op 'U'.
        verb = F.lit(None).cast("string")
        if not_matched_by_source_delete:
            verb = F.when(
                ~s_ex & live & _cond(not_matched_by_source_delete), "S"
            ).otherwise(verb)
        if ins_map is not None:
            verb = F.when(
                s_ex & ~live & _cond(not_matched_condition), "I"
            ).otherwise(verb)
        if when_matched_update:
            verb = F.when(
                s_ex & live & _cond(matched_condition), "U"
            ).otherwise(verb)
        if when_matched_delete:
            verb = F.when(
                s_ex & live & _cond(when_matched_delete), "D"
            ).otherwise(verb)

        def _upd_val(f: T.StructField) -> "F.Column":
            if when_matched_update == "all":
                src_c = (
                    F.col(f"s.{f.name}")
                    if f.name in payload_nonkey
                    else F.col(f"t.{f.name}")
                )
                return src_c
            if when_matched_update and f.name in when_matched_update:
                return F.expr(when_matched_update[f.name])
            return F.col(f"t.{f.name}")

        def _ins_val(f: T.StructField) -> "F.Column":
            if ins_map is not None and f.name in ins_map:
                return F.expr(ins_map[f.name])
            return F.lit(None)

        ins_ts = _ins_val(next(f for f in fields if f.name == "ts")) if (
            ins_map is not None
        ) else F.lit(None)
        ts_type = next(f.dataType for f in fields if f.name == "ts")
        out_ts = (
            F.when(F.col("_verb").isin("D", "S", "U"), F.col("t.ts"))
            .when(
                F.col("_verb") == "I",
                F.when(
                    tomb, F.greatest(ins_ts.cast(ts_type), F.col("t.ts"))
                ).otherwise(ins_ts.cast(ts_type)),
            )
        )

        def _out(f: T.StructField) -> "F.Column":
            if f.name in key_cols:
                v = F.coalesce(F.col(f"s.{f.name}"), F.col(f"t.{f.name}"))
            elif f.name == "ts":
                v = out_ts
            else:
                v = (
                    F.when(F.col("_verb") == "U", _upd_val(f))
                    .when(F.col("_verb") == "I", _ins_val(f))
                    .otherwise(F.lit(None))
                )
            return v.cast(f.dataType).alias(f.name)

        def _out_new(c: str) -> "F.Column":
            # evolved column: no table side exists yet.  Update takes the
            # source column ("all") or the user expression; insert takes
            # the ins_map expression; delete verbs null.  Types come from
            # the analyzer's when/otherwise common type (a clash between
            # the update and insert expressions fails loudly at analysis).
            if when_matched_update == "all":
                upd = F.col(f"s.{c}")
            elif when_matched_update and c in when_matched_update:
                upd = F.expr(when_matched_update[c])
            else:
                upd = F.lit(None)
            ins = (
                F.expr(ins_map[c])
                if ins_map is not None and c in ins_map
                else F.lit(None)
            )
            return (
                F.when(F.col("_verb") == "U", upd)
                .when(F.col("_verb") == "I", ins)
                .otherwise(F.lit(None))
                .alias(c)
            )

        batch = (
            j.withColumn("_verb", verb)
            .filter(F.col("_verb").isNotNull())
            .select(
                F.when(F.col("_verb").isin("D", "S"), F.lit("D"))
                .otherwise(F.lit("U"))
                .alias("op"),
                (F.coalesce(F.col("t._lsn"), F.lit(0)) + 1).alias("lsn"),
                *[_out(f) for f in fields],
                *[_out_new(c) for c in new_cols],
            )
        )
        return self._merge(
            m,
            batch,
            epoch_id,
            epoch_scope=epoch_scope,
            mode=mode,
            **merge_kwargs,
        )

    def check(
        self, version: int | None = None, verify_rows: bool = False
    ) -> dict[str, Any]:
        """Table consistency check (fsck): every data file the snapshot
        references must exist in storage (one LIST per staging dir —
        metadata-only, the same granularity vacuum works at).  With
        ``verify_rows=True`` the referenced parquet footers are also read
        (thread-pooled ranged reads, no Spark job) and per-bucket row
        totals must match the manifest's ``bucket_rows``/``delta_rows`` —
        the check an operator runs after restoring an object store from
        backup or before lowering vacuum retention.  Returns
        ``{"status": "Success"|"Corrupt", "files", "missing_files",
        "row_mismatches"}``; never raises on corruption (the point is the
        report)."""
        m = self.manifest(version)
        # (relpath, bucket-kind key)
        refs = [(p, f"{kind}:{b}") for b, p, kind in _data_files(m)]
        present = set(self._listing([p for p, _ in refs]))
        # shallow-clone external refs: the clone does not own (or LIST) the
        # source tree, so existence is checked per file — this is exactly
        # the probe that tells an operator the SOURCE's vacuum/retention
        # broke the clone (the documented shallow-clone hazard)
        present.update(
            p
            for p, _ in refs
            if p.startswith(_EXT_PREFIX) and os.path.exists(self._spath(p))
        )
        missing = sorted(p for p, _ in refs if p not in present)

        mismatches: list[dict[str, Any]] = []
        if verify_rows and not missing:
            got: dict[str, int] = {}
            mds = _footers(self.storage, [p for p, _ in refs])
            for (_, key), md in zip(refs, mds):
                got[key] = got.get(key, 0) + md.num_rows
            want = {
                f"{kind}:{int(b)}": int(r)
                for kind, counter in (
                    ("base", "bucket_rows"), ("delta", "delta_rows")
                )
                for b, r in (m.get(counter) or {}).items()
            }
            for key in sorted(set(want) | set(got)):
                if want.get(key, 0) != got.get(key, 0):
                    kind, _, b = key.partition(":")
                    mismatches.append(
                        {
                            "bucket": int(b),
                            "kind": kind,
                            "manifest_rows": want.get(key, 0),
                            "footer_rows": got.get(key, 0),
                        }
                    )
        return {
            "status": "Corrupt" if (missing or mismatches) else "Success",
            "version": m["version"],
            "files": len(refs),
            "missing_files": missing,
            "row_mismatches": mismatches,
        }

    def expire_snapshots(
        self,
        older_than_ts=None,
        keep_last: int = 1,
        segment_grace_s: float = 600.0,
    ) -> list[int]:
        """Remove manifest OBJECTS (snapshots) committed before
        ``older_than_ts`` (epoch seconds, ISO string, or datetime; None =
        age is no bar), always retaining the newest ``keep_last`` (≥1) —
        the current snapshot can never expire.  Iceberg's
        ``expire_snapshots(older_than=ts)`` complement to ``vacuum``'s
        count-based ``keep_versions``: expiry deletes metadata and thereby
        RELEASES the data files only old snapshots referenced; the next
        ``vacuum()`` (which scopes "referenced" to surviving manifests)
        collects them.  Time travel to an expired version raises
        ``FileNotFoundError``.  Returns the expired version numbers.

        Also ref-count-GCs the content-addressed manifest-SEGMENT pool:
        a segment object survives while ANY surviving snapshot on ANY ref
        chain (main or branch) lists it.  ``segment_grace_s`` protects a
        CONCURRENT writer's just-written segments — they are unreferenced
        by definition until its manifest's conditional PUT lands (same
        guard as ``vacuum``'s; 0 restores eager single-writer behavior)."""
        self._require_main("expire_snapshots")
        cutoff = (
            None
            if older_than_ts is None
            else self._to_epoch_seconds(older_than_ts)
        )
        keep_last = max(1, keep_last)
        versions = self._list_versions()
        tagged = set(self.tags().values())  # named refs never expire
        expired: list[int] = []
        for v in versions[:-keep_last]:
            if v in tagged:
                continue
            m = self._get_manifest(self._manifest_key(v), splice=False)
            if cutoff is None or float(m["committed_at"]) < cutoff:
                self.storage.delete(self._manifest_key(v))
                expired.append(v)
        self._gc_segments(segment_grace_s)
        return expired

    def _gc_segments(self, grace_s: float) -> list[str]:
        """Delete segment-pool objects no surviving snapshot references.
        Cheap when the table never segmented (one empty LIST); otherwise
        O(surviving manifests) small raw GETs + O(pool) key compares."""
        pool = list(self.storage.list(_SEG_DIR))
        if not pool:
            return []
        refs: set[str] = set()

        def scan(handle: "ManifestTable") -> None:
            for v in handle._list_versions():
                try:
                    m = handle._get_manifest(
                        handle._manifest_key(v), splice=False
                    )
                except FileNotFoundError:
                    continue  # raced with another expiry
                refs.update(_segment_refs(m))

        scan(self)
        for name in self.branches():
            scan(
                ManifestTable(
                    self.spark, self.root, storage=self.storage, branch=name
                )
            )
        now = time.time()
        removed: list[str] = []
        for o in pool:
            if o.key in refs:
                continue
            if grace_s > 0 and now - o.last_modified < grace_s:
                continue  # possibly an in-flight publish's fresh segment
            self.storage.delete(o.key)
            removed.append(o.key)
        return removed

    def set_stats_cols(self, stats_cols: list[str]) -> dict[str, Any]:
        """Change which columns get per-file min/max stats harvested
        (Iceberg's updatable metrics config) — a METADATA-ONLY commit.

        stats_cols are frozen at create, but additive evolution keeps
        adding columns (tool metadata, backfilled scores) that readers
        then want to SKIP on.  This publishes a new manifest with the new
        list; existing files keep their already-harvested stats (still
        valid), files simply have NO stats yet for newly-listed columns —
        pruning treats missing stats conservatively (file kept), so reads
        stay exact immediately.  Stats for the new columns are backfilled
        by the next rewrite of each file: organically by compaction on the
        tail cadence, or at once with ``compact(min_delta_files=0)``
        (OPTIMIZE).  The commit has identical files/deltas to its parent,
        so the change feed's fast-path chain walk sees zero added files
        and ``changes()`` across it stays O(changes)."""
        return self._set_col_list("stats_cols", stats_cols, "set-stats")

    def _set_col_list(
        self, field: str, cols: list[str], verb: str
    ) -> dict[str, Any]:
        """Metadata-only commit of column list ``field`` (``stats_cols`` /
        ``bloom_filter_cols``): every name must be a schema column, and an
        unchanged list is Skipped."""
        m = self.manifest()
        have = {f.name for f in T.StructType.fromJson(m["schema"]).fields}
        missing = [c for c in cols if c not in have]
        if missing:
            raise ValueError(f"{field} not in schema: {missing}")
        if list(cols) == list(m.get(field) or []):
            return {
                "status": "Skipped",
                "reason": f"{field} unchanged",
                "version": m["version"],
            }
        return self._commit(
            m,
            {"epoch_id": f"{verb}:{m['version'] + 1}", field: list(cols)},
            {field: list(cols)},
        )

    # known maintenance-policy property keys (the `maintain.py auto`
    # autopilot reads exactly these; see set_properties)
    _MAINTENANCE_PROPS = {
        "maintenance.compact.min_delta_files": int,
        "maintenance.compact.sort_by": str,        # csv column list
        "maintenance.compact.zorder_by": str,      # csv column list
        "maintenance.compact.max_rows_per_file": int,
        "maintenance.compact.max_file_bytes": int,
        "maintenance.expire.keep_last": int,
        "maintenance.vacuum.keep_versions": int,
        "maintenance.vacuum.grace_s": float,
        "maintenance.retention.keep_s": float,  # retention_delete horizon
    }

    # known write-path property keys (every data writer reads these at
    # write time — see _write_options); values validated at SET time
    _PARQUET_CODECS = {
        "none", "uncompressed", "snappy", "gzip", "lzo", "brotli",
        "lz4", "lz4raw", "zstd",
    }
    # write.* property -> validator (raises ValueError on a bad value)
    _WRITE_PROPS = {
        "write.parquet.compression": "codec",
        "write.manifest.segment-min-files": int,  # 0 = always segment
        "write.manifest.segments": int,           # max segment objects
    }

    @classmethod
    def _validate_props(cls, props: dict[str, Any]) -> None:
        """Shared SET-time validation for the known property namespaces
        (``maintenance.*`` autopilot keys, ``write.*`` writer keys);
        other namespaces are free-form.  Fails the DDL now, not at 3am
        when the cron job or the next merge runs."""
        for k, v in props.items():
            if k.startswith("maintenance."):
                want = cls._MAINTENANCE_PROPS.get(k)
                if want is None:
                    raise ValueError(
                        f"unknown maintenance property {k!r} (known: "
                        f"{sorted(cls._MAINTENANCE_PROPS)})"
                    )
                if v is not None:
                    try:
                        want(v)
                    except (TypeError, ValueError):
                        raise ValueError(
                            f"property {k!r} must parse as "
                            f"{want.__name__}, got {v!r}"
                        )
            elif k.startswith("write."):
                want = cls._WRITE_PROPS.get(k)
                if want is None:
                    raise ValueError(
                        f"unknown write property {k!r} (known: "
                        f"{sorted(cls._WRITE_PROPS)})"
                    )
                if v is None:
                    continue
                if want == "codec":
                    if str(v).lower() not in cls._PARQUET_CODECS:
                        raise ValueError(
                            f"property {k!r} must be one of "
                            f"{sorted(cls._PARQUET_CODECS)}, got {v!r}"
                        )
                else:
                    try:
                        want(v)
                    except (TypeError, ValueError):
                        raise ValueError(
                            f"property {k!r} must parse as "
                            f"{want.__name__}, got {v!r}"
                        )

    def properties(self) -> dict[str, str]:
        """Current table properties (Iceberg/Delta TBLPROPERTIES
        analogue) — free-form string config carried through every commit
        and surviving rollback (config, not snapshot state)."""
        return dict(self.manifest().get("properties") or {})

    def set_properties(self, props: dict[str, str | None]) -> dict[str, Any]:
        """Merge-update table properties — a METADATA-ONLY commit (Iceberg
        ``ALTER TABLE ... SET TBLPROPERTIES`` / ``UNSET`` analogue).
        ``None`` deletes a key; values are stored as strings.  Properties
        are CONFIG, carried forward through every subsequent commit by
        ``_commit`` and deliberately NOT reverted by
        ``rollback_to`` (rolling back data must not silently roll back
        retention policy).

        ``maintenance.*`` keys are validated against the known autopilot
        schema (wrong type / unknown maintenance key fails now, not at 3am
        when the cron job runs), and the resulting layout policy against
        the table's schema (``_check_clustering``: a missing column, or
        both ``sort_by`` and ``zorder_by``, fails now rather than in the
        tail's next compaction); ``write.*`` keys against the writer
        schema (``write.parquet.compression`` — codec whitelist, applied
        by every data write site from the next commit on; existing files
        are rewritten on compaction/rebucket, Iceberg
        ``write.parquet.compression-codec`` parity); other namespaces are
        free-form.  The commit has identical files to its parent, so the
        change-feed fast path walks through it."""
        m = self.manifest()
        cur = dict(m.get("properties") or {})
        self._validate_props(props)
        for k, v in props.items():
            if v is None:
                cur.pop(k, None)
            else:
                cur[k] = str(v)
        # the layout policy runs on the tail's critical path: a policy
        # the schema cannot serve fails here, not in an epoch
        self._check_clustering({**m, "properties": cur})
        if cur == dict(m.get("properties") or {}):
            return {
                "status": "Skipped",
                "reason": "properties unchanged",
                "version": m["version"],
            }
        return self._commit(
            m,
            {
                "epoch_id": f"set-properties:{m['version'] + 1}",
                "properties": cur,
            },
            {"properties": cur},
        )

    def auto_maintain(self, dry_run: bool = False) -> dict[str, Any]:
        """One-call maintenance autopilot driven by the table's OWN
        ``maintenance.*`` properties (the policy travels with the table,
        not with whoever runs the cron job): compact if configured
        (clustered and sized by the table's layout policy, as every
        compact is), then retention, then expire old
        snapshots, then vacuum.  Steps whose keys are absent are skipped;
        ``dry_run`` reports what would run (vacuum uses its own dry run,
        compact/expire are described only).  Ordering matters and is
        fixed: compact first (creates superseded files and delta-free
        ts-clustered buckets), retention second (the metadata-only drop
        set is maximal right after a compact), expire third (releases old
        manifests), vacuum last (collects what all three freed).
        """
        self._require_main("auto_maintain")
        p = self.properties()

        def _get(key, cast):
            v = p.get(key)
            return None if v is None else cast(v)

        out: dict[str, Any] = {"dry_run": dry_run}
        mdf = _get("maintenance.compact.min_delta_files", int)
        if mdf is not None:
            # clustering and sizing are compact's own default: the policy
            out["compact"] = (
                {"min_delta_files": mdf}
                if dry_run
                else self.compact(min_delta_files=mdf)
            )
        keep_s = _get("maintenance.retention.keep_s", float)
        if keep_s is not None:
            # retention runs AFTER compact: freshly delta-free, ts-clustered
            # buckets maximize the metadata-only drop set; residual
            # tombstones fold on the next cycle's compact.  The epoch id is
            # the cutoff second — reruns within one second are no-ops by
            # the exactly-once ledger, later runs advance the horizon.
            import datetime as _dt

            cutoff = _dt.datetime.now(tz=_dt.timezone.utc) - _dt.timedelta(
                seconds=keep_s
            )
            out["retention"] = (
                {"ts_before": cutoff.isoformat()}
                if dry_run
                else self.retention_delete(
                    cutoff, epoch_id=int(cutoff.timestamp())
                )
            )
        keep_last = _get("maintenance.expire.keep_last", int)
        if keep_last is not None:
            out["expire"] = (
                {"keep_last": keep_last}
                if dry_run
                else {"expired_versions": self.expire_snapshots(
                    keep_last=keep_last
                )}
            )
        keep_versions = _get("maintenance.vacuum.keep_versions", int)
        if keep_versions is not None:
            grace = _get("maintenance.vacuum.grace_s", float)
            removed = self.vacuum(
                keep_versions=keep_versions,
                grace_s=600.0 if grace is None else grace,
                dry_run=dry_run,
                # a retention policy implies the intent to ERASE aged-out
                # bytes, and retention-dropped files share dirs with live
                # ones — so the autopilot's vacuum collects file-level
                collect_files=keep_s is not None,
            )
            out["vacuum"] = {"removed_dirs": removed}
        return out

    def set_bloom_filter_cols(self, cols: list[str]) -> dict[str, Any]:
        """Change which columns future data writes attach parquet bloom
        filters for — a METADATA-ONLY commit, the twin of
        ``set_stats_cols``.  Even simpler semantics: the read path has NO
        dependency on blooms (Spark's parquet reader uses them
        opportunistically per file), so existing files without blooms stay
        exactly as readable; every write after this commit — delta
        staging, CoW rewrites, compaction, rebucket — carries them, and
        one ``compact(min_delta_files=0)`` backfills the whole table.  The
        commit has identical files to its parent, so the change-feed fast
        path walks through it."""
        return self._set_col_list("bloom_filter_cols", cols, "set-bloom")

    # ---------- CHECK constraints (write-time data quality contracts) ----------

    def _validate_constraint(
        self, schema: T.StructType, name: str, expr: str
    ) -> None:
        """Reject a constraint that could never be enforced: bad name, SQL
        that doesn't parse or references unknown columns, a non-boolean
        expression, or aggregates/windows (caught because they are illegal
        in a WHERE clause).  Analysis-only — resolves against an EMPTY
        local DataFrame, no Spark job."""
        self._check_ref_name("constraint", name)
        if not isinstance(expr, str) or not expr.strip():
            raise ValueError(f"constraint {name!r}: empty expression")
        probe = self.spark.createDataFrame([], schema)
        try:
            dtype = probe.selectExpr(f"({expr}) AS __c").schema[0].dataType
        except Exception as e:  # AnalysisException / ParseException
            raise ValueError(
                f"constraint {name!r} does not resolve against the table "
                f"schema: {expr!r} ({type(e).__name__}: {e})"
            ) from None
        if not isinstance(dtype, T.BooleanType):
            raise ValueError(
                f"constraint {name!r} must be a boolean expression, got "
                f"{dtype.simpleString()}: {expr!r}"
            )
        try:
            # enforcement evaluates the expression per input row: anything
            # illegal in a WHERE clause (aggregates, window functions) must
            # be rejected here, and filter analysis does exactly that
            probe.filter(F.expr(expr)).schema
        except Exception as e:
            raise ValueError(
                f"constraint {name!r} does not resolve against the table "
                f"schema: {expr!r} ({type(e).__name__}: {e})"
            ) from None

    def _constraint_obs_aggs(self, m: dict[str, Any]) -> list:
        """Per-constraint violation-count aggregates, attached to the
        staging write's ``Observation`` — enforcement costs ZERO extra
        jobs and never re-reads the batch: the counts are collected by the
        same job that stages it (the engine's established
        write-audit-publish shape).

        Semantics (Delta ``CheckDeltaInvariant`` parity, stricter than
        ANSI CHECK): a row passes only when the expression is TRUE — a
        NULL result is a violation.  Change rows are full row images in
        this engine (per-key max-version dedup keeps whole rows), so a
        NULL really is the value being written; null-tolerant rules are
        spelled ``col IS NULL OR <rule>``.  Delete tombstones are exempt —
        their payload columns are deliberately nulled (``delete_where``)
        and a delete writes no payload."""
        return [
            f"sum(CASE WHEN `_deleted` THEN 0 ELSE CASE WHEN ({cexpr}) THEN 0"
            f" ELSE 1 END END) AS {sql_ident('viol__' + cname)}"
            for cname, cexpr in sorted((m.get("constraints") or {}).items())
        ]

    def _check_constraint_obs(
        self, m: dict[str, Any], metrics: dict[str, Any], epoch_id
    ) -> None:
        """Raise if the staging write's observation counted any CHECK
        violations — BEFORE publish (and before the CoW rewrite is even
        planned), so the staged files stay unreferenced (vacuum collects
        them) and the epoch id stays free for a corrected retry."""
        cons = m.get("constraints") or {}
        bad = {
            cname: int(metrics.get(f"viol__{cname}") or 0)
            for cname in cons
            if metrics.get(f"viol__{cname}")
        }
        if bad:
            detail = "; ".join(
                f"{n!r} CHECK ({cons[n]}) violated by {c} row(s)"
                for n, c in sorted(bad.items())
            )
            raise ConstraintViolationError(
                f"epoch {epoch_id} rejected before publish: {detail} "
                f"(a NULL expression result counts as a violation; "
                f"fix the data or drop_constraint)"
            )

    def constraints(self) -> dict[str, str]:
        """The table's CHECK constraints ``{name: sql_bool_expr}``."""
        return dict(self.manifest().get("constraints") or {})

    def add_constraint(self, name: str, expr: str) -> dict[str, Any]:
        """``ALTER TABLE ADD CONSTRAINT name CHECK (expr)`` (Delta parity;
        the content-level contract the reference's count-only per-chunk
        auditing lacked, ``DataSplit.py:133``,
        ``Phase3-Data-Extraction.py:123-136``).

        Validates the expression against the schema (analysis-only), then
        verifies EVERY existing live row satisfies it — one column-pruned
        scan of the current snapshot, exactly Delta's ADD CONSTRAINT
        behavior — and publishes a METADATA-ONLY commit (identical
        files/deltas to the parent, so the change-feed fast path walks
        through it).  Every subsequent merge/update/MERGE INTO enforces it
        on the staged batch before publish.  Re-adding the identical
        constraint is Skipped; a different expression under an existing
        name must be dropped first (no silent redefinition)."""
        self._require_main("add_constraint")
        m = self.manifest()
        cons = dict(m.get("constraints") or {})
        self._validate_constraint(
            T.StructType.fromJson(m["schema"]), name, expr
        )
        if name in cons:
            if cons[name] == expr:
                return {
                    "status": "Skipped",
                    "reason": "constraint already present",
                    "version": m["version"],
                }
            raise ValueError(
                f"constraint {name!r} already exists with a different "
                f"expression ({cons[name]!r}); drop_constraint first"
            )
        has_data = any((m.get("files") or {}).values()) or any(
            (m.get("delta_files") or {}).values()
        )
        if has_data:
            violations = (
                self._scan(m)
                .filter(
                    F.when(F.expr(expr), F.lit(False)).otherwise(F.lit(True))
                )
                .limit(1)
                .count()
            )
            if violations:
                raise ConstraintViolationError(
                    f"cannot add constraint {name!r}: existing rows violate "
                    f"CHECK ({expr}) — clean the data first "
                    f"(e.g. delete_where/update_where), then re-add"
                )
        return self._commit(
            m,
            {
                "epoch_id": f"add-constraint:{m['version'] + 1}",
                "constraints": {**cons, name: expr},
            },
            {"name": name},
        )

    def drop_constraint(self, name: str) -> dict[str, Any]:
        """``ALTER TABLE DROP CONSTRAINT`` — metadata-only commit."""
        self._require_main("drop_constraint")
        m = self.manifest()
        cons = dict(m.get("constraints") or {})
        if name not in cons:
            return {
                "status": "Skipped",
                "reason": f"no constraint {name!r}",
                "version": m["version"],
            }
        cons.pop(name)
        return self._commit(
            m,
            {
                "epoch_id": f"drop-constraint:{m['version'] + 1}",
                "constraints": cons,
            },
            {"name": name},
        )

    def add_column(
        self, name: str, dtype: T.DataType | str
    ) -> dict[str, Any]:
        """``ALTER TABLE ADD COLUMN`` — a METADATA-ONLY commit (the
        explicit-DDL twin of the merge path's additive evolution, for
        schemas that change ahead of the data rather than with it).  Zero
        files are rewritten: readers null-fill the column for every
        existing file (the same explicit-schema mechanism merge evolution
        relies on), the next merge may populate it, and ``changes()``
        across the commit reports nothing (identical files).  The name
        passes the same admission as merge evolution (``_schema_change``):
        reserved, existing, non-identifier and tombstoned (dropped /
        rename-retired while live files still carry the bytes) names are
        rejected."""
        if isinstance(dtype, str):
            dtype = T._parse_datatype_string(dtype)
        m = self.manifest()
        return self._commit(
            m,
            {
                "epoch_id": f"add-column:{name}",
                **self._schema_change(m, add=T.StructField(name, dtype)),
            },
            {"name": name, "dtype": dtype.simpleString()},
        )

    def widen_column(
        self, name: str, dtype: T.DataType | str
    ) -> dict[str, Any]:
        """``ALTER TABLE ALTER COLUMN TYPE`` restricted to safe promotions
        (Iceberg type promotion: tinyint→…→bigint, float→double — never
        across families, never narrowing, never a key column or ``ts``) —
        a METADATA-ONLY commit under the type rule of the merge path's
        widening (``_schema_change``).  Files written under the narrow type
        read back up-cast through the widened schema (pinned by the
        evolution suite); CHECK constraints keep resolving (a widened
        numeric satisfies the same comparisons)."""
        if isinstance(dtype, str):
            dtype = T._parse_datatype_string(dtype)
        m = self.manifest()
        change = self._schema_change(m, widen=T.StructField(name, dtype))
        if change["schema"] == m["schema"]:
            return {
                "status": "Skipped",
                "reason": "type unchanged",
                "version": m["version"],
            }
        return self._commit(
            m,
            {"epoch_id": f"widen-column:{name}", **change},
            {"name": name, "dtype": dtype.simpleString()},
        )

    def _check_unreferenced(self, m: dict[str, Any], col: str) -> None:
        """Refuse a rename/drop of ``col`` while one of ``m``'s CHECK
        constraints references it — detected by re-resolving each
        expression against the schema WITHOUT the column (analysis-only,
        no job)."""
        cons = m.get("constraints") or {}
        if not cons:
            return
        probe = self.spark.createDataFrame(
            [],
            T.StructType(
                [
                    f
                    for f in T.StructType.fromJson(m["schema"]).fields
                    if f.name != col
                ]
            ),
        )
        hits = []
        for cname, cexpr in sorted(cons.items()):
            try:
                probe.filter(F.expr(cexpr)).schema
            except Exception:
                hits.append(cname)
        if hits:
            raise ValueError(
                f"column {col!r} is referenced by CHECK constraint(s) "
                f"{hits} — drop_constraint first (re-add it against a new "
                f"name after a rename: no silent expression rewriting)"
            )

    def rename_column(self, old: str, new: str) -> dict[str, Any]:
        """``ALTER TABLE RENAME COLUMN`` — a METADATA-ONLY commit (Iceberg
        renames via field-ids; this engine records the physical-name
        history instead, since vanilla parquet resolution is by name).  At
        100 TB this is the whole point: ZERO data files are rewritten.

        Mechanics: the new manifest carries the renamed schema plus a
        ``renamed_cols`` chain ``{current: [newest_old, ..., oldest]}``.
        Reads widen the scan schema with the historical shadow names and
        coalesce newest-first (``_read_files``) — exact because every file
        carries exactly ONE physical generation of the column; stats
        pruning follows the same chain, so old files keep skipping.  Key
        columns rename freely (bucketing hashes values, not names); every
        config list referencing the column (``key_cols``, ``stats_cols``,
        ``bloom_filter_cols``, clustering markers) is updated in the same
        commit (``_schema_change``).  The files are identical to the
        parent's, so the change feed's fast-path chain walk crosses it
        untouched, and ``changes()`` across the rename reports zero
        phantom updates.

        Constraints: the retired name cannot be re-introduced (by merge
        schema evolution or a later rename) while live files still carry
        it — a full rewrite (``rebucket`` or all-bucket
        ``compact(min_delta_files=0)``) physicalizes current names and
        frees it.  ``ts`` is the engine's version column and cannot be
        renamed, nor can a column a CHECK constraint references.  A change
        stream still emitting the old name fails the next merge loudly;
        derived tables whose definitions reference the old name must be
        re-created — their next sync fails in analysis, never silently."""
        m = self.manifest()
        change = self._schema_change(m, rename=(old, new))
        self._check_unreferenced(m, old)
        return self._commit(
            m,
            {"epoch_id": f"rename:{old}>{new}", **change},
            {"renamed": {old: new}},
        )

    def drop_column(self, name: str) -> dict[str, Any]:
        """``ALTER TABLE DROP COLUMN`` — a METADATA-ONLY commit: the column
        leaves the schema; no data file is rewritten (reads project by the
        manifest schema, so parquet column pruning stops even scanning the
        dropped bytes).  Physical removal rides the normal rewrite
        lifecycle — compaction on the tail cadence, or at once with
        ``compact(min_delta_files=0)`` — the same logical-then-physical
        contract as the engine's row-level deletes.

        The dropped name (plus its whole rename history) is tombstoned in
        ``dropped_cols``: re-introducing it while live files still carry
        the bytes would RESURRECT stale values under name-based parquet
        resolution, so merges and renames reject it until a full rewrite
        clears the tombstones.  Key columns, ``ts`` (the version column)
        and columns a CHECK constraint references cannot be dropped; the
        column is auto-removed from ``stats_cols`` / ``bloom_filter_cols``
        / clustering markers in the same commit (``_schema_change``)."""
        m = self.manifest()
        change = self._schema_change(m, drop=name)
        self._check_unreferenced(m, name)
        return self._commit(
            m, {"epoch_id": f"drop-column:{name}", **change}, {"dropped": name}
        )

    # ---------- named refs (Iceberg tags analogue) ----------

    def tag(
        self, name: str, version: int | None = None, replace: bool = False
    ) -> int:
        """Pin ``name`` to a snapshot version (Iceberg TAG ref: ``read(tag=
        "prod")`` time travel by name).  A tagged snapshot is PROTECTED —
        ``expire_snapshots`` skips it and ``vacuum`` keeps its data files
        referenced — so a tag is also the retention pin for audits and
        reproducible reads.  The tag object commits via put-if-absent
        (atomic; a concurrent same-name tag loses loudly); ``replace=True``
        re-points an existing name (delete + re-put — an ops verb, not a
        concurrency primitive: racing replaces are last-writer-wins)."""
        if not re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9._-]*", name or ""):
            raise ValueError(
                f"invalid tag name {name!r}: use letters, digits, '.', "
                f"'_', '-' (must start alphanumeric)"
            )
        # a tag names a MAIN-chain snapshot; tagging a branch-chain version
        # would leave a dangling ref once the branch is dropped
        self._require_main("tag")
        v = self.current_version() if version is None else int(version)
        self.manifest(v)  # validate the snapshot exists (raises if expired)
        key = f"{_TAGS_DIR}/{name}.json"
        payload = json.dumps({"version": v, "created_at": time.time()})
        if not self.storage.put_if_absent(key, payload.encode()):
            if not replace:
                raise ValueError(
                    f"tag {name!r} already exists "
                    f"(version {self.tags().get(name)}); pass replace=True"
                )
            self.storage.delete(key)
            if not self.storage.put_if_absent(key, payload.encode()):
                raise ManifestConflict(
                    f"tag {name!r} was re-created by a concurrent writer"
                )
        return v

    def untag(self, name: str) -> bool:
        """Remove a tag (the snapshot itself is untouched; it becomes
        expirable again).  Returns whether the tag existed."""
        self._require_main("untag")
        key = f"{_TAGS_DIR}/{name}.json"
        existed = any(o.key == key for o in self.storage.list(_TAGS_DIR))
        if existed:
            self.storage.delete(key)
        return existed

    def tags(self) -> dict[str, int]:
        """All named refs: ``{name: version}``."""
        out: dict[str, int] = {}
        for o in self.storage.list(_TAGS_DIR):
            fname = o.key.rsplit("/", 1)[-1]
            if not fname.endswith(".json"):
                continue
            try:
                out[fname[:-5]] = int(
                    json.loads(self.storage.get(o.key))["version"]
                )
            except (ValueError, KeyError, json.JSONDecodeError):
                continue  # foreign/corrupt object: skip, never crash reads
        return out

    def _resolve_tag(self, name: str) -> int:
        got = self.tags().get(name)
        if got is None:
            raise FileNotFoundError(f"no tag {name!r} on {self.root}")
        return got

    @staticmethod
    def _to_epoch_seconds(ts) -> float:
        import datetime as _dt

        if isinstance(ts, str):
            d = _dt.datetime.fromisoformat(ts)
            if d.tzinfo is None:
                d = d.replace(tzinfo=_dt.timezone.utc)
            return d.timestamp()
        if isinstance(ts, _dt.datetime):
            d = ts if ts.tzinfo else ts.replace(tzinfo=_dt.timezone.utc)
            return d.timestamp()
        return float(ts)

    def max_event_ts(self, col: str = "ts"):
        """Maximum event-time across the current snapshot, from manifest
        file stats ALONE (driver dict-max, no Spark job, no file I/O) —
        ``None`` when no file carries stats for ``col``.  Files missing
        the stat are skipped, which can only UNDERESTIMATE: safe for the
        watermark uses this feeds (a lower observed max purges/bounds
        LESS).  This is the engine-side analogue of Spark's streaming
        watermark source (max observed event time), read back from the
        table's own metadata."""
        m = self.manifest()
        hi = None
        for st in (m.get("file_stats") or {}).values():
            ent = st.get(col)
            if not ent or ent[1] is None:
                continue
            v = _stat_from_json(ent[1])
            if hi is None or v > hi:
                hi = v
        return hi

    @classmethod
    def _as_of_datetime(cls, ts):
        """The same timestamp forms ``read(as_of=)`` takes (epoch seconds,
        ISO string, datetime), as a tz-aware UTC datetime — the shape
        ``F.lit`` needs for an event-time comparison."""
        import datetime as _dt

        return _dt.datetime.fromtimestamp(
            cls._to_epoch_seconds(ts), tz=_dt.timezone.utc
        )

    def _resolve_as_of(self, ts) -> int:
        """Newest SURVIVING snapshot committed at or before ``ts``
        (``TIMESTAMP AS OF``).  Walks the version list newest-first with
        one manifest GET per step until the first non-future commit —
        O(1) for the common "recent timestamp" case."""
        cutoff = self._to_epoch_seconds(ts)
        for v in reversed(self._list_versions()):
            if float(self.manifest(v)["committed_at"]) <= cutoff:
                return v
        raise FileNotFoundError(
            f"no surviving snapshot at or before {ts!r} on {self.root}"
        )

    def rollback_to(
        self, version: int | None = None, tag: str | None = None
    ) -> dict[str, Any]:
        """Roll the table back to an earlier snapshot (Iceberg
        ``rollback_to_snapshot``) — publishes a NEW manifest whose content
        is the target snapshot's, so nothing is deleted and the bad
        versions stay inspectable until ``expire_snapshots`` removes them;
        a rollback of a rollback works the same way.  Stamped
        ``epoch_id="rollback:{target}"``.

        The applied-epoch ledger is the TARGET's: epochs committed after
        the target are forgotten, so a replay/redelivery of those change
        batches re-applies cleanly — exactly the recovery semantics a
        rollback exists for.  Raises ``ManifestConflict`` if a concurrent
        writer commits first (re-check state and retry deliberately)."""
        if (version is None) == (tag is None):
            raise ValueError("rollback_to needs exactly one of version/tag")
        if tag is not None:
            version = self._resolve_tag(tag)
        head = self.manifest()
        if version == head["version"]:
            return {"status": "NoChange", "version": version}
        # the target's content under a new version; table config (properties,
        # the monotone watermarks, clone provenance) stays the head's —
        # rolling back data must not roll back retention policy or let a
        # pre-watermark upsert in again (see _commit)
        return self._commit(
            head,
            {"epoch_id": f"rollback:{version}"},
            {"rolled_back_to": version},
            source=self.manifest(version),  # raises if expired
            on_conflict="raise",
        )

    # ---------- branches (write-audit-publish) ----------

    def _require_main(self, what: str) -> None:
        if self.branch is not None:
            raise ValueError(
                f"{what} is a main-table operation; this handle is branch "
                f"{self.branch!r} — branches are short-lived WAP refs "
                f"(create_branch → write → audit → fast_forward → "
                f"drop_branch), run table maintenance on the main handle"
            )

    @staticmethod
    def _check_ref_name(kind: str, name: str) -> None:
        if not re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9._-]*", name or ""):
            raise ValueError(
                f"invalid {kind} name {name!r}: use letters, digits, '.', "
                f"'_', '-' (must start alphanumeric)"
            )

    def create_branch(
        self, name: str, version: int | None = None
    ) -> "ManifestTable":
        """Fork a WRITE BRANCH at a snapshot (Iceberg BRANCH ref — the
        write-audit-publish workflow: stage commits on the branch, audit
        its state with ordinary reads, then ``fast_forward`` main to it, or
        ``drop_branch`` to abandon).  The branch gets its own manifest
        chain under ``_manifest_branches/{name}/``, seeded with a COPY of
        the fork-base manifest, and shares the table's ``data/`` tree —
        branch commits only ever ADD nonce-named staging dirs, so branch
        and main writers can never collide on data paths, and an abandoned
        branch's files are ordinary vacuum garbage.  Every table verb
        (merge / read / changes / compact / history / time travel) works on
        the branch handle unchanged because the commit protocol is the same
        conditional-PUT manifest chain, just namespaced.

        The ref object commits via put-if-absent: creating an existing
        branch raises (use ``branch()`` to re-attach)."""
        self._require_main("create_branch")
        self._check_ref_name("branch", name)
        v = self.current_version() if version is None else int(version)
        base = self.manifest(v)  # validates the snapshot exists
        ref_key = f"{_BRANCH_REFS_DIR}/{name}.json"
        if not self.storage.put_if_absent(
            ref_key,
            json.dumps({"base_version": v, "created_at": time.time()}).encode(),
        ):
            raise ValueError(
                f"branch {name!r} already exists; use branch({name!r}) to "
                f"attach or drop_branch first"
            )
        b = ManifestTable(self.spark, self.root, storage=self.storage, branch=name)
        # seed the branch chain with the fork-base snapshot so the handle is
        # self-contained (current_version/read work before the first commit);
        # put_if_absent keeps a crashed create retryable after drop_branch.
        # _externalize makes the seed zero-copy on a segmented table: the
        # fork base's segments already exist in the shared pool, so the
        # seed manifest is a small object of references, not a full listing
        if b.storage.put_if_absent(
            b._manifest_key(v), self._encode_manifest(b._externalize(base))
        ):
            b._write_head_hint(v)
        return b

    def branch_ref(self, name: str) -> "ManifestTable":
        """Attach to an existing branch by name."""
        self._require_main("branch_ref")
        if name not in self.branches():
            raise FileNotFoundError(f"no branch {name!r} on {self.root}")
        return ManifestTable(
            self.spark, self.root, storage=self.storage, branch=name
        )

    def branches(self) -> dict[str, dict[str, int]]:
        """All branch refs: ``{name: {"base": fork version, "head": current
        branch version}}``."""
        out: dict[str, dict[str, int]] = {}
        for o in self.storage.list(_BRANCH_REFS_DIR):
            fname = o.key.rsplit("/", 1)[-1]
            if not fname.endswith(".json"):
                continue
            name = fname[:-5]
            try:
                ref = json.loads(self.storage.get(o.key))
                b = ManifestTable(
                    self.spark, self.root, storage=self.storage, branch=name
                )
                head = b.current_version()
                out[name] = {
                    "base": int(ref["base_version"]),
                    "head": int(head if head is not None else ref["base_version"]),
                }
            except (ValueError, KeyError, json.JSONDecodeError, FileNotFoundError):
                continue  # foreign/corrupt ref: skip, never crash reads
        return out

    def fast_forward(self, name: str) -> dict[str, Any]:
        """Publish a branch's state onto main (Iceberg ``fast_forward`` —
        the WAP publish step).  Atomic: ONE squash commit whose content is
        the branch HEAD manifest (files, delta files, stats, schema, and
        the applied-epoch ledger — so the branch's exactly-once tokens
        carry to main and a post-publish redelivery is a ledger no-op),
        stamped ``epoch_id="publish:{name}"``.  Requires main's head to
        still be the branch's fork base — if main advanced since the fork
        this raises ``ManifestConflict`` (Iceberg's ancestor requirement;
        rebase by forking a fresh branch off the new head and replaying).

        The squash trades snapshot-granular lineage on main for a
        single-conditional-PUT publish (no partially-published multi-commit
        window); the branch chain itself keeps the fine-grained history
        until ``drop_branch``.  When the branch only made delta commits,
        the publish step's files-vs-parent diff is exactly those delta
        files, so downstream ``changes()`` fast paths walk straight
        through it."""
        self._require_main("fast_forward")
        refs = self.branches()
        if name not in refs:
            raise FileNotFoundError(f"no branch {name!r} on {self.root}")
        base, head = refs[name]["base"], refs[name]["head"]
        b = ManifestTable(
            self.spark, self.root, storage=self.storage, branch=name
        )
        bh = b.manifest(head)
        main = self.manifest()
        main_head = main["version"]
        if main_head != base:
            raise ManifestConflict(
                f"cannot fast-forward {name!r}: main is at v{main_head} but "
                f"the branch forked at v{base} — main advanced since the "
                f"fork; create a fresh branch off v{main_head} and replay"
            )
        if head == base:
            return {"status": "NoChange", "version": main_head}
        # lost race → ManifestConflict, nothing published
        return self._commit(
            main,
            {"epoch_id": f"publish:{name}"},
            {"branch_head": head, "branch_commits": head - base},
            source=bh,
            on_conflict="raise",
        )

    def drop_branch(self, name: str) -> bool:
        """Delete a branch ref and its manifest chain (published or
        abandoned).  Data files only the branch referenced become
        unreferenced and are collected by the next ``vacuum`` after its
        grace period.  Returns whether the branch existed."""
        self._require_main("drop_branch")
        ref_key = f"{_BRANCH_REFS_DIR}/{name}.json"
        existed = any(
            o.key == ref_key for o in self.storage.list(_BRANCH_REFS_DIR)
        )
        # ref first: a vacuum racing the drop either still sees the ref (and
        # keeps the chain's files) or sees neither — never a chain with no ref
        if existed:
            self.storage.delete(ref_key)
        self.storage.delete_prefix(f"{_BRANCH_META_DIR}/{name}")
        return existed

    # ---------- change feed (downstream incremental consumers) ----------

    # candidate-key sets larger than this skip the broadcast semi-join and
    # fall back to a shuffled semi-join (same result, no 8 GB broadcast cap
    # risk); ~rows, conservative for two short key columns
    changes_broadcast_keys: int = 2_000_000

    def _chain(
        self,
        from_version: int,
        mb: dict[str, Any],
        ma: dict[str, Any] | None = None,
    ) -> tuple[list[tuple[dict[str, Any], dict[str, Any]]], bool]:
        """The manifest chain over ``(from_version, mb]``: its ``(parent,
        child)`` steps head-first (``ma``, when given, stands in for the
        ``from_version`` manifest) and whether the walk reached
        ``from_version``.  An expired mid-range snapshot or a lineage
        jumping past ``from_version`` ends the walk early; the steps read
        so far are still returned."""
        steps: list[tuple[dict[str, Any], dict[str, Any]]] = []
        child = mb
        try:
            while child["version"] > from_version:
                parent_v = child.get("parent")
                if parent_v is None or parent_v < from_version:
                    return steps, False
                parent = (
                    ma
                    if ma is not None and parent_v == from_version
                    else self.manifest(parent_v)
                )
                steps.append((parent, child))
                child = parent
        except FileNotFoundError:
            return steps, False
        return steps, True

    def _append_candidates(
        self,
        from_version: int,
        to_version: int,
        ma: dict[str, Any],
        mb: dict[str, Any],
    ) -> tuple[list[str], list[str], int] | None:
        """Candidate files for the ``changes()`` fast path over ``(from,
        to]``: :meth:`_candidates` of the manifest chain's steps, or None
        when a mid-range manifest has been expired (no chain to walk)."""
        steps, complete = self._chain(from_version, mb, ma)
        return self._candidates(steps) if complete else None

    def _candidates(
        self, steps: list[tuple[dict[str, Any], dict[str, Any]]]
    ) -> tuple[list[str], list[str], int] | None:
        """Candidate files of a complete :meth:`_chain` walk.

        Compaction and rebucket are STATE-PRESERVING rewrites (they fold
        the same live rows into new files and are tagged ``compact:`` /
        ``rebucket:`` in ``epoch_id``), so the net changes of a range that
        crosses them equal the changes of its delta-append steps alone —
        the keys in the delta files those steps ADDED.  A retention
        delete (``retdel:``) removes whole provably-old files with a
        metadata commit; its change set is exactly the rows OF those
        dropped files (every row was live — the verb requires a delta-free
        bucket), which the step records as ``retdel_dropped``.  Returns
        ``(added delta file relpaths, retention-dropped file relpaths,
        changed-row estimate)`` when every step is a delta append, a
        state-preserving rewrite, or a retention drop; the row estimate
        comes from per-step manifest metadata (an upper bound on distinct
        keys — the broadcast decision needs no count job).  Returns
        ``None`` — caller falls back to the general snapshot diff — when a
        CoW/initial rewrite sits in the range (its added files carry
        rewritten old rows, not changes), when a rollback does, or when a
        needed file has since been vacuumed (one LIST per staging dir verifies —
        O(changed dirs) metadata calls)."""
        added_files: list[str] = []
        dropped_files: list[str] = []
        added_rows = 0
        for parent, child in steps:
            ek = str(child.get("epoch_id") or "")
            if ek.startswith("compact:") or ek.startswith("rebucket:"):
                continue  # state-preserving: contributes zero changes
            if ek.startswith("rollback:"):
                # a rollback REMOVES later epochs' rows while possibly
                # leaving base files identical — its changes are deletions
                # the added-files walk cannot see; only the snapshot diff
                # is correct across it
                return None
            if ek.startswith("retdel:"):
                # retention drop: the dropped files' rows ARE the deletes
                dropped_files += list(child.get("retdel_dropped") or [])
                added_rows += int(child.get("retdel_rows") or 0)
                continue
            if (
                child["files"] != parent["files"]
                or child["n_buckets"] != parent["n_buckets"]
            ):
                return None  # CoW/initial rewrite: base files changed state
            old = {p for _, p, _ in _data_files(parent)}
            added_files += sorted(
                p for _, p, _ in _data_files(child) if p not in old
            )
            added_rows += int(child.get("delta_rows_total") or 0) - int(
                parent.get("delta_rows_total") or 0
            )
        if added_files or dropped_files:
            # delta files folded by a LATER compaction — and retention-
            # dropped files no longer referenced by the head — may have
            # been vacuumed; verify at staging-dir granularity
            present = self._listing(added_files + dropped_files)
            if not set(added_files) | set(dropped_files) <= set(present):
                return None
        return added_files, sorted(dropped_files), max(added_rows, 0)

    def changes(
        self,
        from_version: int,
        to_version: int | None = None,
        images: str = "net",
    ) -> DataFrame:
        """Net row-level change feed between two snapshots — the CDF
        surface Iceberg/Delta expose (``table_changes``) so downstream
        pipelines consume O(changes), not O(table), per sync.  One row per
        key whose LIVE state differs: ``_change_type`` ∈ {'insert',
        'update', 'delete'}; insert/update carry the TO-side post-image,
        delete carries the FROM-side pre-image.  Additive schema evolution
        inside the range is handled by aligning the FROM side to the TO
        schema (missing columns read as null, so a backfill of a new
        column surfaces as an update).

        Scale shape: when every step in (from, to] is a delta append or a
        STATE-PRESERVING rewrite (compact/rebucket — they fold the same
        live rows into new files, so they contribute zero changes by
        construction), the keys that CAN differ are exactly the keys in
        the delta files the APPEND steps added; ``_append_candidates``
        walks the manifest chain to collect them, so a sync range that
        merely crosses a compaction stays O(changes).  Candidates are
        read from those files and both snapshot scans are restricted by a
        null-safe broadcast semi-join on them (shuffle-free at table
        size; above ``changes_broadcast_keys`` estimated candidates —
        from manifest row metadata, no count job — the semi-join shuffles
        instead of broadcasting).  Only a CoW/initial rewrite in the
        range (whose added files carry rewritten old rows, not changes),
        an expired mid-range manifest, or a vacuumed candidate file drops
        to the general key-wise full-outer join of the two snapshots —
        O(table), which is what snapshot diffing without a usable chain
        inherently costs in any table format.

        ``images="net"`` (default) returns the flattened single-image rows
        described above.  ``images="both"`` returns the key columns plus
        ``_change_type`` and BOTH payload images as structs (``_pre`` null
        for insert, ``_post`` null for delete) — what an incremental
        aggregate maintainer needs to retract an update's pre-image (cf.
        Delta CDF's update_preimage/update_postimage row pairs)."""
        if images not in ("net", "both"):
            raise ValueError(f"images must be 'net' or 'both', got {images!r}")
        tv = self.current_version() if to_version is None else to_version
        if from_version > tv:
            raise ValueError(
                f"from_version {from_version} is newer than to_version {tv}"
            )
        ma, mb = self.manifest(from_version), self.manifest(tv)
        # metadata-only renames inside the range: map every FROM-side name
        # to its TO-side current name through the TO manifest's rename
        # chains, so a rename surfaces as ZERO changes (the rows didn't
        # move) instead of a phantom null-pre-image update of every key
        renb = mb.get("renamed_cols") or {}

        def _to_current(name: str) -> str:
            for cur, olds in renb.items():
                if name in olds:
                    return cur
            return name

        if [_to_current(k) for k in ma["key_cols"]] != list(mb["key_cols"]):
            raise ValueError("key columns changed between the snapshots")
        key_cols = list(mb["key_cols"])
        to_schema = T.StructType.fromJson(mb["schema"])
        payload_cols = [f.name for f in to_schema.fields if f.name not in key_cols]
        img_struct = T.StructType(
            [f for f in to_schema.fields if f.name not in key_cols]
        )
        out_schema = T.StructType(
            [f for f in to_schema.fields if f.name in key_cols]
            + [T.StructField("_change_type", T.StringType(), False)]
            + (
                [f for f in to_schema.fields if f.name not in key_cols]
                if images == "net"
                else [
                    T.StructField("_pre", img_struct, True),
                    T.StructField("_post", img_struct, True),
                ]
            )
        )
        if from_version == tv:
            return self.spark.createDataFrame([], out_schema)

        a = self._scan(ma)
        for f in to_schema.fields:  # schema evolution: align FROM to TO
            if f.name not in a.columns:
                old = next(
                    (o for o in renb.get(f.name, ()) if o in a.columns), None
                )
                if old is not None:  # renamed inside the range: same data
                    a = a.withColumnRenamed(old, f.name)
                else:  # added inside the range: backfill reads as null
                    a = a.withColumn(f.name, F.lit(None).cast(f.dataType))
        a = a.select(*[f.name for f in to_schema.fields])
        b = self._scan(mb)

        cand_info = self._append_candidates(from_version, tv, ma, mb)
        if cand_info is not None:
            added, dropped, added_rows = cand_info
            if not added and not dropped:
                # every step in the range was a state-preserving rewrite
                return self.spark.createDataFrame([], out_schema)
            # retention-dropped files join the candidate scan: their keys
            # were live when dropped, so the diff classifies them as
            # deletes (or updates/nothing if later appends re-upserted)
            cand = (
                self._scan(mb, added + dropped, live=False)
                .select(*key_cols)
                .distinct()
            )
            # broadcast decision from manifest metadata (added_rows bounds
            # distinct keys from above) — no count job, and with a single
            # broadcast the exchange is computed once and REUSED by both
            # semi-joins instead of re-evaluating the candidate scan.
            # Null-safe: an MV's backing table is itself diffed for
            # MV-over-MV syncs, and its keys (group values) may be NULL.
            from ..util import nullsafe_semi_anti

            bcast = added_rows <= self.changes_broadcast_keys
            a = nullsafe_semi_anti(a, cand, key_cols, "left_semi", broadcast=bcast)
            b = nullsafe_semi_anti(b, cand, key_cols, "left_semi", broadcast=bcast)

        # NULL-SAFE full-outer diff: `on=key_cols` equality never matches a
        # NULL key value, so a NULL-keyed row (legal — an MV's backing table
        # is keyed on group values, which may be NULL) would surface as a
        # phantom delete+insert pair even when its pre/post images are
        # IDENTICAL.  eqNullSafe keys keep the hash-join plan and make the
        # NULL key pair up like any other; the coalesce below is exact
        # because matched rows have null-safe-equal keys on both sides.
        pre = a.select(*key_cols, F.struct(*payload_cols).alias("_pre"))
        post = b.select(
            *[F.col(k).alias(f"_post_{k}") for k in key_cols],
            F.struct(*payload_cols).alias("_post"),
        )
        cond = functools.reduce(
            lambda x, y: x & y,
            [F.col(k).eqNullSafe(F.col(f"_post_{k}")) for k in key_cols],
        )
        j = pre.join(post, cond, "full_outer").select(
            *[
                F.coalesce(F.col(k), F.col(f"_post_{k}")).alias(k)
                for k in key_cols
            ],
            "_pre",
            "_post",
        )
        change = (
            F.when(F.col("_pre").isNull(), F.lit("insert"))
            .when(F.col("_post").isNull(), F.lit("delete"))
            .when(~F.col("_pre").eqNullSafe(F.col("_post")), F.lit("update"))
        )
        if images == "both":
            return (
                j.withColumn("_change_type", change)
                .filter(F.col("_change_type").isNotNull())
                .select(*key_cols, "_change_type", "_pre", "_post")
            )
        img = F.when(
            F.col("_change_type") == "delete", F.col("_pre")
        ).otherwise(F.col("_post"))
        return (
            j.withColumn("_change_type", change)
            .filter(F.col("_change_type").isNotNull())
            .select(*key_cols, "_change_type", img.alias("_img"))
            .select(*key_cols, "_change_type", "_img.*")
        )
