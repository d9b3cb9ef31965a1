"""Head-hint resolution: ``current_version()`` must cost O(1) metadata
calls, not an O(commits) LIST of the manifest directory.

Every publish drops a per-version hint object under
``_manifest/head/`` and GCs all but the newest few; resolution LISTs
that tiny dir and probes FORWARD over hint-lag.  The hint is a hint:
the conditional PUT of the manifest key stays the only commit point,
so a crashed writer (publish landed, hint lost) or a hint-less table
(pre-hint layout) must still resolve the true head.
"""

from __future__ import annotations

import os

import pytest

from event_driven_etl_msc_research_spark.schemas import TRANSCRIPT_SCHEMA
from event_driven_etl_msc_research_spark.sinks.manifest import ManifestTable
from event_driven_etl_msc_research_spark.sinks.replica import ReplicaTable
from event_driven_etl_msc_research_spark.sinks.storage import LocalFSStorage


def _batch(spark, lsn, n=4):
    import pandas as pd
    from pyspark.sql import types as T

    pdf = pd.DataFrame(
        [
            ("U", lsn + i, 1000 + lsn + i, f"c{i}", 0, "user",
             f"t{lsn + i}", None)
            for i in range(n)
        ],
        columns=["op", "lsn", "ts", "conv_id", "turn_idx", "role", "text", "tool"],
    )
    pdf["ts"] = pd.to_datetime(pdf["ts"], unit="s", utc=True)
    fields = [
        T.StructField("op", T.StringType()),
        T.StructField("lsn", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
    ]
    return spark.createDataFrame(pdf, T.StructType(fields))


class CountingStorage(LocalFSStorage):
    """POSIX backend that counts verb calls per prefix."""

    def __init__(self, root):
        super().__init__(root)
        self.calls: list[tuple[str, str]] = []

    def list(self, prefix=""):
        self.calls.append(("list", prefix))
        return super().list(prefix)

    def get(self, key):
        self.calls.append(("get", key))
        return super().get(key)

    def open_input(self, key):
        self.calls.append(("open_input", key))
        return super().open_input(key)


def _mk(spark, tmp_root, storage_factory, n_commits=6):
    root = os.path.join(tmp_root, "hint_tbl")
    t = ManifestTable.create(
        spark, root, TRANSCRIPT_SCHEMA, n_buckets=2,
        storage=storage_factory(root),
    )
    for i in range(n_commits):
        t.merge(_batch(spark, 100 * (i + 1)), epoch_id=i + 1, mode="delta")
    return t


def test_hint_objects_stay_bounded(spark, tmp_root, storage_factory):
    t = _mk(spark, tmp_root, storage_factory, n_commits=8)
    hints = [o.key for o in t.storage.list("_manifest/head")]
    assert 1 <= len(hints) <= t.head_hint_keep
    # the newest hint names the true head
    top = max(int(k.rsplit("/h", 1)[-1]) for k in hints)
    assert top == t.current_version()


def test_resolution_never_lists_manifest_dir(spark, tmp_root):
    root = os.path.join(tmp_root, "count_tbl")
    st = CountingStorage(root)
    t = ManifestTable.create(spark, root, TRANSCRIPT_SCHEMA, n_buckets=2, storage=st)
    for i in range(5):
        t.merge(_batch(spark, 100 * (i + 1)), epoch_id=i + 1, mode="delta")
    st.calls.clear()
    fresh = ManifestTable(spark, root, storage=st)  # cold handle, no cache
    head = fresh.current_version()
    assert head == 5
    listed = [p for verb, p in st.calls if verb == "list"]
    # only the tiny hint dir is listed — never the whole manifest chain
    assert listed == ["_manifest/head"]
    # one probe GET past the head (the miss) is the entire extra cost
    gets = [k for verb, k in st.calls if verb == "get"]
    assert gets == [f"_manifest/v{head + 1:012d}.json"]


@pytest.mark.parametrize(
    "verb",
    [
        "delta_merge", "cow_merge", "compact",
        "delete_where", "update_where", "merge_into",
        "rename_column", "drop_column", "add_constraint",
    ],
)
def test_write_verbs_read_the_head_once(spark, tmp_root, verb):
    """A write verb resolves the head once and stages, audits and commits
    against that snapshot — no hidden re-read of the head manifest (the
    DML verbs scan and merge the snapshot they read)."""
    root = os.path.join(tmp_root, "once_tbl")
    st = CountingStorage(root)
    t = ManifestTable.create(spark, root, TRANSCRIPT_SCHEMA, n_buckets=2, storage=st)
    mode = "cow" if verb == "cow_merge" else "delta"
    t.merge(_batch(spark, 100), epoch_id=1, mode=mode)
    if verb == "drop_column":
        # the constraint guard must check against the same snapshot
        t.add_constraint("has_text", "text IS NOT NULL")
    head = t._manifest_key(t.current_version())
    st.calls.clear()
    if verb == "compact":
        res = t.compact()
    elif verb == "delete_where":
        res = t.delete_where("turn_idx = 0", epoch_id=2)
    elif verb == "update_where":
        res = t.update_where("turn_idx = 0", {"text": "'x'"}, epoch_id=2)
    elif verb == "merge_into":
        res = t.merge_into(
            _batch(spark, 200).drop("op", "lsn"),
            epoch_id=2,
            when_matched_update={"text": "s.text"},
            when_not_matched_insert="all",
        )
    elif verb == "rename_column":
        res = t.rename_column("tool", "tool_name")
    elif verb == "drop_column":
        res = t.drop_column("tool")
    elif verb == "add_constraint":
        res = t.add_constraint("has_conv", "conv_id IS NOT NULL")
    else:
        # the same keys again: a CoW merge rewrites the touched buckets
        res = t.merge(_batch(spark, 200), epoch_id=2, mode=mode)
    assert res["status"] == "Success"
    if verb == "cow_merge":
        assert res["merge_path"] != "initial"
    assert st.calls.count(("get", head)) == 1


# id -> (head LISTs, _manifest/ GETs).  A head resolution is one LIST of
# the hint dir plus the probe's miss GET; delete/update_where add the
# publish's hint-GC LIST.
_SCAN_ONCE = {
    "read_where": (1, 2),
    "count": (1, 2),
    "min_max": (1, 2),
    "changes": (1, 4),
    "delete_where": (2, 2),
    "update_where": (2, 2),
    "replica_sync_log": (1, 3),
    "replica_sync_snapshot": (1, 2),
    "clone": (1, 2),
    "partitions": (1, 2),
}


def _verb_call(case, spark, t, tmp_root):
    """The call to measure; set-up it needs runs here, uncounted."""
    head = t.current_version()
    if case == "read_where":
        return lambda: t.read(where={"conv_id": ("c1", "c1")})
    if case == "count":
        return t.count
    if case == "min_max":
        return lambda: t.min_max("ts")
    if case == "changes":
        return lambda: t.changes(head - 2)
    if case == "delete_where":
        return lambda: t.delete_where("turn_idx = 0", epoch_id=50)
    if case == "update_where":
        return lambda: t.update_where("turn_idx = 0", {"text": "'x'"}, epoch_id=50)
    if case == "clone":
        return lambda: t.clone(os.path.join(tmp_root, "clone"))
    if case == "partitions":
        return t.partitions
    rep = ReplicaTable.create(spark, os.path.join(tmp_root, "rep"), t)
    if case == "replica_sync_log":
        # the first sync takes the snapshot path; the next ships the log
        rep.sync()
        t.merge(_batch(spark, 900), epoch_id=90, mode="delta")
    return rep.sync


@pytest.mark.parametrize("case", list(_SCAN_ONCE))
def test_each_manifest_read_once_per_verb(spark, tmp_root, case):
    """Every read verb scans the manifests it already holds: the head is
    resolved once, and no snapshot manifest is fetched twice in one call
    (2-bucket table, 4 delta merges pending)."""
    want_lists, want_gets = _SCAN_ONCE[case]
    root = os.path.join(tmp_root, "scan_tbl")
    st = CountingStorage(root)
    t = ManifestTable.create(spark, root, TRANSCRIPT_SCHEMA, n_buckets=2, storage=st)
    for i in range(4):
        t.merge(_batch(spark, 100 * (i + 1)), epoch_id=i + 1, mode="delta")
    call = _verb_call(case, spark, t, tmp_root)
    st.calls.clear()
    call()
    lists = [p for verb, p in st.calls if verb == "list" and p == "_manifest/head"]
    gets = [k for verb, k in st.calls if verb == "get" and k.startswith("_manifest/")]
    assert (len(lists), len(gets)) == (want_lists, want_gets), st.calls
    snaps = [k for k in gets if k.startswith("_manifest/v")]
    assert len(snaps) == len(set(snaps)), snaps


def test_probe_covers_hint_lag(spark, tmp_root, storage_factory):
    """A writer that crashes between publish and hint leaves max-hint <
    head; probe-forward must still find the true head."""
    t = _mk(spark, tmp_root, storage_factory, n_commits=3)
    head = t.current_version()
    # simulate the crash: publish head+1 directly, no hint write
    m = dict(t.manifest())
    m["version"], m["parent"] = head + 1, head
    assert t.storage.put_if_absent(
        f"_manifest/v{head + 1:012d}.json", ManifestTable._encode_manifest(m)
    )
    fresh = ManifestTable(spark, t.root, storage=t.storage)
    assert fresh.current_version() == head + 1
    # the next real publish heals the hint chain
    fresh.merge(_batch(spark, 900), epoch_id=99, mode="delta")
    hints = [o.key for o in t.storage.list("_manifest/head")]
    assert max(int(k.rsplit("/h", 1)[-1]) for k in hints) == head + 2


def test_fallback_without_hints(spark, tmp_root, storage_factory):
    """Hint-less tables (pre-hint layout / tampered dir) resolve via the
    full listing, and the next publish re-heals the hints."""
    t = _mk(spark, tmp_root, storage_factory, n_commits=3)
    head = t.current_version()
    for o in t.storage.list("_manifest/head"):
        t.storage.delete(o.key)
    fresh = ManifestTable(spark, t.root, storage=t.storage)
    assert fresh.current_version() == head
    assert fresh.read().count() > 0
    fresh.merge(_batch(spark, 500), epoch_id=50, mode="delta")
    assert [o.key for o in t.storage.list("_manifest/head")]


def test_hints_survive_expiry_and_state_is_stable(spark, tmp_root, storage_factory):
    """expire_snapshots removes OLD manifests only — resolution through
    hints still lands on the surviving head and reads are unchanged."""
    t = _mk(spark, tmp_root, storage_factory, n_commits=6)
    before = t.read().toPandas().sort_values(["conv_id", "turn_idx"])
    t.expire_snapshots(keep_last=2)
    fresh = ManifestTable(spark, t.root, storage=t.storage)
    assert fresh.current_version() == t.current_version()
    after = fresh.read().toPandas().sort_values(["conv_id", "turn_idx"])
    assert before.reset_index(drop=True).equals(after.reset_index(drop=True))


@pytest.mark.parametrize("n", [4])
def test_branch_chains_get_their_own_hints(spark, tmp_root, storage_factory, n):
    t = _mk(spark, tmp_root, storage_factory, n_commits=n)
    b = t.create_branch("audit")
    b.merge(_batch(spark, 700), epoch_id=70, mode="delta")
    hints = [o.key for o in t.storage.list("_manifest_branches/audit/head")]
    assert hints, "branch publishes must hint their own chain"
    assert b.current_version() == t.current_version() + 1
    t.drop_branch("audit")
    assert not [
        o.key for o in t.storage.list("_manifest_branches/audit/head")
    ]
