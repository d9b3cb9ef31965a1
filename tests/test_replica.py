"""Replica (follower) tables (`sinks.replica.ReplicaTable`): log-shipping
a ManifestTable into a mirror — raw delta rows (original (ts, _lsn,
_deleted) stamps) replayed through the replica's own MERGE, which runs
the identical per-key max-version fold, so the replica resolves every
ordering exactly as the upstream did.  O(appended rows) per sync on the
log fast path (the upstream is never scanned — pinned below by poisoning
upstream.read); snapshot resync fallback for first sync / CoW ranges;
a rollback in the unsynced range raises ReplicaDiverged (forward replay
cannot follow a move to older stamps).  Exactly-once by upstream version
in the replica's own applied-epoch ledger.  Reference analogue: the
whole-prefix backup copy re-run each execution
(`Phase3-BackupData.py:23-41`).
"""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from event_driven_etl_msc_research_spark.schemas import TRANSCRIPT_SCHEMA
from event_driven_etl_msc_research_spark.sinks.manifest import ManifestTable
from event_driven_etl_msc_research_spark.sinks.replica import (
    ReplicaDiverged,
    ReplicaTable,
)

BATCH_SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType()),
        T.StructField("lsn", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
    ]
)


def _batch(spark, rows):
    pdf = pd.DataFrame(rows, columns=[f.name for f in BATCH_SCHEMA.fields])
    pdf["ts"] = pd.to_datetime(pdf["ts"], unit="s", utc=True)
    return spark.createDataFrame(pdf, BATCH_SCHEMA)


def _rows(n, start_key=0, lsn0=0, ts0=1000, text="t"):
    return [
        (
            "U",
            lsn0 + i,
            ts0 + i,
            f"c{(start_key + i) % 5}",
            (start_key + i) // 5,
            "user",
            f"{text}-{start_key + i}",
            None,
        )
        for i in range(n)
    ]


def _state(t):
    cols = [f.name for f in t.schema().fields]
    return sorted(
        tuple(r[c] for c in cols) for r in t.read().select(*cols).collect()
    )


@pytest.fixture()
def upstream(spark, tmp_root):
    t = ManifestTable.create(
        spark, os.path.join(tmp_root, "up"), TRANSCRIPT_SCHEMA, n_buckets=4
    )
    t.merge(_batch(spark, _rows(20)), 0, mode="delta")
    t.merge(_batch(spark, _rows(10, start_key=5, lsn0=100, ts0=2000, text="u")), 1, mode="delta")
    t.merge(
        _batch(spark, [("D", 500, 5000, "c1", 0, None, None, None)]),
        2,
        mode="delta",
    )
    return t


def test_log_shipping_equals_upstream_and_is_exactly_once(spark, tmp_root, upstream):
    rep = ReplicaTable.create(
        spark, os.path.join(tmp_root, "rep"), upstream, n_buckets=4
    )
    r1 = rep.sync()
    assert r1["status"] == "Success" and r1["path"] == "snapshot"  # first sync
    assert _state(rep.table) == _state(upstream)
    assert rep.sync()["status"] == "NoChange"

    # more upstream epochs -> log fast path, upstream table NEVER scanned
    upstream.merge(_batch(spark, _rows(8, start_key=11, lsn0=200, ts0=3000, text="v")), 3, mode="delta")
    upstream.merge(
        _batch(spark, [("D", 600, 6000, "c2", 0, None, None, None)]),
        4,
        mode="delta",
    )
    r2 = rep.sync()
    assert r2["status"] == "Success" and r2["path"] == "log"
    assert r2["upstream_version"] == upstream.current_version()
    assert _state(rep.table) == _state(upstream)
    # exactly-once: same upstream version re-sync is a ledger no-op
    assert rep.sync()["status"] == "NoChange"


def test_log_path_survives_compaction_in_range(spark, tmp_root, upstream):
    rep = ReplicaTable.create(
        spark, os.path.join(tmp_root, "rep"), upstream, n_buckets=4
    )
    rep.sync()
    upstream.merge(_batch(spark, _rows(6, start_key=30, lsn0=300, ts0=4000)), 3, mode="delta")
    upstream.compact()  # state-preserving rewrite mid-range
    upstream.merge(_batch(spark, _rows(6, start_key=40, lsn0=400, ts0=5000)), 4, mode="delta")
    r = rep.sync()
    assert r["status"] == "Success" and r["path"] == "log"
    assert _state(rep.table) == _state(upstream)


def test_snapshot_resync_on_cow_range(spark, tmp_root, upstream):
    rep = ReplicaTable.create(
        spark, os.path.join(tmp_root, "rep"), upstream, n_buckets=4
    )
    rep.sync()
    upstream.merge(
        _batch(spark, _rows(6, start_key=50, lsn0=500, ts0=6000)), 3, mode="cow"
    )
    r = rep.sync()
    assert r["status"] == "Success" and r["path"] == "snapshot"
    assert _state(rep.table) == _state(upstream)
    # tombstones replicated: a late OLD update cannot resurrect on the
    # replica any more than on the upstream
    late = _batch(spark, [("U", 1, 999, "c1", 0, "user", "zombie", None)])
    upstream.merge(late, 4, mode="delta")
    rep.sync()
    assert _state(rep.table) == _state(upstream)
    assert not any("zombie" in str(row) for row in _state(rep.table))


def test_resharding_replica(spark, tmp_root, upstream):
    rep = ReplicaTable.create(
        spark, os.path.join(tmp_root, "rep16"), upstream, n_buckets=16
    )
    rep.sync()
    assert rep.table.manifest()["n_buckets"] == 16
    assert _state(rep.table) == _state(upstream)
    upstream.merge(_batch(spark, _rows(5, start_key=70, lsn0=700, ts0=7000)), 3, mode="delta")
    rep.sync()
    assert _state(rep.table) == _state(upstream)


def test_projected_replica(spark, tmp_root, upstream):
    rep = ReplicaTable.create(
        spark,
        os.path.join(tmp_root, "proj"),
        upstream,
        columns=["conv_id", "turn_idx", "ts", "text"],
    )
    rep.sync()
    exp = sorted(
        tuple(r)
        for r in upstream.read()
        .select("conv_id", "turn_idx", "ts", "text")
        .collect()
    )
    got = sorted(
        tuple(r)
        for r in rep.table.read()
        .select("conv_id", "turn_idx", "ts", "text")
        .collect()
    )
    assert got == exp
    assert {f.name for f in rep.table.schema().fields} == {
        "conv_id", "turn_idx", "text", "ts",
    }


def test_projection_must_keep_keys_and_ts(spark, tmp_root, upstream):
    with pytest.raises(ValueError, match="key columns and"):
        ReplicaTable.create(
            spark, os.path.join(tmp_root, "p1"), upstream, columns=["conv_id", "ts", "text"]
        )
    with pytest.raises(ValueError, match="not in upstream schema"):
        ReplicaTable.create(
            spark,
            os.path.join(tmp_root, "p2"),
            upstream,
            columns=["conv_id", "turn_idx", "ts", "ghost"],
        )


def test_load_validates_upstream_root(spark, tmp_root, upstream):
    root = os.path.join(tmp_root, "rep")
    rep = ReplicaTable.create(spark, root, upstream, n_buckets=4)
    rep.sync()
    again = ReplicaTable.load(spark, root, upstream)
    assert again.sync()["status"] == "NoChange"
    other = ManifestTable.create(
        spark, os.path.join(tmp_root, "other"), TRANSCRIPT_SCHEMA, n_buckets=2
    )
    with pytest.raises(ValueError, match="defined over upstream"):
        ReplicaTable.load(spark, root, other)


def test_rollback_fences_the_replica(spark, tmp_root, upstream):
    rep = ReplicaTable.create(
        spark, os.path.join(tmp_root, "rep"), upstream, n_buckets=4
    )
    rep.sync()
    v_good = upstream.current_version()
    upstream.merge(_batch(spark, _rows(4, start_key=80, lsn0=800, ts0=8000)), 3, mode="delta")
    upstream.rollback_to(version=v_good)
    with pytest.raises(ReplicaDiverged, match="rolled back"):
        rep.sync()
    # the replica itself is untouched and still serves the last good
    # state — which the rollback made the upstream's state again
    assert _state(rep.table) == _state(upstream)
    assert rep.last_synced_version() == v_good


def test_expired_resume_snapshot_fails_loudly(spark, tmp_root, upstream):
    """A replica whose resume snapshot was expired upstream must not fall
    back to a snapshot resync: that cannot see rows retention dropped or
    tombstones a purge removed in the gap.  It raises, as it always did."""
    rep = ReplicaTable.create(
        spark, os.path.join(tmp_root, "rep"), upstream, n_buckets=4
    )
    rep.sync()
    sv = rep.last_synced_version()
    for e in (5, 6):
        upstream.merge(
            _batch(spark, _rows(3, start_key=40 + e, lsn0=100 * e, ts0=100 * e)),
            e,
            mode="delta",
        )
    assert sv in upstream.expire_snapshots(keep_last=1)
    v_rep = rep.table.current_version()
    with pytest.raises(FileNotFoundError):
        rep.sync()
    assert rep.table.current_version() == v_rep
    assert rep.last_synced_version() == sv


def test_replica_of_a_shallow_clone(spark, tmp_root, upstream):
    """A shallow clone references the source's files as ext:// paths: the
    replica's snapshot resync must read them where they live, and the log
    path then ships the clone's own appends."""
    clone = upstream.clone(os.path.join(tmp_root, "clone"))
    rep = ReplicaTable.create(
        spark, os.path.join(tmp_root, "rep"), clone, n_buckets=4
    )
    r1 = rep.sync()
    assert r1["status"] == "Success" and r1["path"] == "snapshot"
    assert _state(rep.table) == _state(clone)
    clone.merge(
        _batch(spark, _rows(6, start_key=50, lsn0=900, ts0=9000, text="f")),
        3,
        mode="delta",
    )
    r2 = rep.sync()
    assert r2["status"] == "Success" and r2["path"] == "log"
    assert _state(rep.table) == _state(clone)


def test_upstream_schema_evolution_flows_through(spark, tmp_root, upstream):
    rep = ReplicaTable.create(
        spark, os.path.join(tmp_root, "rep"), upstream, n_buckets=4
    )
    rep.sync()
    evolved = _batch(spark, _rows(3, start_key=90, lsn0=900, ts0=9000)).withColumn(
        "tool_meta", F.lit("m1")
    )
    upstream.merge(evolved, 3, mode="delta")
    r = rep.sync()
    assert r["status"] == "Success" and r["path"] == "log"
    assert "tool_meta" in [f.name for f in rep.table.schema().fields]
    assert _state(rep.table) == _state(upstream)


def test_object_store_backend(spark, tmp_root, upstream, storage_factory):
    root = os.path.join(tmp_root, "rep_obj")
    rep = ReplicaTable.create(
        spark, root, upstream, n_buckets=4, storage=storage_factory(root)
    )
    rep.sync()
    upstream.merge(_batch(spark, _rows(5, start_key=95, lsn0=950, ts0=9500)), 3, mode="delta")
    rep.sync()
    assert _state(rep.table) == _state(upstream)


def test_engine_register_replica_behind_tail(spark, tmp_root):
    from event_driven_etl_msc_research_spark.datagen import (
        ChangeStreamSpec,
        generate_change_stream,
    )
    from event_driven_etl_msc_research_spark.schemas import CHANGE_EVENT_SCHEMA
    from event_driven_etl_msc_research_spark.streaming.engine import CDCEngine

    wal = os.path.join(tmp_root, "wal")
    generate_change_stream(wal, ChangeStreamSpec(n_events=2000, seed=7))
    eng = CDCEngine(
        spark,
        os.path.join(tmp_root, "tbl"),
        change_schema=CHANGE_EVENT_SCHEMA,
        n_buckets=4,
        merge_mode="delta",
    )
    rep = ReplicaTable.create(
        spark, os.path.join(tmp_root, "mirror"), eng.table, n_buckets=4
    )
    eng.register_derived(rep)  # duck-typed: replicas ride the MV cadence
    eng.replay(wal, os.path.join(tmp_root, "cp"), max_files_per_trigger=4)
    assert rep.last_synced_version() == eng.table.current_version()
    assert _state(rep.table) == _state(eng.table)


def test_chained_replication_and_mv_over_replica(spark, tmp_root, upstream):
    """Replicas compose: A -> B -> C log-ships end-to-end (B's merges ARE
    delta appends, so C's syncs ride the log fast path), and a DerivedTable
    over a replica stays correct — the mirror is a full ManifestTable."""
    from event_driven_etl_msc_research_spark.sinks.derived import DerivedTable

    b = ReplicaTable.create(spark, os.path.join(tmp_root, "b"), upstream, n_buckets=4)
    b.sync()
    c = ReplicaTable.create(spark, os.path.join(tmp_root, "c"), b.table, n_buckets=2)
    c.sync()
    assert _state(c.table) == _state(upstream)

    mv = DerivedTable.create(
        spark,
        os.path.join(tmp_root, "mv"),
        b.table,
        group_cols=["conv_id"],
        aggs={"n_turns": "count(1)"},
        n_buckets=2,
    )
    mv.sync()
    exp = sorted(
        (r["conv_id"], r["n_turns"])
        for r in upstream.read().groupBy("conv_id").agg(
            F.count(F.lit(1)).alias("n_turns")
        ).collect()
    )
    got = sorted(
        (r["conv_id"], r["n_turns"]) for r in mv.table.read().collect()
    )
    assert got == exp

    # propagate another epoch down the whole chain
    upstream.merge(_batch(spark, _rows(6, start_key=60, lsn0=600, ts0=6500)), 3, mode="delta")
    st_b = b.sync()
    assert st_b["path"] == "log"
    st_c = c.sync()
    assert st_c["path"] == "log"  # replica merges are delta appends
    mv.sync()
    assert _state(c.table) == _state(upstream)
    exp2 = sorted(
        (r["conv_id"], r["n_turns"])
        for r in upstream.read().groupBy("conv_id").agg(
            F.count(F.lit(1)).alias("n_turns")
        ).collect()
    )
    got2 = sorted(
        (r["conv_id"], r["n_turns"]) for r in mv.table.read().collect()
    )
    assert got2 == exp2
