"""Retention delete: metadata-only drop of provably-old files + residual
tombstones + retention watermark (``ManifestTable.retention_delete``).

Reference analogue: the reference pipeline has NO retention story — its
warehouse prefix only grows and every run re-declares the Athena table
over all of it (``Phase3-DataLoad.py:101-118``).  At 10^10 rows the verb
that matters is "age out last year's transcripts WITHOUT rewriting 100 TB",
which is exactly the metadata-drop path pinned here.
"""
from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from event_driven_etl_msc_research_spark.schemas import TRANSCRIPT_SCHEMA
from event_driven_etl_msc_research_spark.sinks.manifest import ManifestTable

T0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
CHANGE_DDL = (
    "op string, lsn long, ts timestamp, conv_id string, turn_idx int, "
    "role string, text string, tool string"
)


def _ev(op, lsn, s, conv, turn, text="x"):
    return (op, lsn, T0 + dt.timedelta(seconds=s), conv, turn, "user", text, None)


def _cut(s: int) -> dt.datetime:
    return T0 + dt.timedelta(seconds=s)


def _mk(spark, root, n=2000, n_buckets=4, rows_per_file=200):
    """Table with ts-clustered, delta-free buckets — the designed layout a
    retention pass runs against (compact --sort-by ts on the tail cadence)."""
    t = ManifestTable.create(
        spark, root, TRANSCRIPT_SCHEMA, n_buckets=n_buckets,
        stats_cols=["ts", "conv_id"],
    )
    rows = [_ev("U", i, i, f"c{i % 13}", i, text=f"t{i}") for i in range(1, n + 1)]
    t.merge(spark.createDataFrame(rows, CHANGE_DDL), epoch_id=0, mode="delta")
    t.compact(sort_by=["ts"], max_rows_per_file=rows_per_file)
    return t


def _live(t, version=None):
    return sorted(
        (r.conv_id, r.turn_idx, r.text)
        for r in t.read(version=version).collect()
    )


def test_metadata_drop_and_residual(spark, tmp_root):
    t = _mk(spark, tmp_root + "/t")
    v1 = t.current_version()
    res = t.retention_delete(_cut(1000), epoch_id=9)
    # the drop phase actually fired (ts-clustered files prove all-old)
    assert res["status"] == "Success" and res["dropped_files"] > 0
    assert res["dropped_rows"] > 0
    # final state == the filtered oracle
    exp = sorted(
        (f"c{i % 13}", i, f"t{i}") for i in range(1000, 2001)
    )
    assert _live(t) == exp
    # dropped files really left the manifest; time travel still reads them
    m = t.manifest()
    retdel = next(
        t.manifest(v)
        for v in range(t.current_version(), -1, -1)
        if str(t.manifest(v).get("epoch_id") or "").startswith("retdel:")
    )
    assert res["dropped_files"] == len(retdel["retdel_dropped"])
    head_files = {p for ps in m["files"].values() for p in ps}
    assert not head_files & set(retdel["retdel_dropped"])
    assert len(_live(t, version=v1)) == 2000
    # watermark recorded and carried by the later residual commit
    assert m.get("retention_ts") is not None
    # exactly-once: full rerun is a double Skip
    r2 = t.retention_delete(_cut(1000), epoch_id=9)
    assert r2["drop_status"] == "Skipped"
    assert r2["residual"]["status"] == "Skipped"


def test_drop_phase_launches_no_spark_jobs(spark, tmp_root):
    """The metadata drop is MANIFEST-ONLY: harvested stats carry min/max
    ts, the null count, and the row count per file, so candidate proof
    costs zero Spark jobs AND zero storage reads."""
    t = _mk(spark, tmp_root + "/t")
    sc = spark.sparkContext
    group = "retdel-jobcount"
    sc.setJobGroup(group, "retention drop phase")
    opened: list[str] = []
    real_open = t.storage.open_input

    def _spy(path):
        opened.append(path)
        return real_open(path)

    t.storage.open_input = _spy
    try:
        dropped = t._droppable_before(t.manifest(), _cut(1000))
    finally:
        sc.setJobGroup(None, None)
        t.storage.open_input = real_open
    assert len(dropped) > 0
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert opened == []  # proof came from the manifest alone


def test_watermark_filters_late_old_upserts(spark, tmp_root):
    t = _mk(spark, tmp_root + "/t", n=400)
    t.retention_delete(_cut(200), epoch_id=1)
    t.merge(
        spark.createDataFrame(
            [
                _ev("U", 9000, 50, "cz", 7001, text="zombie"),  # pre-cutoff
                _ev("U", 9001, 900, "cn", 7002, text="new"),
                # deletes PASS the watermark (they can only remove); this
                # one outranks the live row's (ts=256, lsn=256) version
                _ev("D", 9002, 256, "c9", 256),
                # but an out-of-order OLDER delete still loses the fold —
                # watermark passage never overrides CDC versioning
                _ev("D", 9003, 100, "c10", 257),
            ],
            CHANGE_DDL,
        ),
        epoch_id=1,
        mode="delta",
    )
    live = {(r.conv_id, r.turn_idx): r.text for r in t.read().collect()}
    assert ("cz", 7001) not in live, "pre-watermark upsert must be dropped"
    assert live[("cn", 7002)] == "new"
    assert ("c9", 256) not in live, "deletes pass the watermark"
    assert ("c10", 257) in live, "older delete must lose the fold"
    # the watermark is monotone: an older cutoff never lowers it
    t.retention_delete(_cut(100), epoch_id=2)
    from event_driven_etl_msc_research_spark.sinks.manifest import (
        _stat_from_json,
    )

    assert _stat_from_json(t.manifest()["retention_ts"]) == _cut(200)


def test_change_feed_across_retention(spark, tmp_root):
    t = _mk(spark, tmp_root + "/t")
    v1 = t.current_version()
    t.retention_delete(_cut(1000), epoch_id=3)
    ch = {
        (r.conv_id, r.turn_idx): r._change_type
        for r in t.changes(v1).collect()
    }
    assert len(ch) == 999 and set(ch.values()) == {"delete"}
    # the candidate fast path survived (no O(table) snapshot diff)
    cand = t._append_candidates(
        v1, t.current_version(), t.manifest(v1), t.manifest()
    )
    assert cand is not None
    added, dropped, est = cand
    assert dropped, "retention-dropped files must ride the candidate walk"
    # and the feed equals the general diff (fallback oracle)
    from unittest import mock

    with mock.patch.object(
        type(t), "_append_candidates", return_value=None
    ):
        slow = {
            (r.conv_id, r.turn_idx): r._change_type
            for r in t.changes(v1).collect()
        }
    assert slow == ch


def test_mv_sync_across_retention(spark, tmp_root):
    from event_driven_etl_msc_research_spark.sinks.derived import DerivedTable

    t = _mk(spark, tmp_root + "/t", n=800, rows_per_file=100)
    mv = DerivedTable.create(
        spark, tmp_root + "/mv", t,
        group_cols=["role"], aggs={"n": "count(*)", "mx": "max(turn_idx)"},
    )
    mv.sync()
    t.retention_delete(_cut(400), epoch_id=4)
    assert mv.sync()["status"] == "Success"
    got = {r.role: (r.n, r.mx) for r in mv.table.read().collect()}
    exp = {
        r.role: (r.n, r.mx)
        for r in t.read()
        .groupBy("role")
        .agg(F.count("*").alias("n"), F.max("turn_idx").alias("mx"))
        .collect()
    }
    assert got == exp


def test_replica_converges_across_retention(spark, tmp_root):
    """Log-shipped replica: dropped files arrive as synthesized delete
    tombstones; the upstream watermark guarantees no pre-cutoff upsert is
    ever shipped, so live state is EXACTLY equal afterwards — including
    after a post-retention ingest containing a zombie event."""
    from event_driven_etl_msc_research_spark.sinks.replica import ReplicaTable

    t = _mk(spark, tmp_root + "/t", n=800, rows_per_file=100)
    rep = ReplicaTable.create(spark, tmp_root + "/rep", t, n_buckets=8)
    assert rep.sync()["path"] == "snapshot"
    res = t.retention_delete(_cut(400), epoch_id=5)
    assert res["dropped_files"] > 0
    t.merge(
        spark.createDataFrame(
            [
                _ev("U", 9000, 50, "cz", 7001, text="zombie"),
                _ev("U", 9001, 900, "cn", 7002, text="new"),
            ],
            CHANGE_DDL,
        ),
        epoch_id=1,
        mode="delta",
    )
    s = rep.sync()
    assert s["path"] == "log", "retention must not force a snapshot resync"
    assert _live(t) == sorted(
        (r.conv_id, r.turn_idx, r.text) for r in rep.table.read().collect()
    )


def test_stream_source_ships_retention_as_deletes(spark, tmp_root):
    from event_driven_etl_msc_research_spark.sources.table_source import (
        register_cdc_source,
    )
    from event_driven_etl_msc_research_spark.streaming.engine import CDCEngine

    register_cdc_source(spark)
    t = _mk(spark, tmp_root + "/t", n=600, rows_per_file=100)
    t.retention_delete(_cut(300), epoch_id=6)
    t.merge(
        spark.createDataFrame([_ev("U", 9001, 900, "cn", 7002)], CHANGE_DDL),
        epoch_id=1,
        mode="delta",
    )
    stream = (
        spark.readStream.format("edem_cdc")
        .option("path", t.root)
        .option("startingVersion", 0)
        .load()
    )
    eng = CDCEngine(
        spark, tmp_root + "/mirror", n_buckets=4, merge_mode="delta"
    )
    eng.replay_stream(stream, tmp_root + "/cp")
    assert _live(t) == sorted(
        (r.conv_id, r.turn_idx, r.text)
        for r in eng.read_table().collect()
    )


def test_physical_erasure_after_expire_and_vacuum(spark, tmp_root):
    t = _mk(spark, tmp_root + "/t")
    res = t.retention_delete(_cut(1000), epoch_id=7)
    dropped = None
    for v in range(t.current_version(), -1, -1):
        m = t.manifest(v)
        if str(m.get("epoch_id") or "").startswith("retdel:"):
            dropped = m["retdel_dropped"]
            break
    assert dropped
    paths = [os.path.join(t.root, p) for p in dropped]
    assert all(os.path.exists(p) for p in paths), "time travel needs them"
    t.expire_snapshots(keep_last=1)
    # dir-granular vacuum alone CANNOT reclaim them: they share commit
    # dirs with still-live files — that's what collect_files is for
    t.vacuum(keep_versions=1, grace_s=0.0)
    assert all(os.path.exists(p) for p in paths)
    before = _live(t)
    removed = t.vacuum(keep_versions=1, grace_s=0.0, collect_files=True)
    assert set(dropped) <= set(removed)
    assert not any(os.path.exists(p) for p in paths), "bytes must be erased"
    assert t.check(verify_rows=True)["status"] == "Success"
    assert _live(t) == before, "live rows untouched by file collection"


def test_partial_files_and_delta_buckets_fall_to_residual(spark, tmp_root):
    """No ts clustering + live deltas: nothing is provably all-old, so the
    drop set is empty and the residual tombstone pass carries the whole
    delete — state still exact."""
    t = ManifestTable.create(
        spark, tmp_root + "/t", TRANSCRIPT_SCHEMA, n_buckets=4,
        stats_cols=["ts", "conv_id"],
    )
    rows = [_ev("U", i, i, f"c{i % 13}", i, text=f"t{i}") for i in range(1, 301)]
    t.merge(spark.createDataFrame(rows, CHANGE_DDL), epoch_id=0, mode="delta")
    res = t.retention_delete(_cut(150), epoch_id=8)
    assert res["dropped_files"] == 0
    assert res["residual"]["status"] == "Success"
    assert _live(t) == sorted(
        (f"c{i % 13}", i, f"t{i}") for i in range(150, 301)
    )


def test_misuse(spark, tmp_root):
    t = _mk(spark, tmp_root + "/t", n=50)
    with pytest.raises(ValueError, match="timestamp"):
        t.retention_delete("not-a-time", epoch_id=1)
    with pytest.raises(ValueError, match="timestamp"):
        t.retention_delete(12345, epoch_id=1)
    b = t.create_branch("wap")
    with pytest.raises(ValueError, match="main-table"):
        b.retention_delete(_cut(10), epoch_id=1)
    t.drop_branch("wap")


def test_auto_maintain_retention_policy(spark, tmp_root):
    t = _mk(spark, tmp_root + "/t", n=200, rows_per_file=50)
    t.set_properties(
        {
            "maintenance.compact.min_delta_files": "1",
            "maintenance.retention.keep_s": "60",
        }
    )
    plan = t.auto_maintain(dry_run=True)
    assert "retention" in plan and "ts_before" in plan["retention"]
    out = t.auto_maintain()
    # every row is older than now-60s, so the whole table ages out
    assert out["retention"]["status"] == "Success"
    assert t.read().count() == 0


def test_retention_drop_races_concurrent_merge(spark, tmp_root):
    """A merge landing between retention's droppable computation and its
    publish: the CAS loop re-reads and RECOMPUTES against the winner (the
    merged bucket now carries deltas, so its files leave the drop set),
    then the residual pass tombstones whatever pre-cutoff rows remain —
    including the concurrently merged old row.  Nothing is lost, nothing
    stale survives."""
    t = _mk(spark, tmp_root + "/t")
    other = ManifestTable(spark, tmp_root + "/t")
    injected = []
    real_publish = t._publish

    def hooked(man):
        if not injected and str(man.get("epoch_id", "")).startswith("retdel:"):
            injected.append(1)
            # an old (pre-cutoff) and a new row sneak in first
            other.merge(
                spark.createDataFrame(
                    [_ev("U", 9001, 500, "race", 0, text="old"),
                     _ev("U", 9002, 1500, "race", 1, text="new")],
                    CHANGE_DDL,
                ),
                epoch_id=77,
                mode="delta",
            )
        return real_publish(man)

    t._publish = hooked
    try:
        res = t.retention_delete(_cut(1000), epoch_id=9)
    finally:
        t._publish = real_publish
    assert injected and res["status"] == "Success"
    live = _live(t)
    assert ("race", 1, "new") in live          # concurrent new row lands
    assert ("race", 0, "old") not in live      # old row aged by the residual
    assert all(r[0] != "c0" or r[1] >= 1000 for r in live)
    assert t.check()["status"] == "Success"


def test_delta_merge_losing_to_retention_then_next_pass(spark, tmp_root):
    """The mirror race: a delta merge STAGED before a retention commit
    rebases onto it (same-layout delta append) and its pre-cutoff upsert
    still lands — the watermark binds merges that BEGIN after the
    retention commit, not ones already in flight (linearization point =
    merge start).  The NEXT retention pass ages the straggler out, which
    is the documented eventual invariant; a genuinely late NEW merge is
    watermark-filtered immediately."""
    t = _mk(spark, tmp_root + "/t")
    other = ManifestTable(spark, tmp_root + "/t")
    injected = []
    real_publish = t._publish

    def hooked(man):
        if not injected:
            injected.append(1)
            other.retention_delete(_cut(1000), epoch_id=9)
        return real_publish(man)

    t._publish = hooked
    try:
        res = t.merge(
            spark.createDataFrame(
                [_ev("U", 9001, 500, "race", 0, text="old"),
                 _ev("U", 9002, 1500, "race", 1, text="new")],
                CHANGE_DDL,
            ),
            epoch_id=77,
            mode="delta",
        )
    finally:
        t._publish = real_publish
    assert injected and res["status"] == "Success"
    live = _live(t)
    assert ("race", 1, "new") in live
    assert ("race", 0, "old") in live  # in-flight merge: not yet bound
    # a merge that BEGINS after the retention commit is filtered
    t.merge(
        spark.createDataFrame(
            [_ev("U", 9003, 600, "late", 0, text="dropped")], CHANGE_DDL
        ),
        epoch_id=78,
        mode="delta",
    )
    assert ("late", 0, "dropped") not in _live(t)
    # the next retention pass ages the straggler out
    t.retention_delete(_cut(1000), epoch_id=10)
    live = _live(t)
    assert ("race", 0, "old") not in live and ("race", 1, "new") in live
    assert t.check()["status"] == "Success"


def test_watermark_is_monotone_across_rollback(spark, tmp_root):
    """A rollback to a snapshot carrying an OLDER (or no) retention
    watermark must NOT regress the table's watermark — replica
    convergence and tombstone GC both argue from "the upstream never
    commits a pre-watermark upsert", which only holds if ``retention_ts``
    never moves backward.  Regression test for the rollback_to monotone
    max."""
    t = _mk(spark, tmp_root + "/wm", n=400)
    t.retention_delete(_cut(100), epoch_id=9)
    v_ret1 = t.current_version()
    t.retention_delete(_cut(200), epoch_id=10)
    # roll back to between the two retention commits: target carries the
    # OLDER watermark (cut=100) but the table keeps the newer (cut=200)
    t.rollback_to(version=v_ret1)
    from event_driven_etl_msc_research_spark.sinks.manifest import (
        _stat_from_json,
    )

    wm = _stat_from_json(t.manifest()["retention_ts"])
    assert wm == _cut(200), wm

    # and a pre-watermark upsert is still dropped after the rollback
    t.merge(
        spark.createDataFrame([_ev("U", 10_000, 150, "late", 0, "zombie")],
                              CHANGE_DDL),
        epoch_id=11,
        mode="delta",
    )
    assert t.read().filter(F.col("text") == "zombie").count() == 0


def test_purge_bound_is_not_a_retention_floor(spark, tmp_root):
    """A tombstone purge's lateness bound W is not a retention cutoff:
    after a purge at W=5000, ``retention_delete(ts_before=1002)`` drops
    the ONE live row older than 1002, not every live row below W.  The
    two bounds live under their own keys (``lateness_ts`` /
    ``retention_ts``) and merge still refuses upserts older than the
    later of them."""
    from event_driven_etl_msc_research_spark.sinks.manifest import (
        _stat_from_json,
    )

    t = ManifestTable.create(
        spark, tmp_root + "/pr", TRANSCRIPT_SCHEMA, n_buckets=2
    )
    rows = [_ev("U", i, 1000 + i, f"c{i}", 0, text=f"t{i}")
            for i in range(1, 10)]  # nine live rows, ts 1001..1009
    t.merge(spark.createDataFrame(rows, CHANGE_DDL), epoch_id=0, mode="delta")
    assert t.compact(purge_tombstones_before=_cut(5000))["status"] == "Success"
    t.retention_delete(_cut(1002), epoch_id=1)
    assert _live(t) == [(f"c{i}", 0, f"t{i}") for i in range(2, 10)]
    m = t.manifest()
    assert _stat_from_json(m["retention_ts"]) == _cut(1002)
    assert _stat_from_json(m["lateness_ts"]) == _cut(5000)
    # merge binds to the later bound: ts 3000 < W is refused, 6000 lands
    t.merge(
        spark.createDataFrame(
            [_ev("U", 20, 3000, "late", 0, "zombie"),
             _ev("U", 21, 6000, "new", 0, "fresh")],
            CHANGE_DDL,
        ),
        epoch_id=2,
        mode="delta",
    )
    texts = {r[2] for r in _live(t)}
    assert "fresh" in texts and "zombie" not in texts


def test_null_ts_tombstone_survives_purge(spark, tmp_root):
    """A tombstone whose ``ts`` is NULL has no provable age, so a purge
    keeps it (as retention never drops NULL-ts rows).  It is the only
    thing blocking a re-delivered NULL-ts upsert with an older lsn —
    merge's watermark passes NULL-ts events — so after the purge that
    upsert must still lose and the key stays deleted."""
    t = ManifestTable.create(
        spark, tmp_root + "/nt", TRANSCRIPT_SCHEMA, n_buckets=2
    )
    nul = [("U", 1, None, "n", 0, "user", "v1", None),
           ("D", 2, None, "n", 0, None, None, None)]
    t.merge(
        spark.createDataFrame(nul + [_ev("U", 3, 100, "c", 0, "live")],
                              CHANGE_DDL),
        epoch_id=0,
        mode="delta",
    )
    assert t.compact(purge_tombstones_before=_cut(5000))["status"] == "Success"
    base = [t._spath(p) for ps in t.manifest()["files"].values() for p in ps]
    kept = (
        spark.read.parquet(*base)
        .filter(F.col("_deleted") & F.col("ts").isNull())
        .count()
    )
    assert kept == 1
    t.merge(
        spark.createDataFrame(
            [("U", 1, None, "n", 0, "user", "zombie", None)], CHANGE_DDL
        ),
        epoch_id=1,
        mode="delta",
    )
    assert _live(t) == [("c", 0, "live")]


def test_timestamp_stats_do_not_depend_on_the_session(spark, tmp_root):
    """A session left at legacy INT96 timestamps (no parquet min/max) must
    not blind the ts stats: the table handle pins TIMESTAMP_MICROS, so a
    CoW rewrite still harvests them and retention drops by metadata."""
    s2 = spark.newSession()
    s2.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    t = ManifestTable.create(
        s2, tmp_root + "/t", TRANSCRIPT_SCHEMA, n_buckets=2,
        stats_cols=["ts", "conv_id"],
    )
    rows = [_ev("U", i, i, f"c{i % 7}", i) for i in range(1, 41)]
    t.merge(s2.createDataFrame(rows, CHANGE_DDL), epoch_id=0)
    upd = [_ev("U", 100 + i, 100 + i, f"c{i % 7}", i, "u") for i in range(1, 41)]
    res = t.merge(s2.createDataFrame(upd, CHANGE_DDL), epoch_id=1)
    assert res["merge_path"] != "initial"  # a CoW rewrite
    m = t.manifest()
    files = [p for ps in m["files"].values() for p in ps]
    assert len(files) == 2
    assert all("ts" in m["file_stats"][p] for p in files)
    res = t.retention_delete("2100-01-01", epoch_id=9)
    assert res["dropped_files"] == 2

    # a change batch built on ANOTHER INT96 session than the handle's: the
    # write runs under the frame's session, so it is pinned there too
    s3 = spark.newSession()
    s3.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    t2 = ManifestTable.create(
        spark, tmp_root + "/t2", TRANSCRIPT_SCHEMA, n_buckets=2,
        stats_cols=["ts", "conv_id"],
    )
    res = t2.merge(s3.createDataFrame(rows, CHANGE_DDL), epoch_id=0)
    assert res["merge_path"] == "initial"  # the staged batch IS the table
    m = t2.manifest()
    files = [p for ps in m["files"].values() for p in ps]
    assert len(files) == 2
    assert all("ts" in m["file_stats"][p] for p in files)
    assert t2.retention_delete("2100-01-01", epoch_id=9)["dropped_files"] == 2


def test_update_losing_to_a_rebucket_keeps_its_watermark_bypass(
    spark, tmp_root
):
    """An ``update_where`` that loses the manifest race to a layout change
    redoes its merge against the winner with the SAME options: the rewrite
    of live rows older than the purge watermark (each keeps its own ts)
    still bypasses the watermark and lands, exactly as without the race."""
    t = ManifestTable.create(
        spark, tmp_root + "/t", TRANSCRIPT_SCHEMA, n_buckets=2
    )
    rows = [_ev("U", i, 1000 + i, f"c{i}", 0, text=f"t{i}") for i in range(1, 6)]
    t.merge(spark.createDataFrame(rows, CHANGE_DDL), epoch_id=0, mode="delta")
    t.compact(purge_tombstones_before=_cut(5000))
    other = ManifestTable(spark, tmp_root + "/t")
    raced = []

    def rebucket_once(_new):
        if not raced:
            raced.append(other.rebucket(4)["status"])

    res = t.update_where(
        "conv_id = 'c2'", {"text": "'B'"}, epoch_id=2,
        before_publish=rebucket_once,
    )
    assert raced == ["Success"]
    assert res["status"] == "Success" and res["staged_rows"] == 1
    assert t.manifest()["n_buckets"] == 4
    assert ("c2", 0, "B") in _live(t)
    assert t.check(verify_rows=True)["status"] == "Success"
