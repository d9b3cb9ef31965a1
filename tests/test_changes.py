"""Change feed (`ManifestTable.changes`): the CDF
surface downstream incremental consumers read — the Iceberg/Delta
`table_changes` analogue over the manifest chain.

Pins: (1) insert/update/delete classification with pre/post images, (2)
the pure-delta-append fast path restricts both snapshot scans to the
candidate keys of the ADDED delta files via a broadcast semi-join (the
O(changes) shape — nothing shuffles at table size), (3) the general diff
stays exact across compact/rebucket (where added-files feeds are
meaningless), and (4) additive schema
evolution inside the range surfaces as updates, never errors."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from event_driven_etl_msc_research_spark.sinks.manifest import ManifestTable

PAYLOAD = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_key", T.StringType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _batch(spark, rows):
    """rows: (op, lsn, ts_str, user_key, event_type, value)"""
    return spark.createDataFrame(
        [(op, lsn, ts, k, et, v) for op, lsn, ts, k, et, v in rows],
        "op string, lsn long, ts string, user_key string, "
        "event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))


TS = "2024-01-01 00:00:00"


def _mk_table(spark, tmp_root, mode="delta"):
    tbl = ManifestTable.create(
        spark, tmp_root + "/tbl", PAYLOAD, key_cols=["user_key"], n_buckets=4
    )
    tbl.merge(
        _batch(
            spark,
            [
                ("U", 1, TS, "A", "click", 1.0),
                ("U", 2, TS, "B", "click", 2.0),
                ("U", 3, TS, "C", "view", 3.0),
            ],
        ),
        epoch_id=0,
        mode=mode,
        epoch_scope="t",
    )
    v1 = tbl.current_version()
    tbl.merge(
        _batch(
            spark,
            [
                ("U", 4, TS, "B", "purchase", 20.0),  # update B
                ("D", 5, TS, "C", None, None),  # delete C
                ("U", 6, TS, "D", "click", 4.0),  # insert D
            ],
        ),
        epoch_id=1,
        mode=mode,
        epoch_scope="t",
    )
    return tbl, v1


def _changes_map(df):
    return {
        r["user_key"]: (r["_change_type"], r["event_type"], r["value"])
        for r in df.collect()
    }


@pytest.mark.parametrize("mode", ["delta", "cow"])
def test_changes_classification_and_images(spark, tmp_root, mode):
    tbl, v1 = _mk_table(spark, tmp_root, mode=mode)
    got = _changes_map(tbl.changes(v1))
    assert got == {
        "B": ("update", "purchase", 20.0),  # post-image
        "C": ("delete", "view", 3.0),  # pre-image
        "D": ("insert", "click", 4.0),
    }
    # unchanged key A never appears; column order is keys, type, payload
    cols = tbl.changes(v1).columns
    assert cols == ["user_key", "_change_type", "ts", "event_type", "value"]


def test_changes_fast_path_is_candidate_restricted(spark, tmp_root):
    tbl, v1 = _mk_table(spark, tmp_root, mode="delta")
    df = tbl.changes(v1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # both snapshot scans are semi-joined to the added-files candidate keys,
    # broadcast (no table-sized shuffle); the final diff join shuffles only
    # O(changes) rows
    assert plan.count("LeftSemi") >= 2, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize("mode", ["delta", "cow"])
def test_changes_null_key_pairs_up(spark, tmp_root, mode):
    """A NULL key value is legal (an MV's backing table is keyed on group
    values, which may be NULL).  The diff join must be null-safe: a changed
    NULL-keyed row is ONE 'update' (not a phantom delete+insert pair), and
    an unchanged NULL-keyed row that lands in the candidate set emits
    nothing at all."""
    tbl = ManifestTable.create(
        spark, tmp_root + "/tbl", PAYLOAD, key_cols=["user_key"], n_buckets=4
    )
    tbl.merge(
        _batch(
            spark,
            [("U", 1, TS, "A", "click", 1.0), ("U", 2, TS, None, "view", 5.0)],
        ),
        epoch_id=0,
        mode=mode,
        epoch_scope="t",
    )
    v1 = tbl.current_version()

    # epoch 1: NULL key updated; A re-upserted with an IDENTICAL image (a
    # candidate, but not a change)
    tbl.merge(
        _batch(
            spark,
            [("U", 3, TS, None, "view", 50.0), ("U", 4, TS, "A", "click", 1.0)],
        ),
        epoch_id=1,
        mode=mode,
        epoch_scope="t",
    )
    rows = tbl.changes(v1).collect()
    assert len(rows) == 1, rows
    assert _changes_map(tbl.changes(v1)) == {None: ("update", "view", 50.0)}

    # epoch 2: NULL key re-upserted unchanged — the feed must be EMPTY
    v2 = tbl.current_version()
    tbl.merge(
        _batch(spark, [("U", 5, TS, None, "view", 50.0)]),
        epoch_id=2,
        mode=mode,
        epoch_scope="t",
    )
    assert tbl.changes(v2).count() == 0


EXPECTED = {
    "B": ("update", "purchase", 20.0),
    "C": ("delete", "view", 3.0),
    "D": ("insert", "click", 4.0),
}


def test_changes_exact_across_compact(spark, tmp_root):
    """Compaction is a STATE-PRESERVING rewrite: the chain walk skips it
    and the candidate fast path survives — the range's changes are its
    delta-append steps' alone."""
    tbl, v1 = _mk_table(spark, tmp_root, mode="delta")
    tbl.compact()
    cur = tbl.current_version()
    ma, mb = tbl.manifest(v1), tbl.manifest(cur)
    cand = tbl._append_candidates(v1, cur, ma, mb)
    assert cand is not None, "fast path must survive a mid-range compaction"
    added, _dropped, added_rows = cand
    # candidates are exactly the delta files the append step added — never
    # base files (the no-full-snapshot-scan proof)
    assert added and all("-e1-" in p for p in added), added
    assert added_rows == 3
    assert _changes_map(tbl.changes(v1)) == EXPECTED


def test_changes_fast_path_across_compaction_midrange(spark, tmp_root):
    """A compaction LANDING MID-RANGE (append, compact, append) keeps the
    candidate fast path alive: candidates are the union of BOTH append
    steps' delta files; the result equals the naive full-outer snapshot
    diff; the plan still shows the broadcast-semi-restricted shape."""
    tbl, v1 = _mk_table(spark, tmp_root, mode="delta")
    tbl.compact()
    tbl.merge(
        _batch(
            spark,
            [
                ("U", 7, TS, "A", "purchase", 10.0),  # update A
                ("U", 8, TS, "E", "view", 5.0),  # insert E
            ],
        ),
        epoch_id=2,
        mode="delta",
        epoch_scope="t",
    )
    cur = tbl.current_version()
    ma, mb = tbl.manifest(v1), tbl.manifest(cur)
    cand = tbl._append_candidates(v1, cur, ma, mb)
    assert cand is not None
    added, _dropped, added_rows = cand
    assert added_rows == 5  # 3 (epoch 1) + 2 (epoch 2)
    assert all("-e1-" in p or "-e2-" in p for p in added), added
    expected = dict(EXPECTED, A=("update", "purchase", 10.0),
                    E=("insert", "view", 5.0))
    assert _changes_map(tbl.changes(v1)) == expected

    # naive diff (fast path disabled) agrees — the traversal is exact
    import unittest.mock as mock

    with mock.patch.object(
        type(tbl), "_append_candidates", return_value=None
    ):
        assert _changes_map(tbl.changes(v1)) == expected

    plan = tbl.changes(v1)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("LeftSemi") >= 2, plan
    assert "BroadcastHashJoin" in plan, plan


def test_changes_fast_path_across_rebucket(spark, tmp_root):
    """Rebucket is state-preserving too: append → rebucket → append keeps
    the fast path; post-rebucket delta files (hashed under the NEW bucket
    count) read fine as candidates."""
    tbl, v1 = _mk_table(spark, tmp_root, mode="delta")
    tbl.compact()  # rebucket requires folding anyway; keep chain realistic
    assert tbl.rebucket(8)["status"] == "Success"
    tbl.merge(
        _batch(spark, [("U", 9, TS, "F", "click", 6.0)]),
        epoch_id=3,
        mode="delta",
        epoch_scope="t",
    )
    cur = tbl.current_version()
    cand = tbl._append_candidates(
        v1, cur, tbl.manifest(v1), tbl.manifest(cur)
    )
    assert cand is not None
    expected = dict(EXPECTED, F=("insert", "click", 6.0))
    assert _changes_map(tbl.changes(v1)) == expected


def test_changes_cow_in_range_falls_back(spark, tmp_root):
    """A CoW merge rewrites base files with NEW state — its added files
    are not a change feed, so the traversal bails and the general diff
    runs (still exact)."""
    tbl, v1 = _mk_table(spark, tmp_root, mode="delta")
    tbl.merge(
        _batch(spark, [("U", 7, TS, "E", "view", 5.0)]),
        epoch_id=2,
        mode="cow",
        epoch_scope="t",
    )
    cur = tbl.current_version()
    assert (
        tbl._append_candidates(v1, cur, tbl.manifest(v1), tbl.manifest(cur))
        is None
    )
    expected = dict(EXPECTED, E=("insert", "view", 5.0))
    assert _changes_map(tbl.changes(v1)) == expected


def test_changes_vacuumed_candidate_falls_back(spark, tmp_root):
    """Pre-compaction delta files that vacuum collected disable the fast
    path (the existence LIST catches them) — the general diff over the
    still-live snapshots stays exact."""
    tbl, v1 = _mk_table(spark, tmp_root, mode="delta")
    tbl.compact()
    cur = tbl.current_version()
    ma, mb = tbl.manifest(v1), tbl.manifest(cur)
    added, _dropped, _ = tbl._append_candidates(v1, cur, ma, mb)
    # simulate vacuum collecting exactly the folded delta staging dirs
    for d in {p.split("/")[1] for p in added}:
        tbl.storage.delete_prefix(f"data/{d}")
    assert tbl._append_candidates(v1, cur, ma, mb) is None
    assert _changes_map(tbl.changes(v1)) == EXPECTED


def test_changes_schema_evolution_in_range(spark, tmp_root):
    tbl = ManifestTable.create(
        spark, tmp_root + "/tbl", PAYLOAD, key_cols=["user_key"], n_buckets=4
    )
    tbl.merge(
        _batch(spark, [("U", 1, TS, "A", "click", 1.0)]),
        epoch_id=0,
        mode="delta",
        epoch_scope="t",
    )
    v1 = tbl.current_version()
    evolved = _batch(spark, [("U", 2, TS, "A", "click", 1.0)]).withColumn(
        "channel", F.lit("web")
    )
    tbl.merge(evolved, epoch_id=1, mode="delta", epoch_scope="t")
    out = tbl.changes(v1).collect()
    # the only difference is the NEW column's backfill: an update whose
    # post-image carries it (the from-side read as null)
    assert len(out) == 1 and out[0]["_change_type"] == "update"
    assert out[0]["channel"] == "web"
    assert "channel" in tbl.changes(v1).columns


def test_changes_guards_and_empty(spark, tmp_root):
    tbl, v1 = _mk_table(spark, tmp_root)
    cur = tbl.current_version()
    assert tbl.changes(cur, cur).count() == 0
    with pytest.raises(ValueError, match="newer than"):
        tbl.changes(cur, v1)
