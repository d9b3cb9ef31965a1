"""Metadata-only ``ManifestTable.count()`` and watermark-bounded tombstone
GC (``compact(purge_tombstones_before=)``).

At 10^10 rows ``SELECT COUNT(*)`` must not be a cluster scan: a delta-free
table answers from the manifest's per-file ``::rows``/``::dead`` stats with
ZERO Spark jobs (asserted via job groups below).  Tombstones, which the
per-key max-version rule otherwise retains forever, are GC'd at compaction
under the caller's lateness watermark — the physical table tracks its LIVE
size instead of growing with every delete.  Parameterized over both storage
backends.
"""

from __future__ import annotations

import datetime as _dt
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from event_driven_etl_msc_research_spark.schemas import TRANSCRIPT_SCHEMA
from event_driven_etl_msc_research_spark.sinks.manifest import ManifestTable


def _batch(spark, rows):
    cols = ["op", "lsn", "ts", "conv_id", "turn_idx", "role", "text", "tool"]
    pdf = pd.DataFrame(rows, columns=cols)
    pdf["ts"] = pd.to_datetime(pdf["ts"], unit="s", utc=True)
    return spark.createDataFrame(
        pdf,
        T.StructType(
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
        ),
    )


def _rows(n, ts0=1000):
    return [
        ("U", 10 + i, ts0 + i, f"c{i % 4}", i // 4, "user", f"text-{i}", None)
        for i in range(n)
    ]


def _jobs_in(spark, tag, fn):
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    r = fn()
    sc.setJobGroup("_idle", "_idle")
    return len(sc.statusTracker().getJobIdsForGroup(tag)), r


@pytest.fixture()
def table(spark, tmp_root, storage_factory):
    root = os.path.join(tmp_root, "count_tbl")
    t = ManifestTable.create(
        spark, root, TRANSCRIPT_SCHEMA, n_buckets=2, storage=storage_factory(root)
    )
    t.merge(_batch(spark, _rows(12)), 0, mode="delta")
    return t


def test_count_tracks_read_through_lifecycle(spark, table):
    """count() == read().count() at every table state: fresh deltas, after
    deletes, after compaction, after CoW, with time travel."""
    assert table.count() == table.read().count() == 12

    table.delete_where("conv_id = 'c1'", epoch_id=1)
    assert table.count() == table.read().count() == 9

    v_before_compact = table.current_version()
    table.compact()
    assert table.count() == table.read().count() == 9
    # time travel still counts the OLD snapshot exactly
    assert (
        table.count(version=v_before_compact)
        == table.read(version=v_before_compact).count()
        == 9
    )

    # CoW merge: upserts keys (c0..c3, 0) with NEWER ts — (c1, 0) outranks
    # its tombstone and resurrects, so 9 live keys become 10
    table.merge(_batch(spark, _rows(4, ts0=2000)), 2, mode="cow")
    assert table.count() == table.read().count() == 10
    table.merge(
        _batch(
            spark,
            [("U", 99, 3000, "newkey", 0, "user", "fresh", None)],
        ),
        3,
        mode="delta",
    )
    assert table.count() == table.read().count() == 11


def test_count_is_job_free_when_clean(spark, tmp_root, storage_factory):
    """A delta-free, delete-free table answers count() with ZERO Spark jobs
    — a pure driver sum over manifest stats (tier 1)."""
    root = os.path.join(tmp_root, "count_clean")
    t = ManifestTable.create(
        spark, root, TRANSCRIPT_SCHEMA, n_buckets=2, storage=storage_factory(root)
    )
    t.merge(_batch(spark, _rows(10)), 0, mode="cow")  # CoW: base files only
    t2 = ManifestTable(spark, root, storage=t.storage)  # cold handle
    jobs, n = _jobs_in(spark, "count_clean", lambda: t2.count())
    assert n == 10
    assert jobs == 0, f"expected metadata-only count, saw {jobs} jobs"


def test_count_after_purged_compaction_is_job_free(spark, table):
    """Deletes make compacted files mixed (tombstones retained → footer
    can't prove ::dead) — but a watermark-purged compaction restores the
    all-live shape and count() returns to tier 1 (zero jobs)."""
    table.delete_where("conv_id = 'c2'", epoch_id=1)
    # purge bound: above every row's event-time → all tombstones GC'd
    table.compact(purge_tombstones_before=5000)
    m = table.manifest()
    assert not any((m.get("delta_files") or {}).values())
    # every file proves ::dead == 0 in the manifest
    for ps in m["files"].values():
        for p in ps:
            st = (m.get("file_stats") or {}).get(p) or {}
            assert st.get("::dead") == [0], (p, st)
    jobs, n = _jobs_in(spark, "count_purged", lambda: table.count())
    assert n == table.read().count() == 9
    assert jobs == 0, f"expected metadata-only count, saw {jobs} jobs"


def test_purge_respects_watermark_bound(spark, table):
    """Only tombstones with ts < W are GC'd; newer ones are RETAINED and
    still block the late older updates they exist to beat."""
    # two deletes: conv c1 rows carry ts 1001/1005/1009 (+1 for tombstone
    # stamping is same-ts, lsn+1); delete c3 similarly
    table.delete_where("conv_id = 'c1'", epoch_id=1)
    table.delete_where("conv_id = 'c3'", epoch_id=2)
    # W between: purge only tombstones with ts < 1007
    table.compact(purge_tombstones_before=1007)
    # read() hides tombstone rows even with include_internal; inspect the
    # physical base files to see which tombstones survived the purge
    m = table.manifest()
    paths = [table._spath(p) for ps in m["files"].values() for p in ps]
    physical = spark.read.parquet(*paths)
    kept = physical.filter(F.coalesce(F.col("_deleted"), F.lit(False)))
    kept_ts = [r["ts"].timestamp() for r in kept.collect()]
    assert kept_ts and all(ts >= 1007 for ts in kept_ts)
    # live state unchanged by the purge
    assert table.count() == table.read().count() == 6

    # a retained tombstone still blocks a late OLDER update (and the
    # advanced watermark would drop it anyway)
    late = _batch(
        spark, [("U", 5, 1005, "c3", 1, "user", "stale-resurrect", None)]
    )
    table.merge(late, 3, mode="delta")
    assert (
        table.read().filter(F.col("text") == "stale-resurrect").count() == 0
    )

    # a PURGED tombstone's key cannot resurrect either: the purge advanced
    # the table's retention watermark to W, so merge drops the violating
    # pre-W upsert — enforcement, not trust (c1,0)'s ts-1001 tombstone was
    # purged above
    purged_key_late = _batch(
        spark, [("U", 500, 1001, "c1", 0, "user", "zombie", None)]
    )
    table.merge(purged_key_late, 4, mode="delta")
    assert table.read().filter(F.col("text") == "zombie").count() == 0
    # while a contract-respecting NEW event for the same key lands fine
    fresh = _batch(
        spark, [("U", 501, 2001, "c1", 0, "user", "reborn", None)]
    )
    table.merge(fresh, 5, mode="delta")
    assert table.read().filter(F.col("text") == "reborn").count() == 1


def test_purge_is_state_preserving_for_changes(spark, table):
    """The purged compaction stays a ``compact:`` commit: the change feed
    across it is empty and a spanning range stays on the fast path."""
    v0 = table.current_version()
    table.delete_where("conv_id = 'c0'", epoch_id=1)
    v1 = table.current_version()
    table.compact(purge_tombstones_before=10_000)
    v2 = table.current_version()
    assert table.changes(v1, v2).count() == 0
    # spanning range = exactly the delete's net changes
    ch = table.changes(v0, v2)
    assert ch.filter(F.col("_change_type") == "delete").count() == 3
    assert ch.count() == 3


def test_count_mixed_files_fall_back_exactly(spark, table):
    """An UNPURGED compaction leaves mixed files (retained tombstones);
    count() must still be exact via the probe/scan tiers."""
    table.delete_where("conv_id = 'c0'", epoch_id=1)
    table.compact()  # tombstones retained → some files mixed
    assert table.count() == table.read().count() == 9


def test_count_of_mixed_files_opens_no_footer(spark, tmp_root):
    """A file whose harvested stats hold no ``::dead`` (a row group mixing
    live and tombstone rows) has a footer that proves no more, so count()
    sends it straight to the scan tier without opening it; min_max()
    likewise opens only files whose stats lack the column.  Both still
    equal a Spark aggregate."""
    from test_head_hint import CountingStorage

    root = os.path.join(tmp_root, "mixed")
    st = CountingStorage(root)
    t = ManifestTable.create(spark, root, TRANSCRIPT_SCHEMA, n_buckets=2, storage=st)
    t.merge(_batch(spark, _rows(12)), 0, mode="delta")
    t.delete_where("conv_id = 'c0'", epoch_id=1)
    t.compact()  # tombstones retained → mixed files
    m = t.manifest()
    mixed = [p for ps in m["files"].values() for p in ps
             if "::dead" not in m["file_stats"][p]]
    assert mixed
    st.calls.clear()
    assert t.count() == t.read().count() == 9
    assert t.min_max("turn_idx") == _agg_mm(t.read(), "turn_idx")
    assert t.min_max("text") == _agg_mm(t.read(), "text")
    assert not [c for c in st.calls if c[0] == "open_input"]


def _mm(table, col):
    """min_max normalized to naive-UTC for comparison with Spark collects."""
    lo, hi = table.min_max(col)
    strip = lambda v: v.replace(tzinfo=None) if hasattr(v, "tzinfo") else v
    return strip(lo), strip(hi)


def _agg_mm(df, col):
    r = df.agg(F.min(col).alias("l"), F.max(col).alias("h")).first()
    return r["l"], r["h"]


def test_min_max_job_free_when_clean(spark, tmp_root, storage_factory):
    """A delta-free, delete-free table answers min_max() from the manifest
    with ZERO Spark jobs, for both a numeric and a timestamp column."""
    root = os.path.join(tmp_root, "mm_clean")
    t = ManifestTable.create(
        spark, root, TRANSCRIPT_SCHEMA, n_buckets=2, storage=storage_factory(root)
    )
    t.merge(_batch(spark, _rows(10)), 0, mode="cow")
    t2 = ManifestTable(spark, root, storage=t.storage)  # cold handle
    jobs, got = _jobs_in(
        spark, "mm_clean", lambda: (t2.min_max("turn_idx"), t2.min_max("ts"))
    )
    assert jobs == 0, f"expected metadata-only min_max, saw {jobs} jobs"
    (lo_t, hi_t), (lo_ts, hi_ts) = got
    assert (lo_t, hi_t) == _agg_mm(t.read(), "turn_idx") == (0, 2)
    exp_lo, exp_hi = _agg_mm(t.read(), "ts")
    assert (lo_ts.replace(tzinfo=None), hi_ts.replace(tzinfo=None)) == (
        exp_lo,
        exp_hi,
    )


def test_min_max_tracks_read_through_lifecycle(spark, table):
    """min_max() == the read-side aggregate at every table state — deltas
    (MOR tier), tombstones retained (scan tier), purged (manifest tier),
    time travel."""
    assert _mm(table, "ts") == _agg_mm(table.read(), "ts")
    v0 = table.current_version()

    table.delete_where("conv_id = 'c3'", epoch_id=1)  # kills max ts 1011
    assert _mm(table, "ts") == _agg_mm(table.read(), "ts")

    table.compact()  # tombstones retained: dead ts 1011 must NOT surface
    got = _mm(table, "ts")
    assert got == _agg_mm(table.read(), "ts")
    assert got[1].timestamp() == 1010

    table.compact(min_delta_files=0, purge_tombstones_before=5000)
    assert _mm(table, "ts") == _agg_mm(table.read(), "ts")
    assert _mm(table, "turn_idx") == _agg_mm(table.read(), "turn_idx")
    # time travel still answers for the pre-delete snapshot
    lo, hi = table.min_max("ts", version=v0)
    assert hi.timestamp() == 1011
    assert table.min_max("ts", version=v0) == tuple(
        v.replace(tzinfo=_dt.timezone.utc)
        for v in _agg_mm(table.read(version=v0), "ts")
    )


def test_min_max_string_and_null_columns(spark, table):
    """Strings are exact via the scan tier (footer stats may be truncated
    BOUNDS, not values); an all-null column returns (None, None); a column
    added later null-fills old files and folds only real values."""
    assert table.min_max("text") == _agg_mm(table.read(), "text")
    assert table.min_max("tool") == (None, None)  # all-null payload
    table.add_column("score", "double")
    assert table.min_max("score") == (None, None)
    table.merge(
        _batch_with_score(spark, [("U", 99, 3000, "c9", 0, 2.5)]),
        epoch_id=7,
        mode="delta",
    )
    table.compact()
    assert table.min_max("score") == (2.5, 2.5)

    import pytest as _pt

    with _pt.raises(ValueError):
        table.min_max("nope")
    with _pt.raises(ValueError):
        table.min_max("ts", version=0, tag="x")


def test_min_max_double_with_nan_matches_spark(spark, table):
    """Parquet min/max skip NaN, but Spark orders NaN above every number:
    on a delta-free table holding a NaN, min_max() must still equal the
    read-side aggregate (max = NaN), not the footer's NaN-blind range."""
    import math

    table.add_column("score", "double")
    ts = lambda s: _dt.datetime.fromtimestamp(s, _dt.timezone.utc)
    rows = [
        ("U", 99, ts(3000), "c9", 0, 2.5),
        ("U", 100, ts(3001), "c8", 0, float("nan")),
        ("U", 101, ts(3002), "c7", 0, -1.0),
    ]
    table.merge(
        spark.createDataFrame(rows, _batch_with_score(spark, []).schema),
        epoch_id=7,
        mode="delta",
    )
    table.compact(min_delta_files=0)
    lo, hi = table.min_max("score")
    exp_lo, exp_hi = _agg_mm(table.read(), "score")
    assert lo == exp_lo == -1.0
    assert math.isnan(exp_hi) and math.isnan(hi)


def _batch_with_score(spark, rows):
    pdf = pd.DataFrame(
        rows, columns=["op", "lsn", "ts", "conv_id", "turn_idx", "score"]
    )
    pdf["ts"] = pd.to_datetime(pdf["ts"], unit="s", utc=True)
    return spark.createDataFrame(
        pdf,
        T.StructType(
            [
                T.StructField("op", T.StringType()),
                T.StructField("lsn", T.LongType()),
                T.StructField("ts", T.TimestampType()),
                T.StructField("conv_id", T.StringType()),
                T.StructField("turn_idx", T.IntegerType()),
                T.StructField("score", T.DoubleType()),
            ]
        ),
    )
