"""Engine-level watermark-bounded tombstone GC: the streaming tail's
``compact_purge_tombstone_lag`` knob derives the purge bound from the
table's OWN manifest stats (``max_event_ts`` — max observed event time,
Spark's streaming-watermark source read back from metadata) at every
auto-compaction, so a 24/7 delete-heavy binlog tail keeps its physical
size tracking its LIVE size with no operator in the loop.  The replay
still converges to the oracle: the lag IS the stream's lateness contract
(here lag 100 s > the generator's out-of-order radius ~50 s; segment
mtimes make the file source deliver in log order, so delivery skew stays
inside the lag — the same sizing rule withWatermark imposes), so no
legitimate event ever violates the advanced watermark.  The verbatim
re-delivered duplicate segment lands before the first purge and is a
max-version no-op.
"""

from __future__ import annotations

import datetime as dt
import os

from conftest import assert_pdf_equal
from pyspark.sql import functions as F

from event_driven_etl_msc_research_spark import CDCEngine
from event_driven_etl_msc_research_spark.datagen import (
    BASE_TS,
    ChangeStreamSpec,
    generate_change_stream,
)
from event_driven_etl_msc_research_spark.oracle import oracle_final_state
from event_driven_etl_msc_research_spark.schemas import (
    CHANGE_EVENT_SCHEMA_EVOLVED,
)

COLS = ["conv_id", "turn_idx", "role", "text", "tool", "tool_meta", "ts"]


def test_max_event_ts_reads_manifest_only(spark, tmp_root):
    """max_event_ts() = max observed event time, from manifest file stats
    with ZERO Spark jobs; None before any stats exist."""
    spec = ChangeStreamSpec(
        n_events=800, n_convs=30, segment_size=400, seed=31, dup_segments=()
    )
    wal = os.path.join(tmp_root, "wal_mts")
    generate_change_stream(wal, spec)
    eng = CDCEngine(
        spark,
        os.path.join(tmp_root, "tbl_mts"),
        change_schema=CHANGE_EVENT_SCHEMA_EVOLVED,
        n_buckets=4,
        merge_mode="delta",
    )
    assert eng.table.max_event_ts() is None  # empty table: no stats yet
    eng.replay(wal, os.path.join(tmp_root, "cp_mts"), timeout_s=600)

    sc = spark.sparkContext
    sc.setJobGroup("mts", "mts")
    hi = eng.table.max_event_ts()
    sc.setJobGroup("_idle", "_idle")
    assert len(sc.statusTracker().getJobIdsForGroup("mts")) == 0
    # ts = BASE_TS + lsn // ts_group; max lsn = n_events - 1
    want = BASE_TS + (spec.n_events - 1) // spec.ts_group
    assert hi == dt.datetime.fromtimestamp(want, tz=dt.timezone.utc)


def test_auto_purge_on_compaction_cadence(spark, tmp_root):
    """A delete-heavy tail with compact_every + compact_purge_tombstone_lag:
    converges to the oracle, the lateness watermark self-advances, and
    every physically retained tombstone is newer than (max ts − lag) as of
    the last auto-compaction — dead rows stop accumulating."""
    spec = ChangeStreamSpec(
        n_events=4_000,
        n_convs=60,
        segment_size=400,  # 10 segments → 10 epochs → 3 auto-compactions
        seed=101,
        delete_frac=0.3,
        hot_frac=0.3,
    )
    wal = os.path.join(tmp_root, "wal_gc")
    generate_change_stream(wal, spec)

    tbl = os.path.join(tmp_root, "tbl_gc")
    lag = 100.0  # seconds of event time; stream spans ~1000 s, ooo ~50 s
    eng = CDCEngine(
        spark,
        tbl,
        change_schema=CHANGE_EVENT_SCHEMA_EVOLVED,
        n_buckets=8,
        merge_mode="delta",
        compact_every=3,
        compact_purge_tombstone_lag=lag,
        vacuum_grace_s=0,
    )
    eng.replay(wal, os.path.join(tmp_root, "cp_gc"),
               max_files_per_trigger=1, timeout_s=900)

    # the purge commits advanced the watermark with no operator in the loop
    from event_driven_etl_msc_research_spark.sinks.manifest import (
        _stat_from_json,
    )

    m = eng.table.manifest()
    wm = m.get("lateness_ts")
    assert wm is not None
    wm = _stat_from_json(wm)
    hi = eng.table.max_event_ts()
    # watermark = (max ts as of the LAST auto-compaction) − lag: at least
    # one compaction behind the final max, never ahead of it (segments
    # span segment_size/ts_group = 100 s of event time; the last auto-
    # compaction runs ≤4 segments before the end of the 11-file stream)
    assert wm <= hi - dt.timedelta(seconds=lag)
    assert wm >= hi - dt.timedelta(seconds=lag + 400)

    # final state == oracle despite purges + the duplicate segment
    got = eng.read_table().orderBy("conv_id", "turn_idx").toPandas()
    assert_pdf_equal(got, oracle_final_state(spec), COLS)
    assert eng.table.count() == len(got)

    # tombstone census from the physical base files: everything older than
    # the advanced watermark was GC'd (delta files may hold newer ones
    # pending the next fold — the bound applies to what compaction kept)
    paths = [eng.table._spath(p) for ps in m["files"].values() for p in ps]
    kept = (
        spark.read.parquet(*paths)
        .filter(F.coalesce(F.col("_deleted"), F.lit(False)))
        .agg(
            F.count("*").alias("n"),
            F.min("ts").alias("oldest"),
        )
        .first()
    )
    if kept["n"]:
        assert kept["oldest"].replace(tzinfo=dt.timezone.utc) >= wm

    # and a violating late upsert (pre-watermark, older than any purged
    # tombstone could block) is dropped by the enforced contract
    zombie_ts = BASE_TS + 1
    late = spark.createDataFrame(
        [("U", 999_999, dt.datetime.fromtimestamp(zombie_ts, tz=dt.timezone.utc),
          "conv000000", 0, "user", "zombie", None, None)],
        CHANGE_EVENT_SCHEMA_EVOLVED,
    )
    eng.table.merge(late, epoch_id=10_001, mode="delta")
    assert eng.read_table().filter(F.col("text") == "zombie").count() == 0
