"""Continuous tail mode: segments appended to the WAL WHILE the query runs
are picked up by subsequent micro-batches — the live binlog-tail behavior
(vs. the drain-and-stop AvailableNow replay covered elsewhere)."""

from __future__ import annotations

import os
import shutil
import time

from conftest import assert_pdf_equal

from event_driven_etl_msc_research_spark import CDCEngine
from event_driven_etl_msc_research_spark.datagen import (
    ChangeStreamSpec,
    generate_change_stream,
)
from event_driven_etl_msc_research_spark.oracle import oracle_final_state
from event_driven_etl_msc_research_spark.schemas import CHANGE_EVENT_SCHEMA_EVOLVED

COLS = ["conv_id", "turn_idx", "role", "text", "tool", "tool_meta", "ts"]

SPEC = ChangeStreamSpec(
    n_events=4_000, n_convs=60, segment_size=500, seed=21, dup_segments=(1,)
)


def test_tail_picks_up_live_appends(spark, tmp_root):
    staging = os.path.join(tmp_root, "staging")
    live = os.path.join(tmp_root, "wal")
    gen = generate_change_stream(staging, SPEC)
    os.makedirs(live)
    # seed the WAL with the first half of the segments
    half = len(gen.segment_paths) // 2
    for p in gen.segment_paths[:half]:
        shutil.copy(p, live)

    eng = CDCEngine(
        spark, os.path.join(tmp_root, "table"),
        change_schema=CHANGE_EVENT_SCHEMA_EVOLVED, n_buckets=8,
    )
    q = eng.replay(
        live, os.path.join(tmp_root, "cp"),
        available_now=False, processing_time="1 seconds",
        max_files_per_trigger=4,
    )
    try:
        deadline = time.monotonic() + 120
        while time.monotonic() < deadline and not eng.table.current_version():
            time.sleep(0.3)
        assert eng.table.current_version() >= 1  # first half committed

        # append the rest WHILE the tail runs (atomic per-file publish, the
        # reference's raw-zone drop semantics)
        for p in gen.segment_paths[half:]:
            shutil.copy(p, live)
        target_rows = len(oracle_final_state(SPEC))
        while time.monotonic() < deadline:
            if eng.read_table().count() == target_rows:
                break
            time.sleep(0.5)
    finally:
        q.stop()
        q.awaitTermination(30)
        eng.lineage.flush()

    got = eng.read_table().orderBy("conv_id", "turn_idx").toPandas()
    assert_pdf_equal(got, oracle_final_state(SPEC), COLS)
    # multiple epochs committed — the appends arrived in later micro-batches
    lin = eng.lineage.lineage().toPandas()
    assert (lin["stage"] == "merge").sum() >= 2


def test_tail_event_dedup_drops_cross_epoch_redelivery(spark, tmp_root):
    """Opt-in event-level dedup (CDCEngine(event_dedup=...)): an
    at-least-once transport redelivers whole segments mid-stream UNDER NEW
    FILE NAMES (the file source dedups by name, so same-name copies would
    never even be read).  The stateful dropDuplicatesWithinWatermark pass
    must drop the redelivered events BEFORE the merge — final state equals
    the oracle AND the total merged change-keys never exceeds the unique
    event count (without the pass, duplicates re-merge as no-op updates and
    the count roughly doubles)."""
    import json

    spec = ChangeStreamSpec(
        n_events=3_000, n_convs=40, segment_size=500, seed=33
    )
    staging = os.path.join(tmp_root, "staging2")
    live = os.path.join(tmp_root, "wal2")
    gen = generate_change_stream(staging, spec)
    os.makedirs(live)
    half = len(gen.segment_paths) // 2
    for p in gen.segment_paths[:half]:
        shutil.copy(p, live)

    eng = CDCEngine(
        spark, os.path.join(tmp_root, "table2"),
        change_schema=CHANGE_EVENT_SCHEMA_EVOLVED, n_buckets=8,
        event_dedup="365 days",  # generous: every test event stays in state
    )
    q = eng.replay(
        live, os.path.join(tmp_root, "cp2"),
        available_now=False, processing_time="1 seconds",
        max_files_per_trigger=4,
    )
    try:
        deadline = time.monotonic() + 120
        while time.monotonic() < deadline and not eng.table.current_version():
            time.sleep(0.3)
        # redeliver the first half under new names + append the second half
        for i, p in enumerate(gen.segment_paths[:half]):
            shutil.copy(p, os.path.join(live, f"redelivered-{i:04d}.json"))
        for p in gen.segment_paths[half:]:
            shutil.copy(p, live)
        target_rows = len(oracle_final_state(spec))
        while time.monotonic() < deadline:
            if eng.read_table().count() == target_rows:
                break
            time.sleep(0.5)
    finally:
        q.stop()
        q.awaitTermination(30)
        eng.lineage.flush()

    got = eng.read_table().orderBy("conv_id", "turn_idx").toPandas()
    assert_pdf_equal(got, oracle_final_state(spec), COLS)

    merged_keys = 0
    lin = eng.lineage.lineage().toPandas()
    ok = lin[(lin["stage"] == "merge") & (lin["status"] == "Success")]
    for d in ok["detail"].dropna():
        # Failed rows carry exception reprs, not JSON objects — a transient
        # epoch failure is the engine's normal checkpoint-retry path and is
        # excluded here (final-state equality above already proves recovery)
        stats = json.loads(d)
        if stats.get("status") == "Success":
            merged_keys += int(stats.get("n_change_keys") or 0)
    # unique (conv_id, turn_idx, lsn) events <= n_events; redelivered copies
    # must NOT re-merge.  (Per-epoch within-batch dedup means merged_keys
    # counts keys per epoch, so it is <= total unique events.)
    assert merged_keys <= spec.n_events
