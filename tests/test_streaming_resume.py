"""Resumability + chaos: kill mid-replay, restart from checkpoint, converge
(SURVEY.md §5.3; replaces the reference's Retry/Catch/compensation machinery,
prototype-etl.json:15-24,61-69)."""

from __future__ import annotations

import contextlib
import os
import threading
import time

import pytest
from conftest import assert_pdf_equal
from pyspark.errors import StreamingQueryException

from event_driven_etl_msc_research_spark import CDCEngine
from event_driven_etl_msc_research_spark.datagen import (
    ChangeStreamSpec,
    generate_change_stream,
)
from event_driven_etl_msc_research_spark.oracle import oracle_final_state
from event_driven_etl_msc_research_spark.schemas import CHANGE_EVENT_SCHEMA_EVOLVED

COLS = ["conv_id", "turn_idx", "role", "text", "tool", "tool_meta", "ts"]

SPEC = ChangeStreamSpec(
    n_events=6_000, n_convs=100, segment_size=500, seed=9, dup_segments=(2,)
)


def _dirs(tmp_root):
    return (
        os.path.join(tmp_root, "log"),
        os.path.join(tmp_root, "table"),
        os.path.join(tmp_root, "cp"),
    )


def test_stop_and_resume_from_checkpoint(spark, tmp_root):
    log, tbl, cp = _dirs(tmp_root)
    generate_change_stream(log, SPEC)
    eng = CDCEngine(spark, tbl, change_schema=CHANGE_EVENT_SCHEMA_EVOLVED, n_buckets=8)

    # phase 1: drain one segment per micro-batch and stop at a fixed point:
    # epochs 0-1 commit, epoch 2 is held until q.stop() has marked the
    # query inactive and then fails, so Spark never commits its offsets
    # (stop() waits for the running batch, so the hold must end by itself)
    apply_batch = eng.apply_batch
    holding = threading.Event()
    query = {}

    def apply_until_stopped(batch_df, epoch_id):
        if epoch_id < 2:
            return apply_batch(batch_df, epoch_id)
        holding.set()
        deadline = time.monotonic() + 120
        while time.monotonic() < deadline and (
            "q" not in query or query["q"].isActive
        ):
            time.sleep(0.05)
        raise RuntimeError(f"query stopped before epoch {epoch_id}")

    eng.apply_batch = apply_until_stopped  # shadows the method foreachBatch binds
    q = query["q"] = eng.replay(log, cp, max_files_per_trigger=1, timeout_s=0.001)
    assert holding.wait(120)
    q.stop()
    with contextlib.suppress(StreamingQueryException):
        q.awaitTermination(30)
    v_mid = eng.table.current_version()
    assert 2 <= v_mid < 13  # stopped mid-replay, some epochs committed

    # phase 2: restart with the SAME checkpoint → drains the rest exactly once
    eng2 = CDCEngine(spark, tbl, change_schema=CHANGE_EVENT_SCHEMA_EVOLVED, n_buckets=8)
    eng2.replay(log, cp, max_files_per_trigger=4)
    got = eng2.read_table().orderBy("conv_id", "turn_idx").toPandas()
    assert_pdf_equal(got, oracle_final_state(SPEC), COLS)


def test_crash_between_stage_and_publish_then_resume(spark, tmp_root):
    """The hard crash point: staging files written, manifest NOT published.
    Restart must re-run the epoch and converge — no duplicates, no loss."""
    log, tbl, cp = _dirs(tmp_root)
    generate_change_stream(log, SPEC)

    chaos = CDCEngine(
        spark,
        tbl,
        change_schema=CHANGE_EVENT_SCHEMA_EVOLVED,
        n_buckets=8,
        fail_after_stage_write=True,
    )
    q = chaos.replay(log, cp, max_files_per_trigger=4, timeout_s=0.001)
    with pytest.raises(Exception):
        q.awaitTermination()
    assert chaos.table.current_version() == 0  # nothing ever published
    data_dir = os.path.join(tbl, "data")
    orphans = set(os.listdir(data_dir))
    assert orphans  # the crashed attempt DID stage files

    # recovery engine with an aggressive auto-vacuum cadence: the engine
    # itself (not a manual call) must GC the crashed attempt's staging dirs
    eng = CDCEngine(
        spark,
        tbl,
        change_schema=CHANGE_EVENT_SCHEMA_EVOLVED,
        n_buckets=8,
        vacuum_keep_versions=1,
        vacuum_grace_s=0,  # single-writer test: eager GC, no grace window
    )
    eng.replay(log, cp, max_files_per_trigger=4)
    got = eng.read_table().orderBy("conv_id", "turn_idx").toPandas()
    assert_pdf_equal(got, oracle_final_state(SPEC), COLS)
    # failed epoch left a Failed lineage row AND a re-run Success row
    lin = eng.lineage.lineage().toPandas()
    assert (lin["status"] == "Failed").any()
    assert (lin["status"] == "Success").any()
    # auto-vacuum ran (lineage row) and removed every orphaned staging dir
    assert (lin["stage"] == "vacuum").any()
    assert not (orphans & set(os.listdir(data_dir)))
    got2 = eng.read_table().orderBy("conv_id", "turn_idx").toPandas()
    assert_pdf_equal(got2, oracle_final_state(SPEC), COLS)
