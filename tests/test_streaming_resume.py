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


_CP_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"


def _checkpoint_manager(session) -> str:
    """Class name of the checkpoint file manager ``session``'s streaming
    queries build."""
    jvm = session._jvm
    return (
        jvm.org.apache.spark.sql.execution.streaming.checkpointing
        .CheckpointFileManager.create(
            jvm.org.apache.hadoop.fs.Path("file:/"),
            session._jsparkSession.sessionState().newHadoopConf(),
        )
        .getClass()
        .getSimpleName()
    )


@pytest.mark.parametrize("first", ["spark_default", "get_spark"])
def test_checkpoint_resumes_across_checkpoint_managers(spark, tmp_root, first):
    """``get_spark`` points local sessions' checkpoints at Spark's
    FileSystem-based manager (no forked ``readlink`` per rename); Spark's
    default is the FileContext-based one.  A checkpoint written under
    either resumes under the other: the rest of the log drains exactly
    once, a re-replay under either session applies nothing, and the
    table equals the oracle."""
    default = spark.newSession()
    default.conf.unset(_CP_MANAGER)
    sessions = {"spark_default": default, "get_spark": spark}
    assert _checkpoint_manager(default) == "FileContextBasedCheckpointFileManager"
    assert _checkpoint_manager(spark) == "FileSystemBasedCheckpointFileManager"
    then = sessions["get_spark" if first == "spark_default" else "spark_default"]

    log, tbl, cp = _dirs(tmp_root)
    spec = ChangeStreamSpec(
        n_events=2_000, n_convs=60, segment_size=250, seed=12, dup_segments=(1,)
    )
    segs = generate_change_stream(os.path.join(tmp_root, "src"), spec).segment_paths
    os.makedirs(log)

    def deliver(paths):
        for p in paths:  # a rename keeps the log-order mtimes
            os.replace(p, os.path.join(log, os.path.basename(p)))

    def replay(session):
        eng = CDCEngine(
            session, tbl, change_schema=CHANGE_EVENT_SCHEMA_EVOLVED, n_buckets=8
        )
        eng.replay(log, cp, max_files_per_trigger=2)
        return eng

    deliver(segs[:4])
    assert replay(sessions[first]).table.current_version() == 2
    deliver(segs[4:])
    # the other 5 segments, 2 per trigger
    assert replay(then).table.current_version() == 5
    assert replay(sessions[first]).table.current_version() == 5
    eng = replay(then)
    assert eng.table.current_version() == 5
    got = eng.read_table().orderBy("conv_id", "turn_idx").toPandas()
    assert_pdf_equal(got, oracle_final_state(spec), COLS)


def _sidecars(*roots) -> list[str]:
    """Hadoop ``.crc`` checksum files and ``_SUCCESS`` markers under
    ``roots``."""
    return sorted(
        os.path.join(d, f)
        for root in roots
        for d, _, files in os.walk(root)
        for f in files
        if f.endswith(".crc") or f == "_SUCCESS"
    )


def test_get_spark_writes_no_crc_or_success_files(spark, tmp_root):
    """``get_spark`` stops Hadoop writing ``.crc`` sidecars and
    ``_SUCCESS`` markers on local masters: none under the table (staged
    deltas and compactions) or the checkpoint after a replay."""
    log, tbl, cp = _dirs(tmp_root)
    spec = ChangeStreamSpec(
        n_events=1_000, n_convs=40, segment_size=250, seed=13
    )
    generate_change_stream(log, spec)
    eng = CDCEngine(
        spark, tbl, change_schema=CHANGE_EVENT_SCHEMA_EVOLVED, n_buckets=4,
        merge_mode="delta", compact_every=2,
    )
    eng.replay(log, cp, max_files_per_trigger=1)
    t = eng.table
    assert any(
        t.manifest(v)["epoch_id"].startswith("compact:")
        for v in range(1, t.current_version() + 1)
    )
    assert _sidecars(tbl, cp) == []
    got = eng.read_table().orderBy("conv_id", "turn_idx").toPandas()
    assert_pdf_equal(got, oracle_final_state(spec), COLS)


def test_checkpoint_with_crc_files_resumes_under_get_spark(spark, tmp_root):
    """A checkpoint and table begun under Hadoop's default checksummed
    ``LocalFileSystem`` (``.crc`` sidecars, ``_SUCCESS`` markers) resume
    under ``get_spark``'s ``RawLocalFileSystem``, which lists the
    sidecars as plain files: the rest of the log drains exactly once, a
    re-replay applies nothing, and the table equals the oracle."""
    default = spark.newSession()
    for k, v in {
        "fs.file.impl": "org.apache.hadoop.fs.LocalFileSystem",
        # Hadoop caches one FileSystem per scheme: build this session's own
        "fs.file.impl.disable.cache": "true",
        "mapreduce.fileoutputcommitter.marksuccessfuljobs": "true",
    }.items():
        default.conf.set(k, v)
    log, tbl, cp = _dirs(tmp_root)
    spec = ChangeStreamSpec(
        n_events=2_000, n_convs=60, segment_size=250, seed=12, dup_segments=(1,)
    )
    segs = generate_change_stream(os.path.join(tmp_root, "src"), spec).segment_paths
    os.makedirs(log)

    def deliver(paths):
        for p in paths:  # a rename keeps the log-order mtimes
            os.replace(p, os.path.join(log, os.path.basename(p)))

    def replay(session):
        eng = CDCEngine(
            session, tbl, change_schema=CHANGE_EVENT_SCHEMA_EVOLVED, n_buckets=8
        )
        eng.replay(log, cp, max_files_per_trigger=2)
        return eng

    deliver(segs[:4])
    assert replay(default).table.current_version() == 2
    before = _sidecars(tbl, cp)
    assert any(p.startswith(cp) for p in before)
    assert any(p.endswith("_SUCCESS") for p in before)
    deliver(segs[4:])
    assert replay(spark).table.current_version() == 5
    eng = replay(spark)
    assert eng.table.current_version() == 5
    assert _sidecars(tbl, cp) == before  # none added
    got = eng.read_table().orderBy("conv_id", "turn_idx").toPandas()
    assert_pdf_equal(got, oracle_final_state(spec), COLS)


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
