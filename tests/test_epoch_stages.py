"""The per-epoch stage runner (`CDCEngine._run`): every stage the tail runs
for an epoch writes exactly one lineage row under its own name, whose
``detail`` is JSON, and keeps its failure contract — quarantine, merge,
compact, history and history_compact abort the epoch; vacuum,
lineage_compact and mv_sync record the failure and ingest continues.

Failures are injected the way `test_live_tail.py`/`test_streaming_resume.py`
do: a failing callable swapped onto the instance attribute the engine looks
up at call time.  The last test runs a whole tail on the fake object store:
lineage then lives only in objects that went through ``put_if_absent``.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from event_driven_etl_msc_research_spark.datagen import (
    ChangeStreamSpec,
    generate_change_stream,
)
from event_driven_etl_msc_research_spark.schemas import CHANGE_EVENT_SCHEMA_EVOLVED
from event_driven_etl_msc_research_spark.sinks.derived import DerivedTable
from event_driven_etl_msc_research_spark.sinks.scd2 import SCD2Table
from event_driven_etl_msc_research_spark.sinks.storage import FakeObjectStorage
from event_driven_etl_msc_research_spark.streaming.engine import CDCEngine

KEYS = ["conv_id", "turn_idx"]
SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType()),
        T.StructField("lsn", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
    ]
)


def _batch(spark, epoch):
    return spark.createDataFrame(
        [
            ("U", 10 * epoch + i, f"2024-01-01 00:00:{epoch:02d}", f"c{i}",
             epoch, "user", f"t{epoch}-{i}")
            for i in range(4)
        ],
        "op string, lsn long, ts string, conv_id string, turn_idx int, "
        "role string, text string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def _boom(*_a, **_k):
    raise RuntimeError("injected stage failure")


def _break_compact(spark, root, eng):
    eng.table.compact = _boom


def _break_history(spark, root, eng):
    h = SCD2Table.create(
        spark, f"{root}/h", T.StructType(SCHEMA.fields[2:]), key_cols=KEYS,
        n_buckets=2,
    )
    eng.register_history(h)
    h.apply = _boom


def _break_vacuum(spark, root, eng):
    eng.table.vacuum = _boom


def _break_lineage_compact(spark, root, eng):
    eng.lineage.compact = _boom


def _break_mv_sync(spark, root, eng):
    mv = DerivedTable.create(
        spark, f"{root}/mv", eng.table, ["conv_id"], {"n": "count(1)"},
        n_buckets=2,
    )
    eng.register_derived(mv)
    mv.sync = _boom


# stage -> (break it, does its failure abort the epoch)
STAGES = {
    "compact": (_break_compact, True),
    "history": (_break_history, True),
    "vacuum": (_break_vacuum, False),
    "lineage_compact": (_break_lineage_compact, False),
    "mv_sync": (_break_mv_sync, False),
}


@pytest.mark.parametrize("stage", list(STAGES))
def test_failed_stage_recorded_once_under_its_name(spark, tmp_root, stage):
    brk, critical = STAGES[stage]
    eng = CDCEngine(
        spark, f"{tmp_root}/t", change_schema=SCHEMA, key_cols=KEYS,
        n_buckets=2, merge_mode="delta", compact_every=1,
        vacuum_keep_versions=1, vacuum_grace_s=0,
    )
    brk(spark, tmp_root, eng)
    if critical:
        with pytest.raises(RuntimeError, match="injected"):
            eng.apply_batch(_batch(spark, 0), 0)
        epochs = [0]
    else:
        epochs = [0, 1]
        for e in epochs:  # ingest continues past the failure
            assert eng.apply_batch(_batch(spark, e), e)["status"] == "Success"
        assert eng.read_table().count() == 8

    rows = eng.lineage.lineage().collect()
    failed = sorted(
        (r["epoch_id"], r["stage"]) for r in rows if r["status"] == "Failed"
    )
    assert failed == [(e, stage) for e in epochs]
    for r in rows:
        detail = json.loads(r["detail"])
        if r["status"] == "Failed":
            assert "injected stage failure" in detail["error"]
    # the merge committed before the failing stage ran, and says so once
    merges = sorted(
        (r["epoch_id"], r["status"]) for r in rows if r["stage"] == "merge"
    )
    assert merges == [(e, "Success") for e in epochs]


def test_quarantine_fail_recorded_once_under_quarantine(spark, tmp_root):
    eng = CDCEngine(
        spark, f"{tmp_root}/t", change_schema=SCHEMA, key_cols=KEYS,
        n_buckets=2, merge_mode="delta", bad_records="fail",
    )
    bad = _batch(spark, 0).withColumn("op", F.lit("X"))
    with pytest.raises(ValueError, match="4 malformed"):
        eng.apply_batch(bad, 0)
    rows = eng.lineage.lineage().collect()
    assert [(r["stage"], r["status"]) for r in rows] == [("quarantine", "Failed")]
    assert "4 malformed" in json.loads(rows[0]["detail"])["error"]


def test_object_store_tail_lineage_goes_through_storage(spark, tmp_root):
    """A tail on FakeObjectStorage with compaction, vacuum, lineage
    compaction and quarantine on: every lineage and chunk-registry object
    on disk is one the store's registry holds (it went through
    ``put_if_absent``), both tables read back every recorded row, and
    every lineage ``detail`` parses as JSON."""
    wal, root = f"{tmp_root}/wal", f"{tmp_root}/t"
    generate_change_stream(
        wal, ChangeStreamSpec(n_events=2100, n_convs=30, segment_size=100, seed=5)
    )
    # the generated events are all valid: one more segment carries the two
    # malformed events the quarantine stage routes aside
    with open(f"{wal}/seg-bad.jsonl", "w") as fh:
        for op, conv in (("X", "conv000001"), ("U", None)):
            fh.write(json.dumps({
                "op": op, "lsn": 10**6, "ts": "2023-11-15T00:00:00.000Z",
                "conv_id": conv, "turn_idx": 0, "role": "user", "text": "bad",
            }) + "\n")
    storage = FakeObjectStorage(root)
    eng = CDCEngine(
        spark, root, change_schema=CHANGE_EVENT_SCHEMA_EVOLVED, n_buckets=4,
        merge_mode="delta", compact_every=3, vacuum_grace_s=0,
        bad_records="quarantine", storage=storage,
    )
    stages, parts = [], []
    record_stage, record_partitions = (
        eng.lineage.record_stage, eng.lineage.record_partitions,
    )

    def count_stage(epoch_id, stage, status, **kw):
        stages.append((epoch_id, stage, status))
        record_stage(epoch_id, stage, status, **kw)

    def count_partitions(epoch_id, stage, rows_by_partition):
        parts.extend((epoch_id, p, n) for p, n in rows_by_partition.items())
        record_partitions(epoch_id, stage, rows_by_partition)

    eng.lineage.record_stage = count_stage
    eng.lineage.record_partitions = count_partitions
    eng.replay(wal, f"{tmp_root}/cp", max_files_per_trigger=1)

    lin = eng.lineage.lineage().collect()
    reg = eng.lineage.chunk_registry().collect()
    assert sorted(
        (r["epoch_id"], r["stage"], r["status"]) for r in lin
    ) == sorted(stages)
    assert sorted(
        (r["epoch_id"], r["partition_id"], r["n_records"]) for r in reg
    ) == sorted(parts)
    for r in lin:
        json.loads(r["detail"])
    got = {r["stage"] for r in lin}
    assert {"quarantine", "merge", "compact", "vacuum", "lineage_compact",
            "progress"} <= got
    assert eng.read_quarantine().count() == 2
    # the shards were folded at least once, through the store
    assert any(
        json.loads(r["detail"])["removed"] > 0
        for r in lin if r["stage"] == "lineage_compact"
    )
    for prefix in ("_lineage", "_chunk_registry"):
        on_disk = {
            os.path.relpath(os.path.join(d, f), storage.root)
            for d, _, fs in os.walk(os.path.join(storage.root, prefix))
            for f in fs
        }
        assert on_disk
        assert on_disk == {k for k in storage._registry if k.startswith(prefix + "/")}
