"""Skew handling (SURVEY.md §5.5): one conversation holds ~50% of events.
The reference has no skew handling (a hot chunk just runs long,
prototype-etl.json:28-39); the engine's salted two-level aggregate must both
stay correct and bound per-reducer load."""

from __future__ import annotations

import os

from conftest import assert_pdf_equal

from event_driven_etl_msc_research_spark import CDCEngine
from event_driven_etl_msc_research_spark.datagen import (
    ChangeStreamSpec,
    generate_change_stream,
)
from event_driven_etl_msc_research_spark.oracle import oracle_final_state
from event_driven_etl_msc_research_spark.schemas import CHANGE_EVENT_SCHEMA_EVOLVED

COLS = ["conv_id", "turn_idx", "role", "text", "tool", "tool_meta", "ts"]


def test_hot_conversation_replay_correct_and_registered(spark, tmp_root):
    spec = ChangeStreamSpec(
        n_events=8_000, n_convs=100, hot_frac=0.5, segment_size=2_000, seed=3
    )
    log = os.path.join(tmp_root, "log")
    generate_change_stream(log, spec)
    eng = CDCEngine(
        spark,
        os.path.join(tmp_root, "table"),
        change_schema=CHANGE_EVENT_SCHEMA_EVOLVED,
        n_buckets=8,
    )
    eng.replay(log, os.path.join(tmp_root, "cp"), max_files_per_trigger=2)
    got = eng.read_table().orderBy("conv_id", "turn_idx").toPandas()
    assert_pdf_equal(got, oracle_final_state(spec), COLS)

    # partition-size histogram from lineage is recorded and bounded: the hot
    # conv holds 50% of EVENTS but only max_turns KEYS, so stored bucket
    # sizes must stay comparable (dedup collapses the hot key's updates)
    reg = eng.lineage.chunk_registry().toPandas()
    last_epoch = reg["epoch_id"].max()
    sizes = reg[reg["epoch_id"] == last_epoch].set_index("partition_id")["n_records"]
    assert sizes.max() <= 5 * max(sizes.mean(), 1)


def test_salted_dedup_two_level_plan(spark):
    """The maxstruct salted path must show TWO aggregate exchanges: one
    keyed on (key, salt), one on key — the explicit salted-hash
    repartition.  (The production argmax path defuses hot keys with
    map-side hash combine instead; its plan is checked in test_dedup.)"""
    import pandas as pd

    from event_driven_etl_msc_research_spark.operators.dedup import (
        dedup_latest_maxstruct as dedup_latest,
    )

    pdf = pd.DataFrame(
        {
            "conv_id": ["hot"] * 100,
            "turn_idx": [0] * 100,
            "ts": range(100),
            "lsn": range(100),
            "text": [str(i) for i in range(100)],
        }
    )
    df = spark.createDataFrame(pdf)
    plan = (
        dedup_latest(df, ["conv_id", "turn_idx"], ["ts", "lsn"], salt_buckets=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Aggregate") >= 4  # partial+final × two levels
    assert "_salt" in plan
