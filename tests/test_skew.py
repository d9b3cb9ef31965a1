"""Skew handling (SURVEY.md §5.5): one conversation holds ~50% of events.
The reference has no skew handling (a hot chunk just runs long,
prototype-etl.json:28-39); the engine's max_by dedup, whose map-side
partial combine collapses the hot key before the shuffle, must both stay
correct and bound per-bucket load."""

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
