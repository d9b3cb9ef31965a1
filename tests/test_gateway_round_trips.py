"""Round-trip budget of the epoch path.  Each py4j gateway round trip
costs ~110 µs of driver CPU, so a plan built one ``F.col``/``.alias`` at
a time, or a progress event converted field by field, is a per-epoch
fixed cost of the streaming tail.  The plans are built from SQL text and
the progress event is read as one JSON document; these budgets keep it
that way.

Counts before that change (same scenarios, same session): a 6k-event
delta ``merge`` 851 round trips, ``read().count()`` over deltas 590,
``compact(min_delta_files=0)`` 588, one progress event 432.  Each budget
is a third of that count."""

from __future__ import annotations

import os
import threading

import pytest
from conftest import gateway_round_trips

from event_driven_etl_msc_research_spark import CDCEngine
from event_driven_etl_msc_research_spark.datagen import (
    ChangeStreamSpec,
    generate_change_stream,
)
from event_driven_etl_msc_research_spark.schemas import CHANGE_EVENT_SCHEMA_EVOLVED
from event_driven_etl_msc_research_spark.sources.changelog import (
    read_changelog_batch,
)
from event_driven_etl_msc_research_spark.streaming import engine as engine_mod

BEFORE = {"merge": 851, "read_count": 590, "compact": 588, "progress": 432}
SPEC = ChangeStreamSpec(
    n_events=12_000, n_convs=200, segment_size=6_000, seed=3, dup_segments=()
)


@pytest.fixture(scope="module")
def wal(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("rt"))
    generate_change_stream(os.path.join(root, "wal"), SPEC)
    segs = sorted(os.listdir(os.path.join(root, "wal")))
    dirs = []
    for i, s in enumerate(segs):
        d = os.path.join(root, f"seg{i}")
        os.makedirs(d)
        os.symlink(os.path.join(root, "wal", s), os.path.join(d, s))
        dirs.append(d)
    return root, dirs


def _calls(counts) -> int:
    return counts[threading.get_ident()]


def test_verb_round_trips(spark, wal, tmp_root):
    root, segs = wal
    eng = CDCEngine(
        spark, os.path.join(tmp_root, "t"),
        change_schema=CHANGE_EVENT_SCHEMA_EVOLVED, n_buckets=8,
        merge_mode="delta",
    )
    t = eng.table
    batches = [
        read_changelog_batch(spark, d, schema=CHANGE_EVENT_SCHEMA_EVOLVED)
        for d in segs
    ]
    t.merge(batches[0], 0, mode="delta")  # first epoch evolves the schema
    got = {}
    with gateway_round_trips() as counts:
        assert t.merge(batches[1], 1, mode="delta")["status"] == "Success"
    got["merge"] = _calls(counts)
    with gateway_round_trips() as counts:
        n = t.read().count()
    got["read_count"] = _calls(counts)
    with gateway_round_trips() as counts:
        assert t.compact(min_delta_files=0)["status"] == "Success"
    got["compact"] = _calls(counts)
    assert t.read().count() == n
    for verb, calls in got.items():
        assert calls <= BEFORE[verb] // 3, (verb, got)


def test_progress_event_round_trips(spark, wal, tmp_root, monkeypatch):
    root, _ = wal
    per_event: list[int] = []
    on_progress = engine_mod._ProgressListener.onQueryProgress

    with gateway_round_trips() as counts:

        def counted(self, jevent):
            before = _calls(counts)
            on_progress(self, jevent)
            per_event.append(_calls(counts) - before)

        monkeypatch.setattr(
            engine_mod._ProgressListener, "onQueryProgress", counted
        )
        eng = CDCEngine(
            spark, os.path.join(tmp_root, "t"),
            change_schema=CHANGE_EVENT_SCHEMA_EVOLVED, n_buckets=8,
            merge_mode="delta",
        )
        eng.replay(
            os.path.join(root, "wal"), os.path.join(tmp_root, "cp"),
            max_files_per_trigger=1,
        )
    assert len(per_event) >= 2
    assert max(per_event) <= BEFORE["progress"] // 3, per_event
    prog = eng.lineage.lineage().filter("stage = 'progress'").count()
    assert prog == 2  # one row per micro-batch, still
