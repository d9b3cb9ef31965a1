"""Tests of the benchmark itself: the correctness gate must report a
corrupted table as failed, and the statistics and span arithmetic the
metrics rest on must be exact.

Run from the repository root: ``python -m pytest perfbench -q``.
"""

from __future__ import annotations

import os
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gate  # noqa: E402
import layers  # noqa: E402
import tracing  # noqa: E402

from event_driven_etl_msc_research_spark.datagen import (  # noqa: E402
    ChangeStreamSpec,
)
from event_driven_etl_msc_research_spark.oracle import (  # noqa: E402
    oracle_final_state,
)

SPEC = ChangeStreamSpec(n_events=3_000, n_convs=40, segment_size=500, seed=5)


def test_gate_accepts_reordered_equal_rows():
    exp = oracle_final_state(SPEC)
    got = exp.sample(frac=1.0, random_state=1).copy()
    got["turn_idx"] = got["turn_idx"].astype("int32")
    got["ts"] = got["ts"].dt.tz_localize(None)  # Spark collects naive UTC
    assert gate.same_rows(got, exp)


def test_gate_rejects_missing_row_and_changed_value():
    exp = oracle_final_state(SPEC)
    assert not gate.same_rows(exp.drop(exp.index[7]), exp)
    changed = exp.copy()
    changed.loc[changed.index[3], "text"] = "tampered"
    assert not gate.same_rows(changed, exp)


def test_expected_reads_filter_the_oracle():
    exp = oracle_final_state(SPEC)
    k = exp["conv_id"].iloc[0]
    assert (gate.expected_point(exp, k)["conv_id"] == k).all()
    lo, hi = gate.expected_min_max(exp)
    assert len(gate.expected_window(exp, lo, hi)) == len(exp)
    assert gate.expected_window(exp, hi + 1, hi + 100).empty


def test_tail_percentile_needs_ten_samples_beyond():
    vals = list(range(1, 42))  # 41 epochs
    assert gate.tail_percentile(vals) == (75, 31)
    assert gate.tail_percentile(list(range(1, 101))) == (90, 90)
    # too few for ten beyond: the highest choice with one sample beyond
    assert gate.tail_percentile([5, 1, 4, 2, 3]) == (80, 4)
    assert gate.tail_percentile([5, 1, 3]) == (50, 3)
    assert gate.tail_percentile([7]) == (100, 7)


def test_self_time_subtracts_union_of_children():
    spans = [
        {"id": 1, "parent": None, "name": "a", "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "name": "b", "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "name": "c", "start": 3.0, "end": 6.0},
        {"id": 4, "parent": 2, "name": "d", "start": 1.0, "end": 2.0},
    ]
    st = tracing.self_times(spans)
    assert st == {1: 5.0, 2: 2.0, 3: 3.0, 4: 1.0}
    summ = tracing.span_summary(spans)
    assert summ["a"]["busy_ms"] == 10_000.0 and summ["a"]["self_ms"] == 5_000.0


def test_attribution_covers_trigger_overhead_and_children():
    epochs = [{"op": "e0", "trigger_ms": 1000, "add_batch_ms": 800}]
    spans = [
        {"id": 1, "parent": None, "op": "e0",
         "name": "streaming.engine.apply_batch", "start": 0.0, "end": 0.8},
        {"id": 2, "parent": 1, "op": "e0", "name": "sinks.manifest.merge",
         "start": 0.0, "end": 0.6},
        {"id": 3, "parent": 1, "op": "e0", "name": "lineage.flush",
         "start": 0.6, "end": 0.7},
    ]
    # 200 ms trigger overhead + 600 ms merge + 100 ms flush
    assert layers.attribution(epochs, spans)["coverage"] == pytest.approx(0.9)
    merge_only = layers.attribution(epochs, spans,
                                    children={"sinks.manifest.merge"})
    assert merge_only["coverage"] == pytest.approx(0.8)
    assert not merge_only["ok"]


def test_task_rollup_reduce_skew():
    tasks = [
        (1, {"Executor Run Time": 5, "Input Metrics": {"Bytes Read": 10},
             "Shuffle Read Metrics": {"Total Records Read": 0}}),
        (2, {"Executor Run Time": 7,
             "Shuffle Read Metrics": {"Total Records Read": 10}}),
        (2, {"Executor Run Time": 1,
             "Shuffle Read Metrics": {"Total Records Read": 30}}),
        (2, {"Executor Run Time": 1,
             "Shuffle Read Metrics": {"Total Records Read": 10}}),
    ]
    r = tracing.task_rollup(tasks)
    assert r["scan_run_ms"] == 5 and r["run_ms"] == 14
    assert r["reduce_skew"] == 3.0


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import workloads

    work = str(tmp_path_factory.mktemp("pb"))
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d))
    s = workloads.start_spark(work, "local[2]")
    yield s
    s.stop()


def test_corrupted_table_counts_as_failed(spark, tmp_path):
    """A replayed table passes the gate; the same table with one row
    removed from a data file is reported as a failed operation."""
    import workloads
    from event_driven_etl_msc_research_spark.datagen import (
        generate_change_stream,
    )

    wal = str(tmp_path / "wal")
    generate_change_stream(wal, SPEC)
    n_files = len(os.listdir(wal))
    eng = workloads.make_engine(spark, str(tmp_path / "t"), tail=True)
    res = workloads.replay(eng, wal, str(tmp_path / "ckpt"), max_files=1)
    oracle = oracle_final_state(SPEC)

    run = workloads.Run()
    workloads._gate_tail(spark, run, res, n_files, oracle)
    assert (run.attempted, run.failed) == (n_files + 1, 0)
    reads = workloads.read_loop(eng.table, SPEC, seed=5, n_reads=10)
    run = workloads.Run()
    workloads.gate_reads(run, reads, oracle)
    assert (run.attempted, run.failed) == (10, 0), reads

    # physically drop one live row from a pending delta file: its key is
    # in no other delta, so the fold shows an older version or no row
    from event_driven_etl_msc_research_spark import ManifestTable

    root = res["root"]
    deltas = ManifestTable(spark, root).manifest()["delta_files"]
    victim = max((p for ps in deltas.values() for p in ps),
                 key=lambda p: os.path.getsize(os.path.join(root, p)))
    path = os.path.join(root, victim)
    tbl = pq.read_table(path)
    live = [i for i, d in enumerate(tbl.column("_deleted").to_pylist())
            if not d]
    keep = [i for i in range(tbl.num_rows) if i != live[0]]
    pq.write_table(tbl.take(keep), path)

    run = workloads.Run()
    workloads._gate_tail(spark, run, res, n_files, oracle)
    assert run.failed == 1

    # a point read of the damaged key fails the read gate too, whether it
    # returns the wrong rows or raises on the rewritten file
    key = tbl.column("conv_id")[live[0]].as_py()
    rec = {"op": "r0", "kind": "point", "key": key}
    try:
        rec["got"] = ManifestTable(spark, root).read(
            where={"conv_id": (key, key)}).toPandas()
    except Exception as e:
        rec["error"] = repr(e)
    run = workloads.Run()
    workloads.gate_reads(run, [rec], oracle)
    assert (run.attempted, run.failed) == (1, 1)
