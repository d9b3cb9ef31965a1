"""Unit tests for the max-version dedup operator (SURVEY.md §2.6 A5)."""

from __future__ import annotations

import pandas as pd
import pytest
from conftest import dedup_latest_window

from event_driven_etl_msc_research_spark.operators.dedup import dedup_latest


@pytest.fixture()
def changes(spark):
    rows = [
        # (conv, turn, ts, lsn, text)
        ("a", 0, 100, 1, "v1"),
        ("a", 0, 100, 2, "v2"),  # same ts → lsn tie-break
        ("a", 0, 99, 3, "old-ts"),  # later lsn but older ts must LOSE
        ("a", 1, 50, 4, "only"),
        ("b", 0, 10, 0, "b0"),
        ("b", 0, 11, 5, "b1"),
        ("b", 0, 11, 5, "b1"),  # exact duplicate delivery
    ]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "ts", "lsn", "text"])
    return spark.createDataFrame(pdf)


EXPECTED = {("a", 0): "v2", ("a", 1): "only", ("b", 0): "b1"}


def _check(df):
    got = {(r["conv_id"], r["turn_idx"]): r["text"] for r in df.collect()}
    assert got == EXPECTED


def test_dedup_hash_agg(spark, changes):
    _check(dedup_latest(changes, ["conv_id", "turn_idx"], ["ts", "lsn"]))


def test_dedup_maxstruct_agrees(spark, changes):
    """The output keeps the input's column order."""
    out = dedup_latest(changes, ["conv_id", "turn_idx"], ["ts", "lsn"])
    assert out.columns == changes.columns
    _check(out)


def test_dedup_salted_two_level(spark):
    """One key holding most of the rows (the hot-conversation shape)
    still resolves to its max version, with no salt."""
    n = 2000
    pdf = pd.DataFrame(
        {
            "conv_id": ["hot"] * (n - 3) + ["a", "b", "c"],
            "turn_idx": [0] * n,
            "ts": [i % 50 for i in range(n)],
            "lsn": range(n),
            "text": [f"t{i}" for i in range(n)],
        }
    )
    got = {
        r["conv_id"]: r["text"]
        for r in dedup_latest(
            spark.createDataFrame(pdf), ["conv_id", "turn_idx"], ["ts", "lsn"]
        ).collect()
    }
    hot = pdf[pdf["conv_id"] == "hot"].sort_values(["ts", "lsn"]).iloc[-1]
    assert got == {"hot": hot["text"], "a": "t1997", "b": "t1998", "c": "t1999"}


def test_dedup_window_formulation_agrees(spark, changes):
    """Whole winning rows equal the window oracle's."""
    a = dedup_latest(changes, ["conv_id", "turn_idx"], ["ts", "lsn"])
    b = dedup_latest_window(changes, ["conv_id", "turn_idx"], ["ts", "lsn"])
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_dedup_equals_pandas_fold_random(spark):
    """Property check: dedup == fold-in-(ts,lsn)-order on a random frame."""
    import numpy as np

    rng = np.random.RandomState(7)
    n = 5000
    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{int(i):03d}" for i in rng.randint(0, 40, n)],
            "turn_idx": rng.randint(0, 10, n),
            "ts": rng.randint(0, 200, n).astype("int64"),
            "lsn": np.arange(n, dtype="int64"),
            "text": [f"t{i}" for i in range(n)],
        }
    )
    df = spark.createDataFrame(pdf)
    got = (
        dedup_latest(df, ["conv_id", "turn_idx"], ["ts", "lsn"])
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    exp = (
        pdf.sort_values(["ts", "lsn"])
        .groupby(["conv_id", "turn_idx"], as_index=False)
        .last()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert list(got["text"]) == list(exp["text"])


def test_dedup_plan_has_partial_agg_no_window(spark, changes):
    """The production path must be an aggregate WITH a partial (map-side
    combine) step and no window sort-the-world — SURVEY.md §2.6 scale note
    (the partial_max_by step is what defuses hot keys before the shuffle)."""
    plan = dedup_latest(
        changes, ["conv_id", "turn_idx"], ["ts", "lsn"]
    )._jdf.queryExecution().executedPlan().toString()
    assert "partial_max" in plan
    assert "Window" not in plan


def test_dedup_null_versions_not_dropped(spark):
    """Corrupt changelog records (schema-on-read NULL ts/lsn) must not make a
    key vanish: null versions sort below real ones via the -1 sentinel, and a
    key whose rows are ALL null-versioned still surfaces."""
    pdf = pd.DataFrame(
        {
            "conv_id": ["a", "a", "corrupt", "corrupt"],
            "turn_idx": [0, 0, 0, 0],
            "ts": pd.array([100, None, None, None], dtype="Int64"),
            "lsn": pd.array([1, 2, None, None], dtype="Int64"),
            "text": ["good", "null-ts-loses", "c1", "c2"],
        }
    )
    df = spark.createDataFrame(pdf)
    got = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in dedup_latest(df, ["conv_id", "turn_idx"], ["ts", "lsn"]).collect()
    }
    assert got[("a", 0)] == "good"          # real version beats null version
    assert ("corrupt", 0) in got            # all-null key kept, not dropped
    assert got[("corrupt", 0)] in ("c1", "c2")
