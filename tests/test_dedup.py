"""Unit tests for the max-version dedup operator (SURVEY.md §2.6 A5)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from event_driven_etl_msc_research_spark.operators.dedup import (
    dedup_latest,
    dedup_latest_maxstruct,
    dedup_latest_window,
    salted_repartition,
)


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
    _check(dedup_latest_maxstruct(changes, ["conv_id", "turn_idx"], ["ts", "lsn"]))


def test_dedup_salted_two_level(spark, changes):
    _check(
        dedup_latest_maxstruct(
            changes, ["conv_id", "turn_idx"], ["ts", "lsn"], salt_buckets=4
        )
    )


def test_dedup_window_formulation_agrees(spark, changes):
    a = dedup_latest(changes, ["conv_id", "turn_idx"], ["ts", "lsn"])
    b = dedup_latest_window(changes, ["conv_id", "turn_idx"], ["ts", "lsn"])
    assert sorted(map(tuple, a.select("conv_id", "turn_idx", "text").collect())) == sorted(
        map(tuple, b.select("conv_id", "turn_idx", "text").collect())
    )


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
    combine) step and no window sort-the-world — SURVEY.md §2.6 scale note.
    (argmax's decimal version buffer is fixed-width → true HashAggregate;
    the partial_max step is what defuses hot keys before the shuffle)."""
    plan = dedup_latest(
        changes, ["conv_id", "turn_idx"], ["ts", "lsn"]
    )._jdf.queryExecution().executedPlan().toString()
    assert "partial_max" in plan
    assert "Window" not in plan


def test_dedup_argmax_agrees_and_is_hash_agg(spark, changes):
    from event_driven_etl_msc_research_spark.operators.dedup import (
        dedup_latest_argmax,
    )

    out = dedup_latest_argmax(changes, ["conv_id", "turn_idx"], ["ts", "lsn"])
    _check(out.select("conv_id", "turn_idx", "text"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan  # decimal-encoded version → true hash agg


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


def test_salted_repartition_spreads_hot_key(spark):
    pdf = pd.DataFrame(
        {
            "conv_id": ["hot"] * 1000,
            "turn_idx": [0] * 1000,
            "ts": range(1000),
            "lsn": range(1000),
            "text": [f"t{i}" for i in range(1000)],
        }
    )
    df = spark.createDataFrame(pdf)
    out = salted_repartition(df, 8, ["conv_id", "turn_idx"], salt_buckets=8)
    sizes = (
        out.withColumn("p", F.spark_partition_id())
        .groupBy("p")
        .count()
        .collect()
    )
    # a plain repartition on the key would put all 1000 rows in ONE partition
    assert len(sizes) > 1
    assert max(r["count"] for r in sizes) < 1000
