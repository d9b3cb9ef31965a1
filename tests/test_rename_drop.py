"""Metadata-only column RENAME / DROP (Iceberg ALTER TABLE analogues).

The reference pipeline's schema is fixed at load time (7 hardcoded columns,
`Phase3-DataLoad.py:103-120`); evolving it means editing the DDL and
reloading the full prefix.  Here rename/drop are single manifest commits:
ZERO data files rewritten, old files read through a physical-name shadow
chain (`_read_files`), stats pruning follows the chain, and retired names
are tombstoned against resurrection until a full rewrite physicalizes the
current naming.
"""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from event_driven_etl_msc_research_spark.sinks.manifest import (
    ManifestTable,
    SchemaEvolutionError,
    _data_files,
)

PAYLOAD = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
    ]
)


def _batch(spark, rows, payload=PAYLOAD):
    schema = T.StructType(
        [
            T.StructField("op", T.StringType()),
            T.StructField("lsn", T.LongType()),
        ]
        + list(payload.fields)
    )
    return spark.createDataFrame(rows, schema)


TS0 = datetime.datetime(2024, 1, 1)
TS1 = datetime.datetime(2024, 1, 2)


def _files(t):
    return {p for _, p, _ in _data_files(t.manifest())}


def _fresh(spark, tmp_root, **kw):
    root = os.path.join(tmp_root, "t")
    t = ManifestTable.create(
        spark, root, PAYLOAD, key_cols=["conv_id", "turn_idx"], n_buckets=4, **kw
    )
    t.merge(
        _batch(
            spark,
            [
                ("U", 1, TS0, "a", 0, "hello", "none"),
                ("U", 1, TS0, "a", 1, "world", "search"),
                ("U", 1, TS0, "b", 0, "bye", "none"),
            ],
        ),
        epoch_id=0,
        mode="delta",
    )
    return t


@pytest.mark.parametrize("mode", ["cow", "delta"])
def test_rename_metadata_only(spark, tmp_root, mode):
    t = _fresh(spark, tmp_root)
    files_before = _files(t)

    res = t.rename_column("text", "content")
    assert res["status"] == "Success"
    # METADATA-ONLY: the commit references exactly the parent's files
    assert _files(t) == files_before
    assert [f.name for f in t.schema().fields] == [
        "ts", "conv_id", "turn_idx", "content", "tool",
    ]

    # old files (physical name `text`) read through the shadow chain
    state = {
        (r["conv_id"], r["turn_idx"]): r["content"]
        for r in t.read().collect()
    }
    assert state == {("a", 0): "hello", ("a", 1): "world", ("b", 0): "bye"}

    # merges continue under the NEW name; mixed-generation files fold
    t.merge(
        _batch(
            spark,
            [("U", 2, TS1, "a", 0, "hello2", "none")],
            T.StructType(
                [
                    T.StructField("ts", T.TimestampType()),
                    T.StructField("conv_id", T.StringType()),
                    T.StructField("turn_idx", T.IntegerType()),
                    T.StructField("content", T.StringType()),
                    T.StructField("tool", T.StringType()),
                ]
            ),
        ),
        epoch_id=1,
        mode=mode,
    )
    state = {
        (r["conv_id"], r["turn_idx"]): r["content"]
        for r in t.read().collect()
    }
    assert state == {("a", 0): "hello2", ("a", 1): "world", ("b", 0): "bye"}

    # a change stream still emitting the OLD name fails loudly
    with pytest.raises(SchemaEvolutionError, match="dropped or renamed"):
        t.merge(
            _batch(spark, [("U", 3, TS1, "c", 0, "x", "none")]),
            epoch_id=2,
            mode=mode,
        )

    # time travel reads the historical schema under its own names
    assert "text" in t.read(version=1).columns
    assert "content" not in t.read(version=1).columns


def test_rename_key_column_and_point_lookup(spark, tmp_root):
    t = _fresh(spark, tmp_root)
    t.rename_column("conv_id", "conversation")
    assert t.manifest()["key_cols"] == ["conversation", "turn_idx"]
    # bucket pinning hashes VALUES, not names — point lookup stays exact
    got = {
        r["turn_idx"]
        for r in t.read(where={"conversation": ("a", "a")}).collect()
    }
    assert got == {0, 1}
    # and upserts still route to the same buckets (same final state)
    t.merge(
        _batch(
            spark,
            [("D", 2, TS1, "a", 1, None, None)],
            T.StructType(
                [
                    T.StructField("ts", T.TimestampType()),
                    T.StructField("conversation", T.StringType()),
                    T.StructField("turn_idx", T.IntegerType()),
                    T.StructField("text", T.StringType()),
                    T.StructField("tool", T.StringType()),
                ]
            ),
        ),
        epoch_id=1,
        mode="delta",
    )
    got = {
        (r["conversation"], r["turn_idx"]) for r in t.read().collect()
    }
    assert got == {("a", 0), ("b", 0)}


def test_rename_chain(spark, tmp_root):
    t = _fresh(spark, tmp_root)
    t.rename_column("text", "body")
    t.merge(
        _batch(
            spark,
            [("U", 2, TS1, "c", 0, "mid-gen", "none")],
            T.StructType(
                [
                    T.StructField("ts", T.TimestampType()),
                    T.StructField("conv_id", T.StringType()),
                    T.StructField("turn_idx", T.IntegerType()),
                    T.StructField("body", T.StringType()),
                    T.StructField("tool", T.StringType()),
                ]
            ),
        ),
        epoch_id=1,
        mode="delta",
    )
    t.rename_column("body", "content")
    assert t.manifest()["renamed_cols"] == {"content": ["body", "text"]}
    state = {
        (r["conv_id"], r["turn_idx"]): r["content"]
        for r in t.read().collect()
    }
    # all three physical generations (text, body, content) coalesce
    assert state[("a", 0)] == "hello" and state[("c", 0)] == "mid-gen"


def test_changes_across_rename_no_phantoms(spark, tmp_root):
    t = _fresh(spark, tmp_root)  # v1
    t.rename_column("text", "content")  # v2
    t.merge(
        _batch(
            spark,
            [("U", 2, TS1, "a", 0, "hello2", "none")],
            T.StructType(
                [
                    T.StructField("ts", T.TimestampType()),
                    T.StructField("conv_id", T.StringType()),
                    T.StructField("turn_idx", T.IntegerType()),
                    T.StructField("content", T.StringType()),
                    T.StructField("tool", T.StringType()),
                ]
            ),
        ),
        epoch_id=1,
        mode="delta",
    )  # v3
    # rename alone: ZERO changes (same rows, new name)
    assert t.changes(1, 2).count() == 0
    # across the rename: only the real update, pre-image mapped to new name
    ch = t.changes(1, 3, images="both").collect()
    assert [(r["conv_id"], r["turn_idx"], r["_change_type"]) for r in ch] == [
        ("a", 0, "update")
    ]
    assert ch[0]["_pre"]["content"] == "hello" and ch[0]["_post"]["content"] == "hello2"


def test_stats_pruning_follows_rename_chain(spark, tmp_root):
    payload = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    root = os.path.join(tmp_root, "t")
    t = ManifestTable.create(
        spark, root, payload, key_cols=["conv_id"], n_buckets=2,
        stats_cols=["score"],
    )
    # CoW so the rows land in BASE files: the MOR rule keeps delta files
    # for any non-key bound regardless of stats (see read() docstring)
    t.merge(
        _batch(
            spark,
            [("U", 1, TS0, "a", 0, 1.0), ("U", 1, TS0, "b", 0, 2.0)],
            payload,
        ),
        epoch_id=0,
        mode="cow",
    )
    t.rename_column("score", "quality")
    m = t.manifest()
    assert m["stats_cols"] == ["quality"]
    # old files' stats live under "score"; the chain lookup must still
    # prove disjointness for an out-of-range bound on "quality"
    base, delta = t._pruned_files(m, {"quality": (100.0, None)})
    assert base == [] and delta == []
    # and an in-range bound keeps them (exactness)
    got = {r["conv_id"] for r in t.read(where={"quality": (1.5, None)}).collect()}
    assert got == {"b"}


def test_drop_column_metadata_only(spark, tmp_root):
    t = _fresh(spark, tmp_root, stats_cols=["tool"])
    files_before = _files(t)
    res = t.drop_column("tool")
    assert res["status"] == "Success"
    assert _files(t) == files_before
    assert "tool" not in t.read().columns
    assert t.manifest()["stats_cols"] == []  # auto-removed from configs
    # re-introducing the dropped name would resurrect stale bytes → reject
    with pytest.raises(SchemaEvolutionError, match="dropped or renamed"):
        t.merge(
            _batch(spark, [("U", 9, TS1, "z", 0, "x", "tool-back")]),
            epoch_id=9,
            mode="delta",
        )
    with pytest.raises(ValueError, match="physicalize"):
        t.rename_column("text", "tool")
    # time travel: the column is still there in history
    assert "tool" in t.read(version=1).columns


def test_guards(spark, tmp_root):
    t = _fresh(spark, tmp_root)
    with pytest.raises(ValueError, match="version"):
        t.rename_column("ts", "when")
    with pytest.raises(ValueError, match="version"):
        t.drop_column("ts")
    with pytest.raises(ValueError, match="key column"):
        t.drop_column("conv_id")
    with pytest.raises(ValueError, match="already exists"):
        t.rename_column("text", "tool")
    with pytest.raises(ValueError, match="reserved"):
        t.rename_column("text", "_bucket")
    with pytest.raises(ValueError, match="invalid column name"):
        t.rename_column("text", "bad name")
    with pytest.raises(ValueError, match="no column"):
        t.drop_column("ghost")


@pytest.mark.parametrize("how", ["rebucket", "optimize"])
def test_full_rewrite_physicalizes(spark, tmp_root, how):
    t = _fresh(spark, tmp_root)
    t.rename_column("text", "content")
    t.drop_column("tool")
    if how == "rebucket":
        assert t.rebucket(8)["status"] == "Success"
    else:
        assert t.compact(min_delta_files=0)["status"] == "Success"
    m = t.manifest()
    assert m.get("renamed_cols") in ({}, None)
    assert m.get("dropped_cols") in ([], None)
    # retired names are free again: a batch may introduce them as NEW cols
    t.merge(
        _batch(spark, [("U", 5, TS1, "d", 0, "fresh", "re-added")]),
        epoch_id=5,
        mode="delta",
    )
    row = t.read().filter(F.col("conv_id") == "d").collect()[0]
    assert row["text"] == "fresh" and row["tool"] == "re-added"
    # old rows read NULL for the re-added columns (no resurrection)
    old = t.read().filter(F.col("conv_id") == "a").collect()[0]
    assert old["text"] is None and old["tool"] is None
    assert old["content"] is not None


def test_partial_compact_keeps_tombstones(spark, tmp_root):
    t = _fresh(spark, tmp_root)
    t.compact()  # fold the seed deltas: every bucket now holds BASE files
    t.rename_column("text", "content")
    # one delta epoch touching one key: the next compact folds ONLY that
    # bucket — other buckets keep their pre-rename base files untouched
    t.merge(
        _batch(
            spark,
            [("U", 2, TS1, "a", 0, "hello2", "none")],
            T.StructType(
                [
                    T.StructField("ts", T.TimestampType()),
                    T.StructField("conv_id", T.StringType()),
                    T.StructField("turn_idx", T.IntegerType()),
                    T.StructField("content", T.StringType()),
                    T.StructField("tool", T.StringType()),
                ]
            ),
        ),
        epoch_id=1,
        mode="delta",
    )
    st = t.compact()  # folds delta-carrying buckets only
    assert st["status"] == "Success"
    m = t.manifest()
    # untouched buckets still hold old-name files → history must survive
    assert m["renamed_cols"] == {"content": ["text"]}
    state = {
        (r["conv_id"], r["turn_idx"]): r["content"]
        for r in t.read().collect()
    }
    assert state == {("a", 0): "hello2", ("a", 1): "world", ("b", 0): "bye"}
