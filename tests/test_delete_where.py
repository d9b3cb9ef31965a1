"""Row-level DELETE FROM ... WHERE (`ManifestTable.delete_where`): GDPR /
right-to-be-forgotten expressed as an ordinary change batch — per-key
tombstones stamped (row's ts, _lsn + 1), so the delete outranks exactly
the version it removes and loses to genuinely newer changes, while an
out-of-order OLDER update still cannot resurrect the key.  The tombstone
carries only keys + ts (payload nulled — the deleted content never rides
in the delta files); physical erasure of base-file bytes happens at the
next rewrite (OPTIMIZE), same two-step contract as Iceberg/Delta
row-level deletes.  Parameterized over both storage backends.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from event_driven_etl_msc_research_spark.schemas import TRANSCRIPT_SCHEMA
from event_driven_etl_msc_research_spark.sinks.manifest import (
    ManifestTable,
    _data_files,
)


def _batch(spark, rows):
    cols = ["op", "lsn", "ts", "conv_id", "turn_idx", "role", "text", "tool"]
    pdf = pd.DataFrame(rows, columns=cols)
    pdf["ts"] = pd.to_datetime(pdf["ts"], unit="s", utc=True)
    return spark.createDataFrame(
        pdf,
        T.StructType(
            [
                T.StructField("op", T.StringType()),
                T.StructField("lsn", T.LongType()),
                T.StructField("ts", T.TimestampType()),
                T.StructField("conv_id", T.StringType()),
                T.StructField("turn_idx", T.IntegerType()),
                T.StructField("role", T.StringType()),
                T.StructField("text", T.StringType()),
                T.StructField("tool", T.StringType()),
            ]
        ),
    )


@pytest.fixture()
def table(spark, tmp_root, storage_factory):
    root = os.path.join(tmp_root, "del_tbl")
    t = ManifestTable.create(
        spark, root, TRANSCRIPT_SCHEMA, n_buckets=2, storage=storage_factory(root)
    )
    rows = [
        ("U", 10 + i, 1000 + i, f"c{i % 4}", i // 4, "user", f"text-{i}", None)
        for i in range(8)
    ]
    t.merge(_batch(spark, rows), 0, mode="delta")
    return t


def _keys(t):
    return sorted((r["conv_id"], r["turn_idx"]) for r in t.read().collect())


def test_delete_where_semantics(spark, table):
    assert len(_keys(table)) == 8
    res = table.delete_where("conv_id = 'c1'", epoch_id=1)
    assert res["status"] == "Success"
    keys = _keys(table)
    assert len(keys) == 6 and not any(c == "c1" for c, _ in keys)

    # exactly-once: the same delete epoch redelivered is a no-op
    assert table.delete_where("conv_id = 'c1'", epoch_id=1)["status"] == "Skipped"

    # the raw tombstone rows never carry the deleted payload
    dead = table._scan(table.manifest(), live=False).filter(F.col("_deleted"))
    assert dead.count() == 2
    assert dead.filter(F.col("text").isNotNull()).count() == 0

    # an out-of-order OLDER update cannot resurrect the key
    table.merge(
        _batch(spark, [("U", 5, 900, "c1", 0, "user", "stale", None)]),
        2,
        mode="delta",
    )
    assert not any(c == "c1" for c, _ in _keys(table))

    # a genuinely NEWER change re-inserts it (Iceberg DELETE + MERGE)
    table.merge(
        _batch(spark, [("U", 99, 5000, "c1", 0, "user", "reborn", None)]),
        3,
        mode="delta",
    )
    got = table.read().filter(F.col("conv_id") == "c1").collect()
    assert [(r["turn_idx"], r["text"]) for r in got] == [(0, "reborn")]

    # empty match is a clean no-op epoch
    assert table.delete_where("conv_id = 'ghost'", epoch_id=4)["status"] == "Success"
    assert len(_keys(table)) == 7


def test_delete_where_feeds_changes_and_erasure(spark, table):
    v0 = table.current_version()
    table.delete_where("turn_idx = 1", epoch_id=1)
    ch = table.changes(v0)
    kinds = {r["_change_type"] for r in ch.collect()}
    assert kinds == {"delete"} and ch.count() == 4

    # physical erasure: after OPTIMIZE no data file of the current
    # snapshot holds the deleted texts — scan the raw files, not the
    # tombstone-filtered read
    table.compact(min_delta_files=0)
    m = table.manifest()
    raw = table._scan(m, [p for _, p, _ in _data_files(m)], live=False)
    deleted_texts = {f"text-{i}" for i in (4, 5, 6, 7)}  # turn_idx == 1 rows
    assert (
        raw.filter(F.col("text").isin(*deleted_texts)).count() == 0
    )
    assert table.read().count() == 4


def test_update_where_semantics(spark, table):
    v0 = table.current_version()
    res = table.update_where(
        "conv_id = 'c2'", {"text": "'[redacted]'", "role": "upper(role)"},
        epoch_id=1,
    )
    assert res["status"] == "Success"
    got = {
        (r["conv_id"], r["turn_idx"]): (r["text"], r["role"])
        for r in table.read().collect()
    }
    assert got[("c2", 0)] == ("[redacted]", "USER")
    assert got[("c2", 1)] == ("[redacted]", "USER")
    assert got[("c0", 0)] == ("text-0", "user")  # non-matching untouched
    assert len(got) == 8  # updates, not inserts/deletes

    # exactly-once redelivery
    assert (
        table.update_where("conv_id = 'c2'", {"text": "'x'"}, epoch_id=1)[
            "status"
        ]
        == "Skipped"
    )

    # change feed reports them as updates
    kinds = {r["_change_type"] for r in table.changes(v0).collect()}
    assert kinds == {"update"}

    # an out-of-order OLDER change cannot undo the update
    table.merge(
        _batch(spark, [("U", 1, 500, "c2", 0, "user", "ancient", None)]),
        2,
        mode="delta",
    )
    assert table.read().filter(
        (F.col("conv_id") == "c2") & (F.col("turn_idx") == 0)
    ).first()["text"] == "[redacted]"

    # misuse: unknown column, key column, ts
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not in schema"):
        table.update_where("1=1", {"ghost": "'x'"}, epoch_id=9)
    with _pytest.raises(ValueError, match="cannot set"):
        table.update_where("1=1", {"conv_id": "'x'"}, epoch_id=9)
    with _pytest.raises(ValueError, match="cannot set"):
        table.update_where("1=1", {"ts": "ts"}, epoch_id=9)
