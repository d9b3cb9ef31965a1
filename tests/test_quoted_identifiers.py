"""Payload columns whose names are not plain identifiers.  The merge,
fold and read plans are built from SQL text with every identifier
backtick-quoted, so a column called ``a.b`` (which the column API reads
as a struct field) or ``tool meta`` evolves into a table, merges through
the delta and both copy-on-write paths, compacts and reads back exactly.
A backtick inside a name is refused at admission."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import types as T

from event_driven_etl_msc_research_spark.sinks.manifest import (
    ManifestTable,
    SchemaEvolutionError,
)

ODD = ["tool meta", "a.b"]
BATCH = T.StructType(
    [
        T.StructField("op", T.StringType()),
        T.StructField("lsn", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
    ]
    + [T.StructField(c, T.StringType()) for c in ODD]
)
BASE = T.StructType(
    [f for f in BATCH.fields if f.name not in ("op", "lsn", *ODD)]
)


def _events(epoch: int, n_keys: int = 12) -> list[tuple]:
    """Each epoch updates most keys, deletes one, and adds new ones."""
    t0 = dt.datetime(2024, 1, 1)
    out = []
    for k in range(n_keys + 2 * epoch):
        if (k + epoch) % 5 == 0:
            continue  # untouched this epoch
        op = "D" if (k + epoch) % 7 == 0 else "U"
        lsn = 1000 * epoch + k
        out.append(
            (op, lsn, t0 + dt.timedelta(seconds=lsn), f"c{k % 4}", k,
             f"text-{epoch}-{k}", f"meta-{epoch}-{k}", f"ab-{epoch}-{k}")
        )
    return out


def _oracle(batches: list[list[tuple]]) -> list[tuple]:
    """Per (conv_id, turn_idx) the max-(ts, lsn) event; deletes drop."""
    win = {}
    for rows in batches:
        for r in rows:
            key = (r[3], r[4])
            if key not in win or (r[2], r[1]) > (win[key][2], win[key][1]):
                win[key] = r
    return sorted(
        (r[3], r[4], r[2], r[5], r[6], r[7])
        for r in win.values()
        if r[0] != "D"
    )


def _state(t: ManifestTable) -> list[tuple]:
    cols = ["conv_id", "turn_idx", "ts", "text", *ODD]
    return sorted(tuple(r[c] for c in cols) for r in t.read().collect())


def test_dotted_and_spaced_names_merge_compact_read(spark, tmp_root):
    t = ManifestTable.create(
        spark, tmp_root + "/t", BASE, key_cols=["conv_id", "turn_idx"],
        n_buckets=2,
    )
    sent: list[list[tuple]] = []
    paths = []
    # cow initial → cow broadcast → delta → cow over a delta-carrying
    # bucket (the aggregate path) → delta
    for epoch, mode in enumerate(["cow", "cow", "delta", "cow", "delta"]):
        rows = _events(epoch)
        sent.append(rows)
        res = t.merge(spark.createDataFrame(rows, BATCH), epoch, mode=mode)
        assert res["status"] == "Success"
        paths.append(res["merge_path"])
        assert _state(t) == _oracle(sent), (epoch, mode)
    assert paths == ["initial", "broadcast", "delta", "shuffle", "delta"]
    assert [f.name for f in t.schema().fields][-2:] == ODD
    assert t.compact()["status"] == "Success"
    assert _state(t) == _oracle(sent)
    assert t.compact(min_delta_files=0)["status"] == "Success"
    assert _state(t) == _oracle(sent)


def test_backtick_names_refused(spark, tmp_root):
    t = ManifestTable.create(
        spark, tmp_root + "/t", BASE, key_cols=["conv_id", "turn_idx"],
        n_buckets=2,
    )
    v = t.current_version()
    batch = spark.createDataFrame(_events(0), BATCH).withColumnRenamed(
        "a.b", "x`y"
    )
    with pytest.raises(SchemaEvolutionError, match="backtick"):
        t.merge(batch, 0, mode="delta")
    assert t.current_version() == v
    schema = T.StructType(BASE.fields + [T.StructField("x`y", T.StringType())])
    with pytest.raises(SchemaEvolutionError, match="backtick"):
        ManifestTable.create(spark, tmp_root + "/t2", schema)
