"""Merge-on-read (delta) mode: correctness vs oracle and vs copy-on-write,
compaction, tombstone retention, and exactly-once redelivery.

The delta path is the 10^10-scale binlog-tail design (per-epoch cost
O(batch), not O(touched table)); these tests pin that it is semantically
indistinguishable from the CoW path."""

from __future__ import annotations

import os

from conftest import assert_pdf_equal
from pyspark.sql import functions as F

from event_driven_etl_msc_research_spark import CDCEngine
from event_driven_etl_msc_research_spark.datagen import (
    ChangeStreamSpec,
    generate_change_stream,
)
from event_driven_etl_msc_research_spark.oracle import oracle_final_state
from event_driven_etl_msc_research_spark.schemas import CHANGE_EVENT_SCHEMA_EVOLVED

COLS = ["conv_id", "turn_idx", "role", "text", "tool", "tool_meta", "ts"]

SPEC = ChangeStreamSpec(
    n_events=8_000, n_convs=150, segment_size=800, seed=7, dup_segments=(2,)
)


def _replay(spark, tmp_root, tag, **engine_kw):
    log = os.path.join(tmp_root, "log")
    if not os.path.isdir(log):
        generate_change_stream(log, SPEC)
    eng = CDCEngine(
        spark,
        os.path.join(tmp_root, f"table_{tag}"),
        change_schema=CHANGE_EVENT_SCHEMA_EVOLVED,
        n_buckets=8,
        **engine_kw,
    )
    eng.replay(
        log, os.path.join(tmp_root, f"cp_{tag}"), max_files_per_trigger=3
    )
    return eng


def test_delta_replay_matches_oracle_and_cow(spark, tmp_root):
    eng_d = _replay(spark, tmp_root, "delta", merge_mode="delta")
    exp = oracle_final_state(SPEC)
    got = eng_d.read_table().orderBy("conv_id", "turn_idx").toPandas()
    assert_pdf_equal(got, exp, COLS)

    # every epoch must have produced delta files, never rewritten base
    m = eng_d.table.manifest()
    assert m["delta_files"] and not m["files"]
    assert m["delta_rows_total"] > 0

    eng_c = _replay(spark, tmp_root, "cow")  # default CoW on the same log
    got_c = eng_c.read_table().orderBy("conv_id", "turn_idx").toPandas()
    assert_pdf_equal(got_c, exp, COLS)


def test_compact_preserves_state_and_clears_deltas(spark, tmp_root):
    eng = _replay(spark, tmp_root, "delta", merge_mode="delta")
    exp = oracle_final_state(SPEC)
    v_before = eng.table.current_version()
    n_delta_files_before = sum(
        len(ps) for ps in eng.table.manifest()["delta_files"].values()
    )
    assert n_delta_files_before >= 8  # several epochs × several buckets

    st = eng.table.compact()
    assert st["status"] == "Success"
    m = eng.table.manifest()
    assert m["delta_files"] == {} and m["delta_rows_total"] == 0
    assert m["version"] == v_before + 1
    # exactly-once bookkeeping unaffected by maintenance
    assert m["applied_epochs"] == eng.table.manifest(v_before)["applied_epochs"]

    got = eng.read_table().orderBy("conv_id", "turn_idx").toPandas()
    assert_pdf_equal(got, exp, COLS)
    # time travel to the pre-compact snapshot still folds deltas correctly
    got_tt = (
        eng.table.read(version=v_before).orderBy("conv_id", "turn_idx").toPandas()
    )
    assert_pdf_equal(got_tt, exp, COLS)
    # second compact is a no-op
    assert eng.table.compact()["status"] == "Skipped"


def test_auto_compaction_during_replay(spark, tmp_root):
    eng = _replay(
        spark, tmp_root, "auto", merge_mode="delta", compact_every=2
    )
    exp = oracle_final_state(SPEC)
    got = eng.read_table().orderBy("conv_id", "turn_idx").toPandas()
    assert_pdf_equal(got, exp, COLS)
    lin = eng.lineage.lineage().toPandas()
    assert (lin.loc[lin["stage"] == "compact", "status"] == "Success").any()


def test_auto_compaction_clusters_when_configured(spark, tmp_root):
    """The table's layout policy (its ``maintenance.compact.*``
    properties) is the one clustering and sizing of every rewrite: the
    tail's compaction cadence applies it (each ``compact:`` manifest
    records ``sorted_by == ["ts"]``, no file over 500 rows) and state
    matches the oracle; a bare ``rebucket(n)`` applies it too, and a
    caller's ``compact(sort_by=[])`` replaces the clustering pair for that
    call while the sizing pair still comes from the policy."""
    eng = _replay(
        spark,
        tmp_root,
        "autoclu",
        merge_mode="delta",
        compact_every=2,
        table_properties={
            "maintenance.compact.sort_by": "ts",
            "maintenance.compact.max_rows_per_file": "500",
        },
    )
    exp = oracle_final_state(SPEC)
    got = eng.read_table().orderBy("conv_id", "turn_idx").toPandas()
    assert_pdf_equal(got, exp, COLS)
    t = eng.table
    lin = eng.lineage.lineage().toPandas()
    assert (lin.loc[lin["stage"] == "compact", "status"] == "Success").any()
    versions = [r["version"] for r in t.history().collect()]
    compacts = [
        t.manifest(v) for v in versions
        if str(t.manifest(v).get("epoch_id", "")).startswith("compact:")
    ]
    assert compacts and all(m["sorted_by"] == ["ts"] for m in compacts)

    def max_file_rows(m):
        return max(st["::rows"][0] for st in m["file_stats"].values())

    assert all(max_file_rows(m) <= 500 for m in compacts)
    # rebucket without arguments: the same policy
    assert t.rebucket(4)["status"] == "Success"
    m = t.manifest()
    assert m["sorted_by"] == ["ts"] and max_file_rows(m) <= 500
    # a caller's clustering pair replaces the policy's for one call
    assert t.compact(min_delta_files=0, sort_by=[])["status"] == "Success"
    m = t.manifest()
    assert m["sorted_by"] == [] and m["zordered_by"] == []
    assert max_file_rows(m) <= 500
    got = eng.read_table().orderBy("conv_id", "turn_idx").toPandas()
    assert_pdf_equal(got, exp, COLS)


def test_tombstone_survives_compaction(spark, tmp_root):
    """A late out-of-order UPDATE older than an applied DELETE must not
    resurrect the key — even after compaction folded the tombstone."""
    from pyspark.sql import Row

    eng = CDCEngine(
        spark,
        os.path.join(tmp_root, "table"),
        change_schema=CHANGE_EVENT_SCHEMA_EVOLVED,
        n_buckets=4,
        merge_mode="delta",
    )

    def ch(op, lsn, ts, text):
        return Row(
            op=op, lsn=lsn, ts=ts, conv_id="c1", turn_idx=0,
            role="user", text=text, tool=None, tool_meta=None,
        )

    sch = CHANGE_EVENT_SCHEMA_EVOLVED

    def df(*rows):
        return spark.createDataFrame(
            [
                (r.op, r.lsn, r.ts, r.conv_id, r.turn_idx, r.role, r.text,
                 r.tool, r.tool_meta)
                for r in rows
            ],
            sch,
        ).withColumn("ts", F.to_timestamp("ts"))

    import datetime as dt

    t1 = dt.datetime(2024, 1, 1, 0, 0, 1)
    t2 = dt.datetime(2024, 1, 1, 0, 0, 2)
    eng.table.merge(df(ch("I", 1, t1, "v1")), 0, mode="delta", epoch_scope="t")
    eng.table.merge(df(ch("D", 3, t2, "")), 1, mode="delta", epoch_scope="t")
    assert eng.read_table().count() == 0
    eng.table.compact()
    assert eng.read_table().count() == 0
    # late older update (lsn 2 < delete's lsn 3, same ts ordering by (ts,lsn))
    eng.table.merge(df(ch("U", 2, t1, "late")), 2, mode="delta", epoch_scope="t")
    assert eng.read_table().count() == 0, "tombstone must defeat older update"
    eng.table.compact()
    assert eng.read_table().count() == 0


def test_delta_epoch_redelivery_is_noop(spark, tmp_root):
    eng = _replay(spark, tmp_root, "delta", merge_mode="delta")
    v = eng.table.current_version()
    # redeliver an already-applied epoch id within the same scope
    scope = eng._epoch_scope
    r = eng.table.merge(
        eng.spark.createDataFrame([], CHANGE_EVENT_SCHEMA_EVOLVED),
        epoch_id=0,
        epoch_scope=scope,
        mode="delta",
    )
    assert r["status"] == "Skipped"
    assert eng.table.current_version() == v
