"""Carry/reset property of the one manifest commit path
(``ManifestTable._commit``): every publishing verb, run in turn on ONE
table that carries table properties, clone provenance, a retention and a
lateness watermark, a CHECK constraint, bloom and stats columns and a
rename.  After each verb:

* table config (properties, both watermarks, clone provenance) is exactly
  the previous head's, unless the verb is the one that sets it — a
  rollback or a branch publish included;
* the snapshot metadata (constraints, bloom/stats columns, rename and
  drop history) is carried unless the verb changes it;
* per-commit fields never leak: ``added_cols`` is the commit's own and
  ``retdel_dropped``/``retdel_rows`` ride only the retention drop commit;
* ``external_sizes`` only names files the commit still references;
* the file set is consistent (``ManifestTable._file_set``): each total
  is the sum of its per-bucket counters, ``file_stats`` names only live
  files, and ``check(verify_rows=True)`` finds the footers agree;
* the columns are consistent (``ManifestTable._schema_change``): every
  name a column list, ``added_cols`` or a rename chain holds is a schema
  column, and no schema column is tombstoned (dropped, or an old name of
  a rename).
"""
from __future__ import annotations

import datetime as dt

from pyspark.sql import types as T

from event_driven_etl_msc_research_spark.schemas import TRANSCRIPT_SCHEMA
from event_driven_etl_msc_research_spark.sinks.manifest import (
    ManifestTable,
    _data_files,
)

T0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
CONFIG = ("properties", "retention_ts", "lateness_ts", "cloned_from")
META = ("constraints", "bloom_filter_cols", "stats_cols", "renamed_cols",
        "dropped_cols")
COL_LISTS = ("key_cols", "stats_cols", "bloom_filter_cols", "sorted_by",
             "zordered_by")


def _cut(s: int) -> dt.datetime:
    return T0 + dt.timedelta(seconds=s)


def test_every_verb_carries_config_and_resets_per_commit_fields(
    spark, tmp_root
):
    src = ManifestTable.create(
        spark, tmp_root + "/src", TRANSCRIPT_SCHEMA, n_buckets=2,
        stats_cols=["ts", "conv_id"], bloom_filter_cols=["conv_id"],
        constraints={"has_conv": "conv_id IS NOT NULL"},
        properties={"owner": "team-a"},
    )
    lsn = [0]

    def batch(n, ts0, tool_col="tool", text="x"):
        rows = []
        for i in range(n):
            lsn[0] += 1
            rows.append(("U", lsn[0], _cut(ts0 + i), f"c{i % 4}", ts0 + i,
                         "user", text, None))
        return spark.createDataFrame(
            rows,
            f"op string, lsn long, ts timestamp, conv_id string, "
            f"turn_idx int, role string, text string, {tool_col} string",
        )

    src.merge(batch(40, 1), epoch_id=0, mode="delta")
    t = src.clone(tmp_root + "/t")  # provenance + external sizes
    prev = t.manifest()
    assert prev["cloned_from"] and prev["external_sizes"]

    def check(changes=(), added=(), rollback=False):
        """Assert the carry/reset property over every commit since
        ``prev``; ``changes`` names the tracked fields this verb sets."""
        nonlocal prev
        head = t.manifest()
        assert head["version"] > prev["version"]
        for v in range(prev["version"] + 1, head["version"] + 1):
            m = t.manifest(v)
            ek = str(m["epoch_id"])
            assert m.get("added_cols") == (
                list(added) if v == head["version"] else []
            ), ek
            retdel = ek.startswith("retdel:")
            assert ("retdel_dropped" in m) == retdel, ek
            assert ("retdel_rows" in m) == retdel, ek
            live = {p for _, p, _ in _data_files(m)}
            assert set(m.get("external_sizes") or {}) <= live, ek
            assert m["total_rows"] == sum(
                (m.get("bucket_rows") or {}).values()
            ), ek
            assert m.get("delta_rows_total", 0) == sum(
                (m.get("delta_rows") or {}).values()
            ), ek
            assert set(m.get("file_stats") or {}) <= live, ek
            cols = set(T.StructType.fromJson(m["schema"]).fieldNames())
            named = set(m.get("added_cols") or []) | set(
                m.get("renamed_cols") or {}
            )
            for k in COL_LISTS:
                named |= set(m.get(k) or [])
            assert named <= cols, (ek, named - cols)
            tomb = set(m.get("dropped_cols") or []).union(
                *(m.get("renamed_cols") or {}).values()
            )
            assert not cols & tomb, (ek, cols & tomb)
            assert t.check(version=v, verify_rows=True)["status"] == (
                "Success"
            ), ek
        tracked = CONFIG if rollback else CONFIG + META
        for k in tracked:
            if k not in changes:
                assert head.get(k) == prev.get(k), (head["epoch_id"], k)
        prev = head
        return head

    # table config the sequence must carry: clustering (so retention can
    # drop whole files), both watermarks and a rename
    t.compact(min_delta_files=0, sort_by=["ts"], max_rows_per_file=5)
    check()
    t.retention_delete(_cut(8), epoch_id=1)
    check(changes=("retention_ts",))
    v_retdel = next(
        v for v in range(prev["version"], 0, -1)
        if str(t.manifest(v)["epoch_id"]).startswith("retdel:")
    )
    t.compact(min_delta_files=0, purge_tombstones_before=_cut(4))
    check(changes=("lateness_ts", "renamed_cols", "dropped_cols"))
    t.rename_column("tool", "tool_name")
    check(changes=("renamed_cols",))

    # every publishing verb in turn
    t.merge(batch(6, 100, "tool_name"), epoch_id=2, mode="delta")
    check()
    t.merge(batch(6, 200, "tool_name"), epoch_id=3, mode="cow")
    check()
    t.drop_constraint("has_conv")  # commit_delta_files refuses CHECKs
    check(changes=("constraints",))
    t.commit_delta_files({}, {}, {}, 4, t.schema(), epoch_scope="ext")
    check()
    t.add_constraint("has_conv", "conv_id IS NOT NULL")
    check(changes=("constraints",))
    t.merge(batch(4, 300, "tool_name"), epoch_id=5, mode="delta")
    t.compact()  # a full rewrite physicalizes the rename
    check(changes=("renamed_cols", "dropped_cols"))
    t.retention_delete(_cut(20), epoch_id=6)
    check(changes=("retention_ts",))
    t.set_stats_cols(["ts", "conv_id", "turn_idx"])
    check(changes=("stats_cols",))
    t.set_properties({"owner": "team-b", "tier": "gold"})
    check(changes=("properties",))
    t.set_bloom_filter_cols([])
    check(changes=("bloom_filter_cols",))
    t.add_column("score", "int")
    check(added=["score"])
    t.widen_column("score", "bigint")
    check()
    t.rename_column("score", "points")
    check(changes=("renamed_cols",))
    t.drop_column("points")
    check(changes=("renamed_cols", "dropped_cols"))
    # a rollback to the first retention's drop commit: snapshot state
    # (schema, constraints, ...) is the target's, config stays the head's
    t.rollback_to(version=v_retdel)
    head = check(rollback=True)
    assert head["properties"] == {"owner": "team-b", "tier": "gold"}
    t.rebucket(4)
    m = check(changes=("renamed_cols", "dropped_cols"))
    assert m["renamed_cols"] == {} and m["dropped_cols"] == []
    b = t.create_branch("wap")
    b.merge(batch(3, 400), epoch_id=7, mode="delta")
    t.fast_forward("wap")
    check()
