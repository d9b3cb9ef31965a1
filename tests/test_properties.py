"""Table properties (Iceberg/Delta TBLPROPERTIES analogue) + the
`auto_maintain` autopilot they drive: properties are CONFIG — a
metadata-only merge-update commit, carried through every subsequent
commit at the `_publish` chokepoint (any handle, any verb), deliberately
NOT reverted by rollback, travelling with clones — and
`maintenance.*` keys are the policy `maintain.py auto` executes so the
maintenance schedule ships with the table, not the cron job."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import types as T

from event_driven_etl_msc_research_spark.schemas import TRANSCRIPT_SCHEMA
from event_driven_etl_msc_research_spark.sinks.manifest import ManifestTable


def _changes(spark, rows):
    cols = ["op", "lsn", "ts", "conv_id", "turn_idx", "role", "text", "tool"]
    pdf = pd.DataFrame(rows, columns=cols)
    pdf["ts"] = pd.to_datetime(pdf["ts"], unit="s", utc=True)
    fields = [
        T.StructField("op", T.StringType()),
        T.StructField("lsn", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
    ]
    return spark.createDataFrame(pdf, T.StructType(fields))


def _rows(n, start_key=0, lsn0=0, ts0=1000):
    return [
        ("U", lsn0 + i, ts0 + i, f"c{(start_key + i) % 3}",
         (start_key + i) // 3, "user", f"t-{start_key + i}", None)
        for i in range(n)
    ]


@pytest.fixture()
def table(spark, tmp_root):
    t = ManifestTable.create(
        spark, os.path.join(tmp_root, "t"), TRANSCRIPT_SCHEMA, n_buckets=2
    )
    t.merge(_changes(spark, _rows(6)), 0, mode="delta")
    return t


def test_set_get_unset_and_validation(spark, table):
    res = table.set_properties(
        {"maintenance.vacuum.keep_versions": 3, "owner": "pipelines"}
    )
    assert res["status"] == "Success"
    assert table.properties() == {
        "maintenance.vacuum.keep_versions": "3",
        "owner": "pipelines",
    }
    # unchanged set is a Skipped no-op (no commit burned)
    v = table.current_version()
    assert table.set_properties({"owner": "pipelines"})["status"] == "Skipped"
    assert table.current_version() == v
    # unset deletes
    table.set_properties({"owner": None})
    assert table.properties() == {"maintenance.vacuum.keep_versions": "3"}
    # maintenance namespace is schema-checked NOW, not at cron time
    with pytest.raises(ValueError, match="unknown maintenance property"):
        table.set_properties({"maintenance.compact.typo": "1"})
    with pytest.raises(ValueError, match="must parse as int"):
        table.set_properties({"maintenance.expire.keep_last": "soon"})


def test_properties_carry_through_every_verb_and_handle(spark, table):
    table.set_properties({"owner": "pipelines", "pii": "true"})
    want = {"owner": "pipelines", "pii": "true"}
    # a DIFFERENT, fresh handle commits — carry must not depend on the
    # setting handle's in-memory state
    other = ManifestTable(spark, table.root)
    other.merge(_changes(spark, _rows(4, start_key=20, lsn0=100, ts0=2000)),
                1, mode="delta")
    assert ManifestTable(spark, table.root).properties() == want
    other.compact()
    assert other.properties() == want
    other.add_column("score", "double")
    other.delete_where("turn_idx > 99", epoch_id=2)
    other.rebucket(4)
    assert ManifestTable(spark, table.root).properties() == want


def test_rollback_keeps_current_properties(spark, table):
    v_before = table.current_version()
    table.merge(_changes(spark, _rows(3, start_key=30, lsn0=200, ts0=3000)),
                1, mode="delta")
    table.set_properties({"maintenance.vacuum.keep_versions": "5"})
    table.rollback_to(version=v_before)
    # data reverted, config did not
    assert table.read().count() == 6
    assert table.properties() == {"maintenance.vacuum.keep_versions": "5"}


@pytest.mark.parametrize("verb", ["rollback_to", "fast_forward"])
def test_source_commit_prunes_layout_policy_to_its_columns(spark, table, verb):
    """A rollback or a branch publish carries the head's properties over
    another snapshot's columns.  A policy column that snapshot lacks
    leaves the policy, as on drop_column (a list left empty unsets its
    key), so the next merge and compaction still run."""
    batch = _changes(spark, _rows(3, start_key=30, lsn0=200, ts0=3000))
    if verb == "rollback_to":
        v = table.current_version()
        table.add_column("score", "double")
        table.set_properties(
            {"maintenance.compact.sort_by": "score", "owner": "x"}
        )
        table.rollback_to(version=v)
        assert table.properties() == {"owner": "x"}
        sorted_by = []
    else:
        table.set_properties(
            {"maintenance.compact.sort_by": "role,ts", "owner": "x"}
        )
        table.create_branch("audit").drop_column("role")
        table.fast_forward("audit")
        assert table.properties() == {
            "maintenance.compact.sort_by": "ts", "owner": "x"
        }
        batch, sorted_by = batch.drop("role"), ["ts"]
    assert table.merge(batch, 1, mode="delta")["status"] == "Success"
    assert table.compact()["status"] == "Success"
    assert table.manifest()["sorted_by"] == sorted_by
    assert table.read().count() == 9


def test_properties_travel_with_clones(spark, table, tmp_root):
    table.set_properties({"owner": "pipelines"})
    c = table.clone(os.path.join(tmp_root, "fork"))
    assert c.properties() == {"owner": "pipelines"}
    c.merge(_changes(spark, _rows(2, start_key=40, lsn0=300, ts0=4000)),
            9, mode="delta")
    assert c.properties() == {"owner": "pipelines"}


def test_changes_fast_path_survives_set_properties(spark, table):
    v1 = table.current_version()
    table.set_properties({"owner": "x"})
    table.merge(_changes(spark, _rows(2, start_key=50, lsn0=400, ts0=5000)),
                1, mode="delta")
    cur = table.current_version()
    assert table._append_candidates(
        v1, cur, table.manifest(v1), table.manifest(cur)
    ) is not None
    assert table.changes(v1).count() == 2


def test_auto_maintain_runs_the_tables_own_policy(spark, table):
    # several delta epochs → deltas to fold, versions to expire/GC
    for i in range(2, 6):
        table.merge(
            _changes(spark, _rows(3, start_key=10 * i, lsn0=100 * i,
                                  ts0=1000 * i)),
            i, mode="delta",
        )
    table.set_properties({
        "maintenance.compact.min_delta_files": 1,
        "maintenance.compact.max_rows_per_file": 100,
        "maintenance.expire.keep_last": 2,
        "maintenance.vacuum.keep_versions": 1,
        "maintenance.vacuum.grace_s": 0,
    })
    state = sorted(map(tuple, table.read().collect()))
    dry = table.auto_maintain(dry_run=True)
    assert dry["compact"]["min_delta_files"] == 1
    assert dry["vacuum"]["removed_dirs"] == []  # nothing freed YET
    assert sorted(map(tuple, table.read().collect())) == state

    out = table.auto_maintain()
    assert out["compact"]["status"] == "Success"
    assert out["expire"]["expired_versions"]
    assert out["vacuum"]["removed_dirs"]
    assert sorted(map(tuple, table.read().collect())) == state
    assert not table.manifest().get("delta_files")
    # a policy-free table's autopilot is a clean no-op
    t2 = ManifestTable.create(
        spark, table.root + "2", TRANSCRIPT_SCHEMA, n_buckets=2
    )
    assert t2.auto_maintain() == {"dry_run": False}


def test_layout_policy_checked_at_set_time_and_follows_ddl(spark, tmp_root):
    """The layout policy runs on the tail's critical path, so a policy the
    schema cannot serve fails when it is SET; a rename rewrites the
    policy's column and a drop removes it, and the tail's next compaction
    succeeds under the rewritten policy."""
    from event_driven_etl_msc_research_spark import CDCEngine
    from event_driven_etl_msc_research_spark.schemas import CHANGE_EVENT_SCHEMA

    with pytest.raises(ValueError, match="zorder_by columns must be numeric"):
        ManifestTable.create(
            spark, os.path.join(tmp_root, "bad"), TRANSCRIPT_SCHEMA,
            properties={"maintenance.compact.zorder_by": "role"},
        )
    eng = CDCEngine(
        spark, os.path.join(tmp_root, "t"), change_schema=CHANGE_EVENT_SCHEMA,
        n_buckets=2, merge_mode="delta", compact_every=1,
    )
    t = eng.table
    t.set_properties({"maintenance.compact.sort_by": "role"})
    v = t.current_version()
    with pytest.raises(ValueError, match="not in schema"):
        t.set_properties({"maintenance.compact.sort_by": "nope"})
    with pytest.raises(ValueError, match="mutually exclusive"):
        t.set_properties({"maintenance.compact.zorder_by": "turn_idx"})
    assert t.current_version() == v

    def epoch(i, batch):
        assert eng.apply_batch(batch, i)["status"] == "Success"
        m = t.manifest()
        assert m["epoch_id"] == f"compact:{m['version']}"
        return m["sorted_by"]

    assert epoch(0, _changes(spark, _rows(6))) == ["role"]
    t.rename_column("role", "speaker")
    assert t.properties() == {"maintenance.compact.sort_by": "speaker"}
    rows = _rows(6, start_key=6, lsn0=10, ts0=2000)
    assert epoch(
        1, _changes(spark, rows).withColumnRenamed("role", "speaker")
    ) == ["speaker"]
    t.drop_column("speaker")
    assert t.properties() == {}
    rows = _rows(6, start_key=12, lsn0=20, ts0=3000)
    assert epoch(2, _changes(spark, rows).drop("role")) == []
    assert t.read().count() == 18


def test_cli_properties_and_auto(spark, table):
    import json as jsonmod
    import subprocess
    import sys

    env = dict(os.environ, PYTHONPATH=os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    ))
    repo = env["PYTHONPATH"]

    def cli(*args):
        r = subprocess.run(
            [sys.executable, os.path.join(repo, "tools/maintain.py"),
             "--table", table.root, *args],
            capture_output=True, text=True, env=env,
        )
        assert r.returncode == 0, r.stderr[-800:]
        return jsonmod.loads(r.stdout.strip().splitlines()[-1])

    out = cli("set-properties", "--set",
              "maintenance.vacuum.keep_versions=2", "--set", "owner=ops")
    assert out["status"] == "Success"
    out = cli("properties")
    assert out["properties"]["owner"] == "ops"
    out = cli("auto", "--dry-run")
    assert out["status"] == "Success" and out["dry_run"] is True
    out = cli("set-properties", "--unset", "owner")
    assert "owner" not in out["properties"]


# ---------- write.parquet.compression ----------


def _codecs_of(t):
    """Distinct parquet codecs across every live data file (base+delta),
    read from the footers."""
    import pyarrow.parquet as pq

    m = t.manifest()
    out = set()
    paths = [p for ps in m["files"].values() for p in ps]
    for ps in (m.get("delta_files") or {}).values():
        paths += ps
    for p in paths:
        md = pq.ParquetFile(os.path.join(t.root, p)).metadata
        for g in range(md.num_row_groups):
            out.add(md.row_group(g).column(0).compression)
    return out


def test_write_compression_property_applies_to_every_write_site(
    spark, tmp_root
):
    """write.parquet.compression=zstd: delta staging, compaction and CoW
    rewrites all write zstd files; state is identical to a default-codec
    twin; files() sizes are real."""
    zt = ManifestTable.create(
        spark,
        os.path.join(tmp_root, "z"),
        TRANSCRIPT_SCHEMA,
        n_buckets=2,
        properties={"write.parquet.compression": "zstd"},
    )
    dt = ManifestTable.create(
        spark, os.path.join(tmp_root, "d"), TRANSCRIPT_SCHEMA, n_buckets=2
    )
    for t in (zt, dt):
        t.merge(_changes(spark, _rows(40)), 0, mode="delta")
        t.merge(_changes(spark, _rows(40, start_key=40, lsn0=100)), 1, mode="delta")
        t.compact()
        t.merge(_changes(spark, _rows(10, start_key=80, lsn0=200)), 2, mode="cow")
    assert _codecs_of(zt) == {"ZSTD"}
    assert "ZSTD" not in _codecs_of(dt)  # Spark default (snappy)
    a = sorted(map(tuple, zt.read().drop("ts").collect()))
    b = sorted(map(tuple, dt.read().drop("ts").collect()))
    assert a == b and a


def test_write_compression_set_later_rewrites_on_compaction(spark, table):
    assert table.set_properties(
        {"write.parquet.compression": "gzip"}
    )["status"] == "Success"
    # new writes pick it up immediately
    table.merge(_changes(spark, _rows(6, start_key=6, lsn0=50)), 1, mode="delta")
    assert "GZIP" in _codecs_of(table)
    # a full rewrite converts the pre-property files too
    st = table.compact(min_delta_files=0)
    assert st["status"] == "Success"
    assert _codecs_of(table) == {"GZIP"}


def test_write_property_validation(spark, table):
    with pytest.raises(ValueError, match="one of"):
        table.set_properties({"write.parquet.compression": "zip"})
    with pytest.raises(ValueError, match="unknown write property"):
        table.set_properties({"write.parquet.codec": "zstd"})
    with pytest.raises(ValueError, match="one of"):
        ManifestTable.create(
            spark,
            table.root + "_bad",
            TRANSCRIPT_SCHEMA,
            properties={"write.parquet.compression": "zip"},
        )
