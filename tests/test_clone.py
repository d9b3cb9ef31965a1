"""Zero-copy shallow clone (`ManifestTable.clone` — Delta SHALLOW CLONE
/ Iceberg snapshot-ref-table analogue): one metadata commit forks a
table; the clone references the source's data files in place (absolute
`ext://` manifest entries), every write lands under the clone's own
root, and `compact(min_delta_files=0)` localizes (materializes) it.
The documented hazard — the SOURCE's GC can delete files the clone
references — is exactly what `clone.check()` detects and a source tag
pins against."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import types as T

from event_driven_etl_msc_research_spark.schemas import TRANSCRIPT_SCHEMA
from event_driven_etl_msc_research_spark.sinks.manifest import (
    _EXT_PREFIX,
    ManifestTable,
)


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


def _rows(n, start_key=0, lsn0=0, ts0=1000, text="t"):
    return [
        ("U", lsn0 + i, ts0 + i, f"c{(start_key + i) % 5}",
         (start_key + i) // 5, "user", f"{text}-{start_key + i}", None)
        for i in range(n)
    ]


def _state(t, version=None):
    return sorted(
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in t.read(version=version).collect()
    )


def _ext_refs(t):
    m = t.manifest()
    return [
        p
        for d in (m["files"], m.get("delta_files") or {})
        for ps in d.values()
        for p in ps
        if p.startswith(_EXT_PREFIX)
    ]


@pytest.fixture()
def source(spark, tmp_root, storage_factory):
    t = ManifestTable.create(
        spark,
        os.path.join(tmp_root, "src"),
        TRANSCRIPT_SCHEMA,
        n_buckets=4,
        storage=storage_factory(os.path.join(tmp_root, "src")),
    )
    t.merge(_changes(spark, _rows(12)), 0, mode="delta", epoch_scope="wal")
    t.merge(
        _changes(spark, _rows(6, start_key=12, lsn0=100, ts0=2000)),
        1,
        mode="delta",
        epoch_scope="wal",
    )
    return t


def test_clone_is_zero_copy_and_state_identical(spark, source, tmp_root):
    c = source.clone(os.path.join(tmp_root, "fork"))
    assert _state(c) == _state(source)
    # metadata-only: the clone owns ZERO data bytes, every ref is external
    assert not os.path.exists(os.path.join(c.root, "data"))
    refs = _ext_refs(c)
    assert refs and all(os.path.exists(p[len(_EXT_PREFIX):]) for p in refs)
    m = c.manifest()
    assert m["cloned_from"]["root"] == source.root
    assert m["cloned_from"]["version"] == source.current_version()
    # captured sizes cover every reference (files() has no source LIST)
    assert set(m["external_sizes"]) == set(refs)
    # pruned point lookup works through rewritten stats keys
    got = sorted(
        r["text"]
        for r in c.read(where={"conv_id": ("c2", "c2")}).collect()
    )
    assert got == sorted(
        f"t-{i}" for i in range(18) if i % 5 == 2
    )


def test_clone_writes_are_isolated_both_ways(spark, source, tmp_root):
    c = source.clone(os.path.join(tmp_root, "fork"))
    sv, ss = source.current_version(), _state(source)
    # destructive DML on the fork: source untouched
    c.merge(
        _changes(spark, [("D", 500, 9000, "c0", 0, None, None, None)]),
        50,
        mode="delta",
        epoch_scope="fork",
    )
    c.delete_where("turn_idx >= 2", epoch_id=51)
    assert source.current_version() == sv
    assert _state(source) == ss
    assert len(_state(c)) < len(ss)
    # new writes under the clone's own root only
    m = c.manifest()
    local = [
        p
        for d in (m["files"], m.get("delta_files") or {})
        for ps in d.values()
        for p in ps
        if not p.startswith(_EXT_PREFIX)
    ]
    assert local and all(
        os.path.exists(os.path.join(c.root, p)) for p in local
    )
    # clone bookkeeping carried through the commits
    assert m["cloned_from"]["root"] == source.root
    assert m.get("external_sizes")
    # source writes after the fork never reach the clone
    cs = _state(c)
    source.merge(
        _changes(spark, _rows(4, start_key=40, lsn0=900, ts0=9000)),
        2,
        mode="delta",
        epoch_scope="wal",
    )
    assert _state(c) == cs


def test_clone_carries_the_epoch_ledger(spark, source, tmp_root):
    """Replaying the source's WAL against the fork must skip epochs the
    cloned snapshot already contains — exactly-once survives the fork."""
    c = source.clone(os.path.join(tmp_root, "fork"))
    res = c.merge(
        _changes(spark, _rows(12)), 0, mode="delta", epoch_scope="wal"
    )
    assert res["status"] == "Skipped"
    res = c.merge(
        _changes(spark, _rows(4, start_key=30, lsn0=300, ts0=3000)),
        2,
        mode="delta",
        epoch_scope="wal",
    )
    assert res["status"] == "Success"


def test_optimize_localizes_the_clone(spark, source, tmp_root):
    """compact(min_delta_files=0) rewrites every bucket under the clone's
    root — a shallow clone becomes a deep (materialized) one, immune to
    source GC; state identical throughout."""
    c = source.clone(os.path.join(tmp_root, "fork"))
    st = _state(c)
    c.compact(min_delta_files=0)
    assert _state(c) == st
    assert _ext_refs(c) == []
    assert "external_sizes" not in c.manifest()
    # now the source tree can vanish entirely
    import shutil

    shutil.rmtree(os.path.join(source.root, "data"))
    assert _state(c) == st
    assert c.check()["status"] == "Success"


def test_source_vacuum_hazard_detected_and_tag_pins(spark, tmp_root,
                                                    storage_factory):
    src_root = os.path.join(tmp_root, "src")
    source = ManifestTable.create(
        spark, src_root, TRANSCRIPT_SCHEMA, n_buckets=2,
        storage=storage_factory(src_root),
    )
    source.merge(_changes(spark, _rows(8)), 0, mode="delta")
    c = source.clone(os.path.join(tmp_root, "fork"))
    assert c.check()["status"] == "Success"

    # a tag on the cloned snapshot pins its files through source GC
    pinned_v = source.current_version()
    source.tag("forked", pinned_v)
    source.merge(
        _changes(spark, _rows(8, lsn0=100, ts0=2000, text="n")),
        1,
        mode="cow",  # rewrites buckets: old delta files become unreferenced
    )
    source.expire_snapshots(keep_last=1)
    assert source.vacuum(grace_s=0) == []  # tag holds every cloned file
    assert c.check()["status"] == "Success"

    # untag: the source GC is now free to break the clone — check() says so
    source.untag("forked")
    removed = source.vacuum(grace_s=0)
    assert removed
    rep = c.check()
    assert rep["status"] == "Corrupt"
    assert rep["missing_files"] and all(
        p.startswith(_EXT_PREFIX) for p in rep["missing_files"]
    )


def test_clone_vacuum_never_touches_source_bytes(spark, source, tmp_root):
    c = source.clone(os.path.join(tmp_root, "fork"))
    st = _state(c)
    # give the clone local versions + local garbage to actually collect
    c.merge(
        _changes(spark, _rows(3, start_key=30, lsn0=300, ts0=3000)),
        60,
        mode="delta",
    )
    c.compact()  # supersedes the local delta dir
    c.expire_snapshots(keep_last=1)
    c.vacuum(grace_s=0)
    assert _state(source.clone(os.path.join(tmp_root, "fork2"))) == _state(
        source
    )  # source tree fully intact: a fresh clone still reads everything
    assert sorted(_state(c)) == sorted(
        st + [(f"c{(30 + i) % 5}", (30 + i) // 5, f"t-{30 + i}")
              for i in range(3)]
    )


def test_historical_clone_and_misuse(spark, source, tmp_root):
    v1_state = _state(source, version=1)
    source.tag("v1", 1)
    c_v = source.clone(os.path.join(tmp_root, "byver"), version=1)
    c_t = source.clone(os.path.join(tmp_root, "bytag"), tag="v1")
    assert _state(c_v) == v1_state
    assert _state(c_t) == v1_state
    with pytest.raises(ValueError, match="not both"):
        source.clone(os.path.join(tmp_root, "x"), version=1, tag="v1")
    with pytest.raises(ValueError, match="unknown tag"):
        source.clone(os.path.join(tmp_root, "x"), tag="nope")
    with pytest.raises(ValueError, match="already exists"):
        source.clone(c_v.root)


def test_clone_of_clone_points_at_original_bytes(spark, source, tmp_root):
    c1 = source.clone(os.path.join(tmp_root, "f1"))
    c2 = c1.clone(os.path.join(tmp_root, "f2"))
    assert _state(c2) == _state(source)
    src_data = os.path.join(source.root, "data")
    for p in _ext_refs(c2):
        assert p[len(_EXT_PREFIX):].startswith(src_data)
    assert c2.manifest()["cloned_from"]["root"] == c1.root


def test_historical_clone_of_localized_clone_keeps_sizes(
    spark, source, tmp_root
):
    """A historical clone takes the external sizes of the snapshot it
    clones: the head of a localized clone no longer records them."""
    c1 = source.clone(os.path.join(tmp_root, "f1"))
    v0 = c1.current_version()
    c1.compact(min_delta_files=0)  # localizes: the head has no ext refs
    c2 = c1.clone(os.path.join(tmp_root, "f2"), version=v0)
    refs = _ext_refs(c2)
    assert refs and set(c2.manifest()["external_sizes"]) == set(refs)
    assert c2.files().filter("size_bytes IS NULL").count() == 0


def test_clone_is_spark_free_and_metadata_tables_work(spark, source,
                                                      tmp_root):
    # metadata-only verb on a handle with no SparkSession
    c = ManifestTable(None, source.root).clone(os.path.join(tmp_root, "f"))
    c = ManifestTable(spark, c.root)
    f = c.files().toPandas()
    assert (f["file_path"].str.startswith(_EXT_PREFIX)).all()
    assert (f["size_bytes"] > 0).all()
    assert c.partitions().count() > 0
    h = c.history().collect()
    assert len(h) == 1 and h[0]["epoch_id"].startswith("clone:")


def test_clone_feeds_the_edem_cdc_source(spark, source, tmp_root):
    """The batch bootstrap read ships the clone's whole (external) log."""
    from event_driven_etl_msc_research_spark.sources.table_source import (
        register_cdc_source,
    )

    register_cdc_source(spark)
    c = source.clone(os.path.join(tmp_root, "fork"))
    df = spark.read.format("edem_cdc").option("path", c.root).load()
    assert df.count() == 18
    fresh = ManifestTable.create(
        spark, os.path.join(tmp_root, "replayed"), TRANSCRIPT_SCHEMA,
        n_buckets=8,
    )
    fresh.merge(df, epoch_id=0, mode="delta")
    assert _state(fresh) == _state(source)
