"""ManifestTable: MERGE semantics, exactly-once, evolution, time travel.

Covers the transaction layer that replaces the reference's tracking rows +
compensation lambdas (SURVEY.md §2.8 E1-E6).
"""

from __future__ import annotations

import os
import re

import pandas as pd
import pytest
from conftest import assert_pdf_equal
from pyspark.sql import types as T

from event_driven_etl_msc_research_spark import CDCEngine
from event_driven_etl_msc_research_spark.datagen import (
    ChangeStreamSpec,
    generate_change_stream,
)
from event_driven_etl_msc_research_spark.oracle import oracle_final_state
from event_driven_etl_msc_research_spark.schemas import (
    CHANGE_EVENT_SCHEMA_EVOLVED,
    TRANSCRIPT_SCHEMA,
)
from event_driven_etl_msc_research_spark.sinks.manifest import (
    ManifestTable,
    SchemaEvolutionError,
)


def _changes_df(spark, rows, extra_cols=None):
    cols = ["op", "lsn", "ts", "conv_id", "turn_idx", "role", "text", "tool"]
    if extra_cols:
        cols += extra_cols
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
    ] + [T.StructField(c, T.StringType()) for c in (extra_cols or [])]
    return spark.createDataFrame(pdf, T.StructType(fields))


def _state(table, version=None):
    df = table.read(version=version).orderBy("conv_id", "turn_idx")
    return {
        (r["conv_id"], r["turn_idx"]): r["text"] for r in df.collect()
    }


@pytest.fixture()
def table(spark, tmp_root, storage_factory):
    # parameterized over both TableStorage backends (POSIX + fake object
    # store): every test below proves the commit protocol on each
    root = os.path.join(tmp_root, "t")
    return ManifestTable.create(
        spark, root, TRANSCRIPT_SCHEMA, n_buckets=4,
        storage=storage_factory(root),
    )


def test_create_is_idempotent(spark, tmp_root, table, storage_factory):
    root = os.path.join(tmp_root, "t")
    t2 = ManifestTable.create(
        spark, root, TRANSCRIPT_SCHEMA, n_buckets=4,
        storage=storage_factory(root),
    )
    assert t2.current_version() == 0


def test_merge_upsert_and_delete(spark, table):
    table.merge(
        _changes_df(
            spark,
            [
                ("I", 0, 100, "a", 0, "user", "hello", None),
                ("I", 1, 100, "a", 1, "assistant", "hi", None),
                ("I", 2, 100, "b", 0, "user", "x", None),
            ],
        ),
        epoch_id=0,
    )
    assert _state(table) == {("a", 0): "hello", ("a", 1): "hi", ("b", 0): "x"}
    table.merge(
        _changes_df(
            spark,
            [
                ("U", 3, 200, "a", 0, "user", "hello-edited", None),
                ("D", 4, 200, "b", 0, None, None, None),
                ("I", 5, 200, "c", 0, "user", "new", None),
            ],
        ),
        epoch_id=1,
    )
    assert _state(table) == {
        ("a", 0): "hello-edited",
        ("a", 1): "hi",
        ("c", 0): "new",
    }


def test_late_older_update_loses(spark, table):
    table.merge(
        _changes_df(spark, [("I", 10, 500, "a", 0, "user", "newest", None)]), 0
    )
    # an older change arriving in a LATER batch must not overwrite
    table.merge(
        _changes_df(spark, [("U", 5, 400, "a", 0, "user", "stale", None)]), 1
    )
    assert _state(table) == {("a", 0): "newest"}


def test_tombstone_blocks_resurrection(spark, table):
    table.merge(_changes_df(spark, [("I", 1, 100, "a", 0, "user", "v1", None)]), 0)
    table.merge(_changes_df(spark, [("D", 9, 900, "a", 0, None, None, None)]), 1)
    # late out-of-order update OLDER than the delete must not resurrect
    table.merge(_changes_df(spark, [("U", 5, 500, "a", 0, "user", "zombie", None)]), 2)
    assert _state(table) == {}
    # but a genuinely NEWER insert after the delete must win
    table.merge(_changes_df(spark, [("I", 12, 1200, "a", 0, "user", "reborn", None)]), 3)
    assert _state(table) == {("a", 0): "reborn"}


def test_epoch_idempotence(spark, table):
    df = _changes_df(spark, [("I", 0, 100, "a", 0, "user", "once", None)])
    r1 = table.merge(df, epoch_id=7)
    v = table.current_version()
    r2 = table.merge(df, epoch_id=7)  # re-delivery of a committed epoch
    assert r1["status"] == "Success" and r2["status"] == "Skipped"
    assert table.current_version() == v  # no new snapshot
    assert _state(table) == {("a", 0): "once"}


def test_time_travel(spark, table):
    table.merge(_changes_df(spark, [("I", 0, 100, "a", 0, "user", "v1", None)]), 0)
    v1 = table.current_version()
    table.merge(_changes_df(spark, [("U", 1, 200, "a", 0, "user", "v2", None)]), 1)
    assert _state(table, version=v1) == {("a", 0): "v1"}
    assert _state(table) == {("a", 0): "v2"}


def test_additive_schema_evolution(spark, table):
    table.merge(_changes_df(spark, [("I", 0, 100, "a", 0, "user", "old", None)]), 0)
    r = table.merge(
        _changes_df(
            spark,
            [("I", 1, 200, "b", 0, "tool", "new", "bash", "meta1")],
            extra_cols=["tool_meta"],
        ),
        1,
    )
    assert r["added_cols"] == ["tool_meta"]
    assert "tool_meta" in [f.name for f in table.schema().fields]
    got = {
        (r["conv_id"], r["turn_idx"]): r["tool_meta"]
        for r in table.read().collect()
    }
    # pre-evolution row (possibly in an untouched, unrewritten file) → null
    assert got == {("a", 0): None, ("b", 0): "meta1"}


def test_type_conflict_rejected(spark, table):
    pdf = pd.DataFrame(
        [("I", 0, pd.Timestamp(100, unit="s", tz="UTC"), "a", 0, 123)],
        columns=["op", "lsn", "ts", "conv_id", "turn_idx", "role"],
    )
    schema = T.StructType(
        [
            T.StructField("op", T.StringType()),
            T.StructField("lsn", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("role", T.LongType()),  # was string
        ]
    )
    with pytest.raises(SchemaEvolutionError):
        table.merge(spark.createDataFrame(pdf, schema), 0)


def test_crash_before_publish_then_retry(spark, table):
    """Write-audit-publish: a crash after staging leaves table state
    untouched; the retry converges (replaces compensation deletes E3)."""
    df = _changes_df(spark, [("I", 0, 100, "a", 0, "user", "hello", None)])
    with pytest.raises(RuntimeError, match="Intentional"):
        table.merge(
            df,
            epoch_id=0,
            before_publish=lambda m: (_ for _ in ()).throw(
                RuntimeError("Intentional exception")
            ),
        )
    assert table.current_version() == 0  # nothing published
    assert _state(table) == {}
    r = table.merge(df, epoch_id=0)  # retry of the same epoch
    assert r["status"] == "Success"
    assert _state(table) == {("a", 0): "hello"}
    # the orphaned staging dir from the crashed attempt is vacuumable
    # (grace_s=0: eager single-writer GC; the default grace protects
    # concurrent writers' in-flight staging dirs)
    removed = table.vacuum(keep_versions=1, grace_s=0)
    assert any("-e0-a" in d for d in removed)  # the crashed attempt's dir
    assert _state(table) == {("a", 0): "hello"}


def test_audit_keys_mode(spark, table):
    df = _changes_df(spark, [("I", 0, 100, "a", 0, "user", "x", None)])
    r = table.merge(df, epoch_id=0, audit="keys")
    assert r["status"] == "Success"


def test_merge_touches_only_affected_buckets(spark, table):
    """Copy-on-write at bucket granularity: a merge must not rewrite
    buckets its batch does not touch (the 100 TB property)."""
    rows = [("I", i, 100, f"c{i}", 0, "user", f"t{i}", None) for i in range(20)]
    table.merge(_changes_df(spark, rows), 0)
    m0 = table.manifest()
    r = table.merge(_changes_df(spark, [("U", 99, 999, "c0", 0, "user", "upd", None)]), 1)
    m1 = table.manifest()
    assert len(r["touched_buckets"]) == 1
    for b, files in m1["files"].items():
        if int(b) not in r["touched_buckets"]:
            assert files == m0["files"].get(b, [])


def test_merge_job_counts(spark, tmp_root):
    """CoW is stage-first: no separate counting job, no persist.

    Jobs are counted via job groups.  AQE splits one write ACTION into a
    job per query stage; a staged write folds on its one bucket exchange,
    so it is two jobs (the exchange's map stage, then the write):

    * a delta merge is one write action, at most two jobs;
    * an initial CoW load is ONE write action — exactly the same job count
      as the delta path's single job on the same input;
    * a non-initial CoW epoch is two write actions (stage the batch + merge
      rewrite — the CoW floor: the rewrite's input file set is
      data-dependent).  The broadcast rewrite adds its three broadcast
      builds, its exchange and the write; the shuffle rewrite is a second
      delta-shaped write.
    """
    sc = spark.sparkContext

    def jobs(tag, fn):
        sc.setJobGroup(tag, tag)
        r = fn()
        sc.setJobGroup("_idle", "_idle")
        return len(sc.statusTracker().getJobIdsForGroup(tag)), r["merge_path"]

    rows1 = [("I", i, 1000 + i, f"c{i % 7}", i // 7, "user", f"t{i}", None)
             for i in range(40)]
    rows2 = [("U", 100 + i, 2000 + i, f"c{i % 7}", i // 7, "user", f"u{i}", None)
             for i in range(40)]

    td = ManifestTable.create(
        spark, os.path.join(tmp_root, "jc_delta"), TRANSCRIPT_SCHEMA, n_buckets=4
    )
    n_delta, p = jobs("jc-delta", lambda: td.merge(_changes_df(spark, rows1), 1, mode="delta"))
    assert p == "delta"
    assert n_delta <= 2

    tc = ManifestTable.create(
        spark, os.path.join(tmp_root, "jc_cow"), TRANSCRIPT_SCHEMA, n_buckets=4
    )
    n_init, p = jobs("jc-init", lambda: tc.merge(_changes_df(spark, rows1), 1))
    assert p == "initial"
    assert n_init == n_delta  # initial CoW load == one delta-shaped write job

    n_bcast, p = jobs("jc-bcast", lambda: tc.merge(_changes_df(spark, rows2), 2))
    assert p == "broadcast"
    assert n_bcast <= n_delta + 5  # + 3 broadcast builds, exchange, write

    # a CoW merge over a delta-carrying bucket must fold the deltas too, so
    # it takes the shuffle (aggregate) path
    tc.merge(
        _changes_df(spark, [("U", 150, 2500, "c1", 0, "user", "d", None)]),
        3,
        mode="delta",
    )
    n_shuf, p = jobs(
        "jc-shuf",
        lambda: tc.merge(
            _changes_df(spark, [("U", 200, 3000, "c1", 0, "user", "x", None)]),
            4,
        ),
    )
    assert p == "shuffle"
    assert n_shuf <= 2 * n_delta


def _write_plans(spark, fn) -> list[tuple[int, int]]:
    """Run ``fn``; return ``(exchanges, sorts)`` in the executed physical
    plan of each file write it ran (the final plan under AQE), read from
    the SQL status store."""
    store = spark._jsparkSession.sharedState().statusStore()

    def executions() -> dict[int, str]:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        it = store.executionsList().iterator()
        out = {}
        while it.hasNext():
            e = it.next()
            out[e.executionId()] = e.physicalPlanDescription()
        return out

    before = set(executions())
    fn()
    shapes = []
    for eid, desc in sorted(executions().items()):
        if eid in before or "InsertIntoHadoopFsRelationCommand" not in desc:
            continue
        # the node tree: up to the first blank line, and under AQE only
        # the final plan, not the initial one
        tree = desc.split("== Physical Plan ==", 1)[1].strip("\n")
        tree = tree.split("\n\n", 1)[0]
        tree = re.split(r"== (?:Final|Current) Plan ==", tree)[-1]
        tree = tree.split("== Initial Plan ==", 1)[0]
        shapes.append(tuple(
            len(re.findall(rf"(?m)^[ :+\-*]*{node} \(\d+\)", tree))
            for node in ("Exchange", "Sort")
        ))
    return shapes


@pytest.mark.parametrize("aqe", [True, False])
def test_staged_writes_run_one_exchange_and_one_sort(spark, tmp_root, aqe):
    """Every staged write that folds does it on the write's bucket
    exchange: the executed plan has one Exchange (the fold's, which
    ``_stage``'s own ``_bucket`` repartition collapses into) and one Sort
    on ``(_bucket, keys)``, serving both the aggregate and the writer's
    ``_pb`` ordering.  Under ``get_spark`` and under a session with AQE
    off."""
    s = spark
    if not aqe:
        s = spark.newSession()
        s.conf.set("spark.sql.adaptive.enabled", "false")

    def batch(epoch, op="U"):
        return _changes_df(s, [
            (op, 100 * epoch + i, 1000 * epoch + i, f"c{i % 7}", i // 7,
             "user", f"e{epoch}-{i}", None)
            for i in range(40)
        ])

    one = [(1, 1)]
    td = ManifestTable.create(
        s, os.path.join(tmp_root, "delta"), TRANSCRIPT_SCHEMA, n_buckets=4
    )
    assert _write_plans(s, lambda: td.merge(batch(1, "I"), 1, mode="delta")) == one
    td.merge(batch(2), 2, mode="delta")
    assert _write_plans(s, td.compact) == one
    td.merge(batch(3), 3, mode="delta")
    assert _write_plans(s, lambda: td.rebucket(8)) == one

    tc = ManifestTable.create(
        s, os.path.join(tmp_root, "cow"), TRANSCRIPT_SCHEMA, n_buckets=4
    )
    assert _write_plans(s, lambda: tc.merge(batch(1, "I"), 1)) == one
    tc.merge(batch(2), 2, mode="delta")
    # the change stage, then the rewrite folding it with the deltas
    shuffle = {}
    assert _write_plans(
        s, lambda: shuffle.update(tc.merge(batch(3), 3))
    ) == one + one
    assert shuffle["merge_path"] == "shuffle"
    assert td.read().count() == tc.read().count() == 40
    exp = {(f"c{i % 7}", i // 7): f"e3-{i}" for i in range(40)}
    assert _state(td) == _state(tc) == exp


def _write_tasks(spark, tag, fn):
    """Run ``fn`` under job group ``tag``; return its result and the task
    count of the group's last stage — the staging write's result stage
    (the footer audit after it reads parquet driver-side, no job)."""
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try:
        r = fn()
    finally:
        sc.setJobGroup("_idle", "_idle")
    st = sc.statusTracker()
    stages = [
        s for j in st.getJobIdsForGroup(tag) for s in st.getJobInfo(j).stageIds
    ]
    return r, st.getStageInfo(max(stages)).numTasks


def _files_per_bucket(m, key="files"):
    return {int(b): len(ps) for b, ps in (m.get(key) or {}).items() if ps}


def test_staging_write_tasks_are_sized_by_data(spark, tmp_root):
    """The staging exchange has no partition count, so AQE packs whole
    buckets into tasks by shuffle bytes: a ~1k-event epoch over 8 buckets
    writes in ONE task (one per touched bucket before, each paying the
    job's Hadoop conf deserialization), still one file per bucket.  A CoW
    rewrite has the same exchange shape."""
    rows = [
        ("U", i, 1000 + i, f"c{i % 97}", i // 97, "user", f"t{i}", None)
        for i in range(1000)
    ]
    td = ManifestTable.create(
        spark, os.path.join(tmp_root, "tasks_delta"), TRANSCRIPT_SCHEMA,
        n_buckets=8,
    )
    for epoch in (1, 2):
        r, tasks = _write_tasks(
            spark,
            f"tasks-merge-{epoch}",
            lambda: td.merge(_changes_df(spark, rows), epoch, mode="delta"),
        )
        assert r["status"] == "Success" and tasks == 1
        assert _files_per_bucket(td.manifest(), "delta_files") == {
            b: epoch for b in range(8)
        }
    r, tasks = _write_tasks(spark, "tasks-compact", td.compact)
    assert r["status"] == "Success" and tasks == 1
    m = td.manifest()
    assert _files_per_bucket(m) == {b: 1 for b in range(8)}
    assert not _files_per_bucket(m, "delta_files")
    assert td.read().count() == 1000

    # a CoW rewrite: one file per touched bucket
    tc = ManifestTable.create(
        spark, os.path.join(tmp_root, "tasks_cow"), TRANSCRIPT_SCHEMA,
        n_buckets=8,
    )
    assert tc.merge(_changes_df(spark, rows), 1)["merge_path"] == "initial"
    r = tc.merge(_changes_df(spark, rows[::3]), 2)
    assert r["merge_path"] == "broadcast"
    assert _files_per_bucket(tc.manifest()) == {b: 1 for b in range(8)}
    assert tc.read().count() == 1000


def test_replay_of_many_wal_files_runs_no_listing_job(spark, tmp_root):
    """One trigger taking 33 WAL files (over Spark's 32-path threshold for
    a parallel listing job) lists them on the driver: no "Listing leaf
    files" job, whose 33 tasks each deserialized the job's Hadoop conf to
    stat one local file."""
    spec = ChangeStreamSpec(n_events=3200, n_convs=50, segment_size=100, seed=4)
    wal = os.path.join(tmp_root, "wal")
    assert len(generate_change_stream(wal, spec).segment_paths) == 33
    eng = CDCEngine(
        spark, os.path.join(tmp_root, "t"),
        change_schema=CHANGE_EVENT_SCHEMA_EVOLVED, n_buckets=8,
        merge_mode="delta",
    )
    q = eng.replay(wal, os.path.join(tmp_root, "cp"))
    assert eng.table.current_version() == 1  # the one trigger took them all
    # a streaming query runs its jobs under its run id as job group
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    assert jobs
    descriptions = [store.job(j).description() for j in jobs]
    assert not [
        d.get() for d in descriptions
        if d.isDefined() and d.get().startswith("Listing leaf files")
    ]
    got = eng.read_table().orderBy("conv_id", "turn_idx").toPandas()
    exp = oracle_final_state(spec)
    assert_pdf_equal(got, exp, list(exp.columns))


def test_write_path_without_aqe(spark, tmp_root):
    """The same merge, compact and read on a session with AQE off: the
    table equals the oracle with one file per bucket; only the write's
    task count rises (to ``spark.sql.shuffle.partitions``)."""
    plain = spark.newSession()
    plain.conf.set("spark.sql.adaptive.enabled", "false")
    n_parts = int(plain.conf.get("spark.sql.shuffle.partitions"))
    spec = ChangeStreamSpec(n_events=1000, n_convs=60, segment_size=250, seed=6)
    wal = os.path.join(tmp_root, "wal")
    generate_change_stream(wal, spec)
    eng = CDCEngine(
        plain, os.path.join(tmp_root, "t"),
        change_schema=CHANGE_EVENT_SCHEMA_EVOLVED, n_buckets=8,
        merge_mode="delta",
    )
    r, tasks = _write_tasks(
        plain, "noaqe-merge", lambda: eng.apply_batch_once(wal, epoch_id=0)
    )
    assert r["status"] == "Success" and tasks == n_parts
    m = eng.table.manifest()
    assert set(_files_per_bucket(m, "delta_files").values()) == {1}
    r, tasks = _write_tasks(plain, "noaqe-compact", eng.table.compact)
    assert r["status"] == "Success" and tasks == n_parts
    m = eng.table.manifest()
    assert set(_files_per_bucket(m).values()) == {1}
    assert not _files_per_bucket(m, "delta_files")
    got = eng.read_table().orderBy("conv_id", "turn_idx").toPandas()
    exp = oracle_final_state(spec)
    assert_pdf_equal(got, exp, list(exp.columns))


def test_applied_epochs_fold_bounds_metadata(spark, tmp_root):
    """Long-tail manifest metadata stays bounded: contiguous epoch runs
    fold into per-scope ranges; membership (exactly-once) is preserved for
    folded, explicit, and never-applied epochs alike."""
    t = ManifestTable.create(
        spark, os.path.join(tmp_root, "fold"), TRANSCRIPT_SCHEMA, n_buckets=2
    )
    t.max_epoch_entries = 4
    for e in range(12):
        df = _changes_df(spark, [("I", e, 100 + e, f"c{e}", 0, "user", f"t{e}", None)])
        assert t.merge(df, epoch_id=e, mode="delta")["status"] == "Success"
    m = t.manifest()
    assert len(m["applied_epochs"]) <= 4
    assert m["applied_ranges"]["batch"][0] == 0
    assert m["applied_ranges"]["batch"][1] >= 7
    # folded epochs still dedupe (exactly-once across the fold)
    r = t.merge(
        _changes_df(spark, [("I", 0, 100, "c0", 0, "user", "dup", None)]),
        epoch_id=0,
        mode="delta",
    )
    assert r["status"] == "Skipped"
    # a never-applied epoch id inside no range/list applies normally
    r2 = t.merge(
        _changes_df(spark, [("I", 99, 500, "z", 0, "user", "new", None)]),
        epoch_id=99,
        mode="delta",
    )
    assert r2["status"] == "Success"
    assert _state(t)[("z", 0)] == "new"


def test_fold_applied_never_claims_unapplied_ids():
    """Unit: gaps and below-range ids must stay explicit — a range may only
    cover ids that were actually applied."""
    from event_driven_etl_msc_research_spark.sinks.manifest import (
        _epoch_applied,
        _fold_applied,
    )

    applied = [f"s:{i}" for i in (5, 6, 7, 9, 2)] + ["compact-ish-key"]
    kept, ranges = _fold_applied(applied, {}, max_entries=2)
    m = {"applied_epochs": kept, "applied_ranges": ranges}
    for i in (5, 6, 7, 9, 2):
        assert _epoch_applied(m, f"s:{i}"), i
    for i in (3, 4, 8, 10, 1, 0):
        assert not _epoch_applied(m, f"s:{i}"), i
    assert "compact-ish-key" in kept  # unparseable keys pass through
    # second fold with the existing range absorbs newly contiguous ids
    kept2, ranges2 = _fold_applied(kept + ["s:8", "s:10"], ranges, max_entries=1)
    m2 = {"applied_epochs": kept2, "applied_ranges": ranges2}
    for i in (2, 5, 6, 7, 8, 9, 10):
        assert _epoch_applied(m2, f"s:{i}"), i
    assert not _epoch_applied(m2, "s:4")


def test_fold_applied_membership_property():
    """Property (hypothesis): for ANY applied-id multiset and fold cadence,
    folding never changes membership — every applied id stays applied,
    every unapplied id stays unapplied (the exactly-once invariant)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from event_driven_etl_msc_research_spark.sinks.manifest import (
        _epoch_applied,
        _fold_applied,
    )

    @settings(max_examples=200, deadline=None)
    @given(
        ids=st.lists(st.integers(0, 40), min_size=0, max_size=60),
        max_entries=st.integers(0, 10),
        n_folds=st.integers(1, 3),
    )
    def check(ids, max_entries, n_folds):
        applied = [f"s:{i}" for i in ids]
        ranges: dict = {}
        # fold repeatedly, feeding each fold's output (plus nothing new)
        # back in — repeated folding must be stable and lossless
        kept = applied
        for _ in range(n_folds):
            kept, ranges = _fold_applied(kept, ranges, max_entries)
        m = {"applied_epochs": kept, "applied_ranges": ranges}
        applied_set = set(ids)
        for i in range(45):
            assert _epoch_applied(m, f"s:{i}") == (i in applied_set), (
                i, sorted(applied_set), kept, ranges,
            )

    check()


def test_rebucket_preserves_state_and_rescales(spark, tmp_root):
    """Bucket-count evolution: a rebucket folds MOR state, rewrites every
    row under the new hash count, keeps semantics (state, tombstones,
    exactly-once, point lookups) identical, and subsequent merges use the
    new layout."""
    t = ManifestTable.create(
        spark, os.path.join(tmp_root, "rb"), TRANSCRIPT_SCHEMA, n_buckets=2
    )
    rows = [("I", i, 100 + i, f"c{i}", 0, "user", f"t{i}", None) for i in range(16)]
    t.merge(_changes_df(spark, rows), 0)
    t.merge(_changes_df(spark, [("D", 99, 900, "c3", 0, None, None, None)]), 1,
            mode="delta")
    before = _state(t)
    assert ("c3", 0) not in before and len(before) == 15

    r = t.rebucket(8)
    assert r["status"] == "Success"
    m = t.manifest()
    assert m["n_buckets"] == 8 and not m.get("delta_files")
    assert len([b for b, ps in m["files"].items() if ps]) > 2
    assert _state(t) == before
    # tombstone survives the rewrite: an older update still cannot resurrect
    t.merge(_changes_df(spark, [("U", 50, 500, "c3", 0, "user", "zombie", None)]), 2)
    assert ("c3", 0) not in _state(t)
    # exactly-once carries through: epoch 0 is still applied
    assert t.merge(_changes_df(spark, rows), 0)["status"] == "Skipped"
    # merges + point lookups work under the new count
    t.merge(_changes_df(spark, [("U", 100, 1000, "c5", 0, "user", "upd", None)]), 3)
    got = t.read(where={"conv_id": ("c5", "c5")})
    assert [r["text"] for r in got.collect()] == ["upd"]
    assert len({p.split("/_pb=")[1].split("/")[0] for p in got.inputFiles()}) == 1
    # no-op rebucket is skipped
    assert t.rebucket(8)["status"] == "Skipped"


def test_create_rejects_reserved_and_missing_key_columns(spark, tmp_root):
    """DDL-time validation: a user column named like an engine column
    ('op'/'lsn' from the change-batch shape, or an internal underscore
    column the write paths withColumn() over) would be silently clobbered
    downstream — create() must fail loudly instead.  Likewise key_cols
    that don't exist in the schema."""
    for bad in ("op", "lsn", "_lsn", "_deleted", "_bucket", "_pb", "_z"):
        schema = T.StructType(
            [
                T.StructField("conv_id", T.StringType()),
                T.StructField("turn_idx", T.IntegerType()),
                T.StructField("ts", T.TimestampType()),
                T.StructField(bad, T.StringType()),
            ]
        )
        with pytest.raises(ValueError, match="reserved"):
            ManifestTable.create(
                spark, os.path.join(tmp_root, f"r_{bad}"), schema
            )

    with pytest.raises(ValueError, match="key_cols not in schema"):
        ManifestTable.create(
            spark,
            os.path.join(tmp_root, "k"),
            TRANSCRIPT_SCHEMA,
            key_cols=["conv_id", "nope"],
        )

    # valid schemas still create idempotently
    t = ManifestTable.create(
        spark, os.path.join(tmp_root, "ok"), TRANSCRIPT_SCHEMA
    )
    assert t.exists()


@pytest.mark.parametrize("mode", ["delta", "cow"])
def test_empty_change_batch_is_a_clean_noop_epoch(spark, table, mode):
    """An EMPTY change batch (e.g. a delete_where predicate matching
    nothing) commits a clean no-op epoch in BOTH modes.  Regression for a
    fuzz-found crash: a zero-row staging write can run zero tasks, leaving
    the audit Observation with a schemaless row the py4j conversion
    asserts on — zero staged rows (footer ground truth) now skip the
    observation reads entirely."""
    table.merge(
        _changes_df(
            spark,
            [("I", 1, 100, "c1", 0, "user", "seed", None)],
        ),
        1,
        mode=mode,
    )
    before = table.read().count()
    v = table.current_version()
    empty = _changes_df(spark, []).limit(0)
    st = table.merge(empty, 2, mode=mode)
    assert st["status"] == "Success"
    assert st["touched_buckets"] == []
    assert table.current_version() == v + 1
    assert table.read().count() == before
    # the no-op epoch is still exactly-once
    assert table.merge(empty, 2, mode=mode)["status"] == "Skipped"
    # delete_where matching nothing takes the same path
    st = table.delete_where("conv_id = 'no-such-conv'", epoch_id=3)
    assert st["status"] == "Success"
    assert table.read().count() == before
