"""LineageLog: long-tail shard compaction + thread-safe flush.

A continuous tail flushes one small parquet object per epoch (the write
path that replaced per-epoch Spark jobs); ``compact()`` must bound the
object count over a long run while leaving every queryable result
identical.  Every suite runs over both storage backends: the log writes,
lists, reads and deletes its shards only through ``TableStorage``.
"""

from __future__ import annotations

import threading

from event_driven_etl_msc_research_spark.lineage import LineageLog


def _n_shards(log, prefix):
    return sum(o.key.endswith(".parquet") for o in log.storage.list(prefix))


def _log(spark, root, storage_factory, **kw):
    return LineageLog(spark, root, storage=storage_factory(root), **kw)


def test_long_tail_compaction_bounded_and_identical(spark, tmp_root, storage_factory):
    log = _log(spark, tmp_root, storage_factory, tenant_id="t0")
    for epoch in range(60):  # one flushed shard per epoch, like a real tail
        log.record_stage(epoch, "merge", "Success", duration_s=0.5)
        log.record_partitions(epoch, "merge", {0: 10, 1: 5})
        log.flush()
    assert _n_shards(log, "_lineage") >= 60

    before_report = sorted(
        (r["stage"], r["total_duration_s"], r["n_epochs"])
        for r in log.stage_report().collect()
    )
    before_rows = sorted(
        (r["epoch_id"], r["stage"], r["status"]) for r in log.lineage().collect()
    )
    before_reg = sorted(
        (r["epoch_id"], r["partition_id"], r["n_records"])
        for r in log.chunk_registry().collect()
    )

    removed = log.compact(max_files=8)
    assert removed >= 120  # both prefixes folded
    assert _n_shards(log, "_lineage") == 1
    assert _n_shards(log, "_chunk_registry") == 1

    assert sorted(
        (r["stage"], r["total_duration_s"], r["n_epochs"])
        for r in log.stage_report().collect()
    ) == before_report
    assert sorted(
        (r["epoch_id"], r["stage"], r["status"]) for r in log.lineage().collect()
    ) == before_rows
    assert sorted(
        (r["epoch_id"], r["partition_id"], r["n_records"])
        for r in log.chunk_registry().collect()
    ) == before_reg

    # further epochs append fresh shards; a second compact folds again
    for epoch in range(60, 80):
        log.record_stage(epoch, "merge", "Success", duration_s=0.5)
        log.flush()
    assert _n_shards(log, "_lineage") == 21
    log.compact(max_files=8)
    assert _n_shards(log, "_lineage") == 1
    assert log.lineage().count() == 80


def test_compact_below_threshold_is_noop(spark, tmp_root, storage_factory):
    log = _log(spark, tmp_root, storage_factory)
    for epoch in range(4):
        log.record_stage(epoch, "merge", "Success")
        log.flush()
    assert log.compact(max_files=8) == 0
    assert _n_shards(log, "_lineage") == 4


def test_concurrent_record_and_flush_lose_nothing(spark, tmp_root, storage_factory):
    """The replay() finally-flush can race the streaming thread's
    record_stage/flush; under the buffer lock no row may be lost or
    duplicated."""
    log = _log(spark, tmp_root, storage_factory)
    n_threads, per_thread = 4, 200

    def writer(tid):
        for i in range(per_thread):
            log.record_stage(tid * per_thread + i, f"s{tid}", "Success")
            if i % 7 == 0:
                log.flush()

    threads = [threading.Thread(target=writer, args=(t,)) for t in range(n_threads)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(120)
        assert not t.is_alive()
    log.flush()
    rows = log.lineage().collect()
    assert len(rows) == n_threads * per_thread
    assert len({r["epoch_id"] for r in rows}) == n_threads * per_thread
