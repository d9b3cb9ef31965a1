"""Persistent ANN indexes: build-once / search-many (ivf_build/ivf_search,
lsh_build/lsh_search) — round-3 closure of the 'index retrained inside every
query call' gap."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from event_driven_etl_msc_research_spark.operators import similarity

SF = "/root/testdata/sf0.001"
QIDS = [0, 1, 2, 3]


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _queries(spark):
    return (
        _emb(spark)
        .filter(F.col("vec_id").isin(QIDS))
        .select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").cast("array<double>").alias("qv"),
        )
    )


def test_ivf_two_searches_reuse_one_build(spark, tmp_root):
    idx = os.path.join(tmp_root, "ivf")
    similarity.ivf_build(_emb(spark), idx, n_cells=8, iters=1)
    _, v0 = similarity.index_meta(idx)

    r1 = sorted(map(tuple, similarity.ivf_search(spark, idx, _queries(spark), k=5, n_probe=3).collect()))
    # second build call with identical params must short-circuit (no retrain)
    similarity.ivf_build(_emb(spark), idx, n_cells=8, iters=1)
    r2 = sorted(map(tuple, similarity.ivf_search(spark, idx, _queries(spark), k=5, n_probe=3).collect()))

    assert similarity.index_meta(idx)[1] == v0  # one build, two searches
    assert r1 == r2 and len(r1) == len(QIDS) * 5


def test_ivf_search_matches_inline_knn_ivf(spark, tmp_root):
    idx = os.path.join(tmp_root, "ivf_eq")
    similarity.ivf_build(_emb(spark), idx, n_cells=8, iters=1)
    got = sorted(map(tuple, similarity.ivf_search(spark, idx, _queries(spark), k=5, n_probe=3).collect()))
    exp = sorted(map(tuple, similarity.knn_ivf(_emb(spark), QIDS, k=5, n_cells=8, n_probe=3, iters=1).collect()))
    assert got == exp


def _formatted_plan(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_ivf_search_scan_is_partition_pruned(spark, tmp_root):
    """The 10^10-row property: the index scan carries a PartitionFilter on
    the probed cells — only those partition directories are opened, never
    the whole corpus index.  (inputFiles() reflects the unpruned file
    index, so the assertion reads the physical plan.)"""
    import re

    idx = os.path.join(tmp_root, "ivf_prune")
    similarity.ivf_build(_emb(spark), idx, n_cells=8, iters=1)
    res = similarity.ivf_search(spark, idx, _queries(spark).limit(1), k=5, n_probe=2)
    plan = _formatted_plan(spark, res)
    m = re.search(r"PartitionFilters: \[cell#\d+ IN \(([^)]*)\)", plan)
    assert m, plan
    assert len(m.group(1).split(",")) <= 2  # exactly the n_probe cells


def test_lsh_two_searches_reuse_one_build_and_match_inline(spark, tmp_root):
    idx = os.path.join(tmp_root, "lsh")
    similarity.lsh_build(_emb(spark), idx, n_planes=4, n_tables=2, dim=64)
    _, v0 = similarity.index_meta(idx)

    r1 = sorted(map(tuple, similarity.lsh_search(spark, idx, _queries(spark), k=5, multi_probe=1).collect()))
    similarity.lsh_build(_emb(spark), idx, n_planes=4, n_tables=2, dim=64)
    r2 = sorted(map(tuple, similarity.lsh_search(spark, idx, _queries(spark), k=5, multi_probe=1).collect()))
    assert similarity.index_meta(idx)[1] == v0
    assert r1 == r2

    exp = sorted(
        map(
            tuple,
            similarity.knn_lsh_bucketed(
                _emb(spark), QIDS, k=5, n_planes=4, dim=64, multi_probe=1, n_tables=2
            ).collect(),
        )
    )
    assert r1 == exp


def test_lsh_search_scan_is_partition_pruned(spark, tmp_root):
    idx = os.path.join(tmp_root, "lsh_prune")
    similarity.lsh_build(_emb(spark), idx, n_planes=4, n_tables=2, dim=64)
    res = similarity.lsh_search(spark, idx, _queries(spark).limit(1), k=5, multi_probe=0)
    plan = _formatted_plan(spark, res)
    # the (tbl = t AND bucket = b) disjunction must reach PartitionFilters
    # — single query, no probing → one bucket per table
    seg = next(
        (l for l in plan.splitlines() if "PartitionFilters" in l and "tbl" in l),
        None,
    )
    assert seg is not None, plan
    assert seg.count("bucket#") >= 1 and "=" in seg


def _jobs_in(spark, tag, fn):
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    r = fn()
    sc.setJobGroup("_idle", "_idle")
    return len(sc.statusTracker().getJobIdsForGroup(tag)), r


def test_warm_build_with_signature_launches_no_jobs(spark, tmp_root):
    """Round-4 closure of 'count() on every warm lookup': with a caller
    corpus signature, a warm lsh_build/ivf_build is a pure meta.json
    comparison — ZERO Spark jobs (no corpus footer scan), so a steady-state
    knn search pays only the pruned probe scan itself."""
    sig = "corpus-v1"
    li = os.path.join(tmp_root, "lsh_warm")
    vi = os.path.join(tmp_root, "ivf_warm")
    similarity.lsh_build(_emb(spark), li, n_planes=4, n_tables=2, dim=64,
                         corpus_signature=sig)
    similarity.ivf_build(_emb(spark), vi, n_cells=8, iters=1,
                         corpus_signature=sig)

    # hoist the DataFrame construction: spark.read.parquet's one-off
    # listing/schema job belongs to the read, not to the warm build
    emb = _emb(spark)
    n_lsh, m1 = _jobs_in(
        spark, "warm-lsh",
        lambda: similarity.lsh_build(emb, li, n_planes=4, n_tables=2,
                                     dim=64, corpus_signature=sig))
    n_ivf, m2 = _jobs_in(
        spark, "warm-ivf",
        lambda: similarity.ivf_build(emb, vi, n_cells=8, iters=1,
                                     corpus_signature=sig))
    assert n_lsh == 0 and n_ivf == 0
    assert m1["corpus_signature"] == sig and m2["corpus_signature"] == sig

    # a CHANGED signature must force a rebuild (stale-index guard intact)
    _, v0 = similarity.index_meta(vi)
    similarity.ivf_build(_emb(spark), vi, n_cells=8, iters=1,
                         corpus_signature="corpus-v2")
    assert similarity.index_meta(vi)[1] > v0


def test_warm_build_without_signature_still_short_circuits(spark, tmp_root):
    """Fallback path: no signature → row-count staleness guard (one count
    job, no retrain/rewrite)."""
    idx = os.path.join(tmp_root, "ivf_nosig")
    similarity.ivf_build(_emb(spark), idx, n_cells=8, iters=1)
    _, v0 = similarity.index_meta(idx)
    similarity.ivf_build(_emb(spark), idx, n_cells=8, iters=1)
    assert similarity.index_meta(idx)[1] == v0


def _sorted_rows(df):
    return sorted(map(tuple, df.collect()))


def test_index_roundtrip_on_both_storage_backends(
    spark, tmp_root, storage_factory
):
    """Index metadata goes through the TableStorage verbs, so build →
    search behaves identically on the POSIX backend and the in-process
    fake object store (conditional PUT, no rename) — the property that
    makes indexes object-store-portable like the table."""
    emb = _emb(spark)
    idx = os.path.join(tmp_root, "ivf_backend")
    st = storage_factory(idx)
    m = similarity.ivf_build(emb, idx, n_cells=8, iters=0,
                             corpus_signature="base", storage=st)
    assert m["n_vectors"] == 500
    assert similarity.index_meta(idx, st) == (m, 1)
    got = _sorted_rows(
        similarity.ivf_search(spark, idx, _queries(spark), k=5, n_probe=3,
                              storage=st)
    )
    exp = _sorted_rows(
        similarity.knn_ivf(emb, QIDS, k=5, n_cells=8, n_probe=3, iters=0)
    )
    assert got == exp and len(got) == len(QIDS) * 5
