"""Gzip'd manifest objects: a manifest is rewritten WHOLE per commit
(O(files) bytes riding every publish and every verb's head read), so
the object is stored gzip-compressed."""

from __future__ import annotations

import json
import os

import pandas as pd
from pyspark.sql import types as T

from event_driven_etl_msc_research_spark.schemas import TRANSCRIPT_SCHEMA
from event_driven_etl_msc_research_spark.sinks.manifest import ManifestTable


def _batch(spark, lsn, n=6):
    pdf = pd.DataFrame(
        [
            ("U", lsn + i, 1000 + lsn + i, f"c{lsn}-{i % 3}", i // 3, "user",
             f"text-{lsn + i}-" + "x" * 50, None)
            for i in range(n)
        ],
        columns=["op", "lsn", "ts", "conv_id", "turn_idx", "role", "text", "tool"],
    )
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


def test_published_manifests_are_gzipped_and_smaller(
    spark, tmp_root, storage_factory
):
    root = os.path.join(tmp_root, "gz_tbl")
    t = ManifestTable.create(
        spark, root, TRANSCRIPT_SCHEMA, n_buckets=4,
        storage=storage_factory(root),
    )
    t.merge(_batch(spark, 100), epoch_id=1, mode="delta")
    v = t.current_version()
    raw = t.storage.get(t._manifest_key(v))
    assert raw[:2] == b"\x1f\x8b", "manifest object must be gzip'd"
    assert len(raw) < len(json.dumps(t.manifest(v)).encode())
