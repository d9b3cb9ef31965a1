"""Mid-stream additive schema evolution (SURVEY.md §5.4, FIXTURES.md F2):
``tool_meta`` appears partway through the change log; old rows read null,
new rows populated, table schema version bumped."""

from __future__ import annotations

import json
import os
import shutil

from conftest import assert_pdf_equal

from event_driven_etl_msc_research_spark import CDCEngine
from event_driven_etl_msc_research_spark.datagen import (
    ChangeStreamSpec,
    generate_change_stream,
)
from event_driven_etl_msc_research_spark.oracle import oracle_final_state
from event_driven_etl_msc_research_spark.schemas import (
    CHANGE_EVENT_SCHEMA,
    CHANGE_EVENT_SCHEMA_EVOLVED,
)

COLS = ["conv_id", "turn_idx", "role", "text", "tool", "tool_meta", "ts"]

# evolve boundary aligned to segment AND shuffle-window boundaries so
# pre-evolution segments contain only pre-evolution events (see datagen)
SPEC = ChangeStreamSpec(
    n_events=4_000,
    n_convs=80,
    segment_size=500,
    ooo_window=250,
    evolve_at_frac=0.5,
    dup_segments=(),
    seed=5,
)


import pytest


@pytest.mark.parametrize("mode", ["cow", "delta"])
def test_mid_stream_evolution(spark, tmp_root, mode):
    log = os.path.join(tmp_root, "log")
    gen = generate_change_stream(log, SPEC)
    # segments 0-3 = pre-evolution (no tool_meta key anywhere in the file)
    for p in gen.segment_paths[:4]:
        with open(p) as f:
            assert all("tool_meta" not in json.loads(line) for line in f)

    early, late = os.path.join(tmp_root, "early"), os.path.join(tmp_root, "late")
    os.makedirs(early), os.makedirs(late)
    for p in gen.segment_paths[:4]:
        shutil.copy(p, early)
    for p in gen.segment_paths[4:]:
        shutil.copy(p, late)

    tbl = os.path.join(tmp_root, "table")
    # phase 1: engine runs with the ORIGINAL schema
    eng1 = CDCEngine(
        spark, tbl, change_schema=CHANGE_EVENT_SCHEMA, n_buckets=8,
        merge_mode=mode,
    )
    eng1.replay(early, os.path.join(tmp_root, "cp1"))
    assert "tool_meta" not in [f.name for f in eng1.table.schema().fields]
    v_pre = eng1.table.current_version()

    # phase 2: source DDL added tool_meta → engine restarts with evolved schema
    eng2 = CDCEngine(
        spark, tbl, change_schema=CHANGE_EVENT_SCHEMA_EVOLVED, n_buckets=8,
        merge_mode=mode,
    )
    eng2.replay(late, os.path.join(tmp_root, "cp2"))
    assert "tool_meta" in [f.name for f in eng2.table.schema().fields]
    assert eng2.table.current_version() > v_pre

    # full equality incl. nulls for pre-evolution winners
    got = eng2.read_table().orderBy("conv_id", "turn_idx").toPandas()
    exp = oracle_final_state(SPEC)
    assert_pdf_equal(got, exp, COLS)
    # sanity: both populated and null tool_meta exist
    assert got["tool_meta"].notna().any() and got["tool_meta"].isna().any()

    # time travel to the pre-evolution snapshot still reads the OLD schema
    assert "tool_meta" not in [
        f.name for f in eng2.table.schema(version=v_pre).fields
    ]


def _mk_table(spark, tmp_root, name, fields):
    import os as _os

    from pyspark.sql import types as T

    from event_driven_etl_msc_research_spark.sinks.manifest import ManifestTable

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("k", T.StringType()),
            *fields,
        ]
    )
    return ManifestTable.create(
        spark, _os.path.join(tmp_root, name), schema, key_cols=["k"], n_buckets=2
    )


def _changes(spark, rows, val_type):
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["op", "lsn", "ts", "k", "val"])
    df = spark.createDataFrame(pdf)
    return df.selectExpr(
        "op", "CAST(lsn AS BIGINT) lsn", "CAST(ts AS TIMESTAMP) ts", "k",
        f"CAST(val AS {val_type}) val",
    )


def test_type_widening_int_to_long(spark, tmp_root):
    """An incoming LONG column widens an INT table column (Iceberg-style
    promotion); rows written before the widening read back through the
    widened schema."""
    from pyspark.sql import types as T

    t = _mk_table(spark, tmp_root, "widen", [T.StructField("val", T.IntegerType())])
    t.merge(_changes(spark, [("U", 1, "2024-01-01", "a", 7)], "INT"), 0)
    assert dict(t.read().dtypes)["val"] == "int"

    big = 2**40
    t.merge(_changes(spark, [("U", 2, "2024-01-02", "b", big)], "BIGINT"), 1)
    assert dict(t.read().dtypes)["val"] == "bigint"
    got = {r["k"]: r["val"] for r in t.read().collect()}
    assert got == {"a": 7, "b": big}  # pre-widening row intact, up-cast


def test_type_narrow_batch_upcast(spark, tmp_root):
    """An incoming INT column on a LONG table keeps the table type; the
    batch is up-cast (never narrows the table)."""
    from pyspark.sql import types as T

    t = _mk_table(spark, tmp_root, "narrow", [T.StructField("val", T.LongType())])
    t.merge(_changes(spark, [("U", 1, "2024-01-01", "a", 5)], "INT"), 0)
    assert dict(t.read().dtypes)["val"] == "bigint"
    assert t.read().collect()[0]["val"] == 5


def test_cross_family_conflict_still_raises(spark, tmp_root):
    from pyspark.sql import types as T

    from event_driven_etl_msc_research_spark.sinks.manifest import (
        SchemaEvolutionError,
    )

    t = _mk_table(spark, tmp_root, "conflict", [T.StructField("val", T.LongType())])
    with pytest.raises(SchemaEvolutionError, match="val"):
        t.merge(_changes(spark, [("U", 1, "2024-01-01", "a", 1.5)], "DOUBLE"), 0)


def test_added_reserved_column_rejected(spark, tmp_root):
    """Evolution cannot smuggle in an engine-reserved column name: a change
    batch carrying a NEW column named like an internal/writer column
    (_lsn/_deleted/_bucket/_pb/_z) raises SchemaEvolutionError instead of
    silently entering the schema and being clobbered by later writes."""
    from pyspark.sql import types as T

    from event_driven_etl_msc_research_spark.sinks.manifest import (
        SchemaEvolutionError,
    )

    t = _mk_table(spark, tmp_root, "resv", [T.StructField("val", T.LongType())])
    t.merge(_changes(spark, [("U", 1, "2024-01-01", "a", 1)], "BIGINT"), 0)
    bad = _changes(spark, [("U", 2, "2024-01-02", "b", 2)], "BIGINT")
    bad = bad.selectExpr("*", "'x' AS _z")
    with pytest.raises(SchemaEvolutionError, match="reserved"):
        t.merge(bad, 1)
    # table unchanged, subsequent valid merges still work
    t.merge(_changes(spark, [("U", 3, "2024-01-03", "c", 3)], "BIGINT"), 2)
    assert t.read().count() == 2


@pytest.mark.parametrize("mode", ["cow", "delta"])
def test_key_widening_batch_refused(spark, tmp_root, mode):
    """A batch carrying a key column wider than the table's type is
    refused before any staging: ``xxhash64`` hashes an ``int`` and a
    ``bigint`` differently, so a widened key would land its new versions
    in another bucket and split keys (21 rows for 20 keys).  The same
    batch cast to the table type lands."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from event_driven_etl_msc_research_spark.sinks.manifest import (
        ManifestTable,
        SchemaEvolutionError,
    )

    schema = T.StructType(
        [
            T.StructField("k", T.IntegerType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("v", T.StringType()),
        ]
    )
    t = ManifestTable.create(
        spark, os.path.join(tmp_root, "kw"), schema, key_cols=["k"], n_buckets=8
    )
    t.merge(
        spark.range(20).selectExpr(
            "'U' op", "id lsn", "CAST(id AS INT) k",
            "TIMESTAMP'2024-01-01' ts", "concat('old', id) v",
        ),
        0,
        mode=mode,
    )
    wide = spark.range(1).selectExpr(
        "'U' op", "100L lsn", "5L k", "TIMESTAMP'2024-02-01' ts", "'new5' v"
    )

    def tree():
        return sorted(
            os.path.join(d, f) for d, _, fs in os.walk(t.root) for f in fs
        )

    v, before = t.current_version(), tree()
    with pytest.raises(SchemaEvolutionError, match="'k'"):
        t.merge(wide, 1, mode=mode)
    assert t.current_version() == v and tree() == before  # nothing staged
    assert t.schema()["k"].dataType == T.IntegerType()

    assert t.merge(wide.withColumn("k", F.col("k").cast("int")), 1, mode=mode)[
        "status"
    ] == "Success"
    assert t.read().count() == t.count() == 20
    assert [r.v for r in t.read().filter("k = 5").collect()] == ["new5"]
