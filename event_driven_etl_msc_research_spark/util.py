"""Small shared plan utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def sql_ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier: a column called
    ``a.b`` or ``tool meta`` names exactly that column, never a struct
    field or a syntax error."""
    return "`" + name.replace("`", "``") + "`"


def sql_type(dt: T.DataType) -> str:
    """``dt`` as SQL type text for ``CAST(... AS <text>)``; struct field
    names are quoted.  Plans on the hot paths are built from SQL text
    (one ``selectExpr``/``F.expr`` per step) because every ``F.col``/
    ``F.lit``/``.alias``/``.cast`` is a separate round of py4j gateway
    calls, while a parsed expression string costs a handful."""
    if isinstance(dt, T.StructType):
        return "struct<" + ",".join(
            f"{sql_ident(f.name)}:{sql_type(f.dataType)}"
            + ("" if f.nullable else " NOT NULL")
            for f in dt.fields
        ) + ">"
    if isinstance(dt, T.ArrayType):
        return f"array<{sql_type(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"map<{sql_type(dt.keyType)},{sql_type(dt.valueType)}>"
    return dt.simpleString()


def nullsafe_semi_anti(
    left: DataFrame,
    right: DataFrame,
    cols: list[str],
    how: str,
    broadcast: bool = False,
) -> DataFrame:
    """``left_semi`` / ``left_anti`` join on ``cols`` with NULL-SAFE
    equality (SQL ``<=>``).

    ``on=cols`` equality never matches a NULL value, which silently drops
    NULL-valued groups from a semi-join restriction and spuriously keeps
    them in an anti-join — for a grouped consumer (e.g. a derived table
    grouped on a nullable column) that makes the NULL group vanish.  A
    null-safe equality is still a hash-join key for Spark, so broadcast
    hash semi/anti plans are preserved (``broadcast=True`` hints the right
    side).  Only ``cols`` of ``right`` participate; its other columns are
    dropped before the join."""
    r = right.selectExpr(*[f"{sql_ident(c)} AS {sql_ident('_ns_' + c)}" for c in cols])
    if broadcast:
        r = F.broadcast(r)
    cond = " AND ".join(f"{sql_ident(c)} <=> {sql_ident('_ns_' + c)}" for c in cols)
    return left.join(r, F.expr(cond), how)


def spread_small_input(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition when the scan produced fewer partitions than
    the session's parallelism.

    WHY: Spark splits files by bytes (``spark.sql.files.maxPartitionBytes``),
    so a small parquet file (e.g. 600 KB of documents) arrives as ONE
    partition and every downstream per-row computation (shingle hashing,
    cosine scoring) runs single-threaded up to the first shuffle — and the
    map-side partial aggregate before that shuffle is single-threaded too.
    At 100 TB inputs have thousands of splits and this is a no-op; on small
    inputs it buys near-linear speedup of compute-bound map work for the
    cost of shuffling a tiny input once.

    The split-count probe is ``len(df.inputFiles())`` — metadata only, no
    RDD conversion (``df.rdd.getNumPartitions()`` would instantiate the RDD
    lineage and re-run file listing / plan conversion per call).  Each small
    file is at most a handful of splits, so few-files ⇒ few-partitions is
    the right cheap proxy; a non-file-backed plan (empty ``inputFiles``)
    passes through untouched.
    """
    import os
    from urllib.parse import urlparse

    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    files = df.inputFiles()
    if not files or len(files) >= target:
        return df
    # size guard: spreading is a SMALL-input fix — one big file already
    # splits into many byte-range partitions, and shuffling it would cost
    # more than it saves.  Local paths are stat-able; an un-stat-able
    # object-store URI means we're on a real cluster where inputs are big
    # and spreading should be skipped anyway.
    try:
        total = sum(
            os.path.getsize(urlparse(f).path or f) for f in files
        )
    except OSError:
        return df
    if total >= 64 * 1024 * 1024:  # not small — let byte-range splits rule
        return df
    return df.repartition(target)
