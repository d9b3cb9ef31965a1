"""Per-key max-version dedup (SURVEY.md §2.6 A5).

Reference seed: DynamoDB tracking rows are last-writer-wins by
``put_item`` on ``(CorrelationId, Stage)`` (``Phase3-Data-Extraction.py:123-136``);
the reference has **no** skew handling — a hot chunk just runs long
(``prototype-etl.json:28-39``).

Here dedup is ONE aggregate: ``(ts, lsn)`` packed into a ``decimal(38,0)``
version, then ``groupBy(key).agg(max_by(payload_struct, version))``.  One
shuffle, and Spark keeps the PARTIAL aggregate (``partial_max_by``): each
map task combines all rows of a key before the shuffle, so a hot key's
10^7 updates shrink to one row per map task.  Every comparison is on the
narrow decimal version, never the wide payload struct.  A window
formulation (``row_number() over (partition by key order by version
desc)``) has no partial step — every raw row crosses the shuffle and is
sorted on the reducer, the plan that dies on a hot conversation.

Skew is measured, not pre-empted ("Rock you like a hurricane", EuroSys
2018, argues for measuring skew before defending against it): the
``bulk_replay`` benchmark puts half its events on one conversation and
reports the worst stage's max/median records read per reducer as
``operators.dedup.reduce_skew``.  No static salt is applied.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_latest(
    df: DataFrame, key_cols: list[str], version_cols: list[str]
) -> DataFrame:
    """Keep, per key, the row with the maximum ``version_cols`` = ``(ts,
    lsn)`` tuple (see the module docstring for the plan).  Output
    preserves the input column order.  Ties on the packed version (exact
    duplicate re-deliveries, or all-null-version corrupt keys) resolve to
    an arbitrary-but-single row."""
    rest = [c for c in df.columns if c not in key_cols]
    out = (
        df.withColumn("_ver", _packed_version(df, version_cols))
        .groupBy(*key_cols)
        .agg(F.max_by(F.struct(*rest), F.col("_ver")).alias("_p"))
    )
    return out.select(
        *[
            F.col(c) if c in key_cols else F.col(f"_p.{c}").alias(c)
            for c in df.columns
        ]
    )


def _packed_version(df: DataFrame, version_cols: list[str]):
    """(ts, lsn) packed into one decimal(38,0); nulls → -1 sentinel (below
    any real non-negative WAL position, so corrupt records lose but their
    key is never dropped).

    Injective under the documented ``lsn < 10**18`` bound: the lsn term is
    shifted into ``[0, 10**18]`` and the ts multiplier is ``2*10**18``, so
    consecutive ts values are 2e18 apart while the lsn offset spans at most
    1e18 — a null-lsn sentinel can never collide with (ts-1, max-lsn), which
    the previous ``ts*10**18 + lsn`` packing allowed at the boundary."""
    ts_col, lsn_col = version_cols
    ts_dt = dict(df.dtypes).get(ts_col, "")
    ts_num = (
        F.unix_micros(F.col(ts_col).cast("timestamp"))  # ntz → session-TZ first
        if ts_dt.startswith("timestamp")
        else F.col(ts_col)
    )
    return (
        F.coalesce(ts_num.cast("decimal(18,0)"), F.lit(-1).cast("decimal(18,0)"))
        * F.lit(2 * 10**18).cast("decimal(19,0)")
        + (
            F.coalesce(
                F.col(lsn_col).cast("decimal(18,0)"),
                F.lit(-1).cast("decimal(18,0)"),
            )
            + F.lit(1).cast("decimal(1,0)")
        )
    )
