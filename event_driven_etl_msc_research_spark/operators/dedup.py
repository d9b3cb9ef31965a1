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

The plan is built from SQL text assembled in Python — the version
packing, the ``max_by`` aggregate and the output projection are one
``F.expr``/``selectExpr`` each, every identifier backtick-quoted
(``util.sql_ident``).  The Catalyst plan is the one the column-by-column
``F.col``/``F.struct``/``.alias`` form builds, but constructing it costs a
few dozen py4j gateway round trips instead of several hundred: this fold
runs in every merge, compaction and folded read, so it is a per-epoch
fixed cost of the streaming tail.  Quoting also lets payload columns
such as ``a.b`` or ``tool meta`` through, which ``F.col("_p.a.b")``
would read as a nested field.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..util import sql_ident


def dedup_latest(
    df: DataFrame, key_cols: list[str], version_cols: list[str]
) -> DataFrame:
    """Keep, per key, the row with the maximum ``version_cols`` = ``(ts,
    lsn)`` tuple (see the module docstring for the plan).  Output
    preserves the input column order.  Ties on the packed version (exact
    duplicate re-deliveries, or all-null-version corrupt keys) resolve to
    an arbitrary-but-single row."""
    q = sql_ident
    rest = [c for c in df.columns if c not in key_cols]
    out = (
        df.withColumn("_ver", _packed_version(df, version_cols))
        .groupBy(*[F.expr(q(k)) for k in key_cols])
        .agg(F.expr(f"max_by(struct({', '.join(map(q, rest))}), `_ver`) AS `_p`"))
    )
    return out.selectExpr(
        *[q(c) if c in key_cols else f"`_p`.{q(c)} AS {q(c)}" for c in df.columns]
    )


def _packed_version(df: DataFrame, version_cols: list[str]):
    """(ts, lsn) packed into one decimal(38,0); nulls → -1 sentinel (below
    any real non-negative WAL position, so corrupt records lose but their
    key is never dropped).  One ``F.expr`` of SQL text.

    Injective under the documented ``lsn < 10**18`` bound: the lsn term is
    shifted into ``[0, 10**18]`` and the ts multiplier is ``2*10**18``, so
    consecutive ts values are 2e18 apart while the lsn offset spans at most
    1e18 — a null-lsn sentinel can never collide with (ts-1, max-lsn), which
    the previous ``ts*10**18 + lsn`` packing allowed at the boundary."""
    ts_col, lsn_col = map(sql_ident, version_cols)
    ts_dt = dict(df.dtypes).get(version_cols[0], "")
    ts_num = (
        f"unix_micros(CAST({ts_col} AS TIMESTAMP))"  # ntz → session-TZ first
        if ts_dt.startswith("timestamp")
        else ts_col
    )
    return F.expr(
        f"coalesce(CAST({ts_num} AS DECIMAL(18,0)), CAST(-1 AS DECIMAL(18,0)))"
        f" * CAST({2 * 10**18} AS DECIMAL(19,0))"
        f" + (coalesce(CAST({lsn_col} AS DECIMAL(18,0)), CAST(-1 AS DECIMAL(18,0)))"
        " + CAST(1 AS DECIMAL(1,0)))"
    )
