"""Per-key max-version dedup + salted-skew handling (SURVEY.md §2.6 A5, §2.3 C2).

Reference seed: DynamoDB tracking rows are last-writer-wins by
``put_item`` on ``(CorrelationId, Stage)`` (``Phase3-Data-Extraction.py:123-136``);
the reference has **no** skew handling — a hot chunk just runs long
(``prototype-etl.json:28-39``).  Here dedup is an aggregate so Spark's partial
(map-side) aggregation combines hot keys before the shuffle, and an explicit
salted two-level variant bounds any single reducer's share of a hot key.

Scale notes (100 TB / 10^10 events):
* ``dedup_latest`` is ONE shuffle: ``groupBy(key).agg(max(struct(version,
  payload)))``.  Because the struct buffer is variable-width Spark plans a
  SortAggregate, but crucially it keeps the PARTIAL aggregate — each map task
  locally combines all rows per key before the shuffle, so a hot key's 10^7
  updates shrink to one row per map task.  The window formulation
  (``row_number() over (partition by key order by version desc)``) has NO
  partial step — every raw row crosses the shuffle and is sorted on the
  reducer; that is the plan that dies on a hot conversation.
* the salted variant adds a pre-reduce keyed on ``(key, salt)`` — the
  explicit salted-hash repartition of the north rule — bounding any single
  reducer's share of a hot key to ``1/salt_buckets``.
* the production formulation is ``dedup_latest_maxby``: ONE
  ``groupBy(key).agg(max_by(payload_struct, packed_version))`` pass —
  single shuffle with map-side ``partial_max_by``, and every comparison is
  on the narrow ``decimal(38,0)`` version, never the wide payload struct
  (which is what made struct-max anti-scale).  MEASURED (4.25M-event
  stream, this host, warm): maxby 1.2-3.0 s at local[32] vs 4.7-14.3 s for
  the agg+winners-join argmax and 71-90 s for struct-max; no salting needed
  — partial combine collapses hot keys map-side.  ``dedup_latest``
  DELEGATES to maxby; argmax, struct-max and window forms are kept for
  cross-checking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _ordered_struct(df: DataFrame, version_cols: list[str], key_cols: list[str]):
    """Struct whose lexicographic order is the version order: version columns
    first, then every payload column (never compared — version is unique)."""
    rest = [c for c in df.columns if c not in key_cols and c not in version_cols]
    return F.struct(*[F.col(c) for c in version_cols], *[F.col(c) for c in rest])


def dedup_latest(
    df: DataFrame,
    key_cols: list[str],
    version_cols: list[str],
    impl: str = "maxby",
) -> DataFrame:
    """Keep, per key, the row with the maximum ``version_cols`` tuple.

    Production ``impl="maxby"``: decimal-packed version → ONE
    ``groupBy(key).agg(max_by(payload_struct, version))`` pass with map-side
    partial combine (``partial_max_by``) — single shuffle, no winners join,
    and the per-row comparison is the narrow decimal version, never the wide
    payload struct (which is what made the maxstruct form anti-scale).
    MEASURED (4.25M-event stream, this host, warm): maxby 1.2-3.0 s at
    local[32] vs 4.7-14.3 s for argmax (agg + winners join) and 71-90 s for
    struct-max.  No salting needed: partial combine collapses hot keys
    map-side (the salted two-level form is ``dedup_latest_maxstruct``).

    ``impl="argmax"`` (agg + winners join) and ``impl="maxstruct"`` are kept
    for cross-checking.
    """
    if impl == "maxby" and len(version_cols) == 2:
        return dedup_latest_maxby(df, key_cols, version_cols)
    if impl == "argmax" and len(version_cols) == 2:
        return dedup_latest_argmax(
            df, key_cols, version_cols, broadcast_winners=False
        )
    return dedup_latest_maxstruct(df, key_cols, version_cols)


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


def dedup_latest_maxby(
    df: DataFrame, key_cols: list[str], version_cols: list[str]
) -> DataFrame:
    """Single-pass max_by formulation (the production path — see
    ``dedup_latest``).  Output preserves the input column order.  Ties on
    the packed version (exact duplicate re-deliveries, or all-null-version
    corrupt keys) resolve to an arbitrary-but-single row, identical
    contract to the argmax form's final dropDuplicates."""
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


def dedup_latest_maxstruct(
    df: DataFrame,
    key_cols: list[str],
    version_cols: list[str],
    salt_buckets: int = 0,
) -> DataFrame:
    """Struct-max formulation: single aggregate, lexicographic struct
    comparison ((ts, lsn) prefix decides, payload rides along).  With
    ``salt_buckets > 0`` a two-level aggregate runs first per ``(key, salt)``
    then per key.  Output columns: key_cols + version_cols + payload
    (original order lost; names preserved)."""
    s = _ordered_struct(df, version_cols, key_cols)
    inner = [f"_v.{c}" for c in _struct_field_names(df, version_cols, key_cols)]
    if salt_buckets and salt_buckets > 1:
        salt = F.pmod(F.xxhash64(*[F.col(c) for c in version_cols]), F.lit(salt_buckets))
        partial = (
            df.withColumn("_salt", salt)
            .groupBy(*key_cols, "_salt")
            .agg(F.max(s).alias("_v"))
        )
        out = partial.groupBy(*key_cols).agg(F.max("_v").alias("_v"))
    else:
        out = df.groupBy(*key_cols).agg(F.max(s).alias("_v"))
    return out.select(*key_cols, *[F.col(c).alias(c.split(".", 1)[1]) for c in inner])


def _struct_field_names(
    df: DataFrame, version_cols: list[str], key_cols: list[str]
) -> list[str]:
    rest = [c for c in df.columns if c not in key_cols and c not in version_cols]
    return version_cols + rest


def dedup_latest_window(
    df: DataFrame, key_cols: list[str], version_cols: list[str]
) -> DataFrame:
    """Window-function formulation of A5 (kept for cross-checking in tests;
    the aggregate form above is the production path — see module docstring)."""
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(
        *[F.desc(c) for c in version_cols]
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def dedup_latest_argmax(
    df: DataFrame,
    key_cols: list[str],
    version_cols: list[str],
    broadcast_winners: bool = False,
) -> DataFrame:
    """Pure-HashAggregate argmax formulation of A5.

    Encodes ``(ts, lsn)`` into one ``decimal(38,0)`` (fixed-width → mutable
    aggregation buffer → true HashAggregate with map-side combine, no sort),
    takes the per-key max, then joins winners back (``broadcast_winners``
    forces a broadcast; default lets AQE pick broadcast at runtime when the
    winner set is small).  Exact duplicate deliveries of the winning event
    are collapsed by a final tiny dedup over winners only.  Assumes
    non-negative versions (a WAL position) and unique ``lsn`` per key at a
    given ``ts`` (a real binlog guarantees both).

    NULL versions (schema-on-read corrupt records: unparseable ts/lsn) are
    coalesced to a ``-1`` sentinel so they sort BELOW every real version but
    are never silently dropped: a key whose rows are ALL null-versioned still
    surfaces (one arbitrary row of it — there is no order to pick by), same
    keep-the-key contract as the maxstruct form.
    """
    dfv = df.select("*", _packed_version(df, version_cols).alias("_ver"))
    winners = dfv.groupBy(*key_cols).agg(F.max("_ver").alias("_ver"))
    if broadcast_winners:
        winners = F.broadcast(winners)
    out = dfv.join(winners, [*key_cols, "_ver"], "inner").drop("_ver")
    # exact re-deliveries of the winning event tie on _ver: collapse them
    return out.dropDuplicates(key_cols)


def salted_repartition(
    df: DataFrame, num_partitions: int, key_cols: list[str], salt_buckets: int = 16
) -> DataFrame:
    """Explicit salted-hash repartition (north rule C2).

    ``repartition(N, pmod(xxhash64(key..., salt), N))`` where the salt is a
    deterministic hash of the whole row's version — spreads a hot key over
    ``salt_buckets`` partitions instead of one.  Use before per-key work that
    is NOT an aggregate (aggregates already get map-side combine).
    """
    salt = F.pmod(F.xxhash64(*df.columns), F.lit(salt_buckets))
    expr = F.pmod(
        F.xxhash64(*[F.col(c) for c in key_cols], salt), F.lit(num_partitions)
    )
    return df.repartition(num_partitions, expr)
