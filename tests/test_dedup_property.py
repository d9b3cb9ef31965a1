"""Property-based check (hypothesis): for ANY change sequence, the engine's
dedup (``dedup_latest``) and the window-form oracle both equal the trivial
fold-in-(ts,lsn)-order oracle — including adversarial shapes hypothesis
finds (all-one-key, ties on ts, singleton frames)."""

from __future__ import annotations

import pandas as pd
from conftest import dedup_latest_window
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from event_driven_etl_msc_research_spark.operators.dedup import dedup_latest

# shared session fixture comes from conftest via the `spark` arg


@st.composite
def change_frames(draw):
    n = draw(st.integers(min_value=1, max_value=60))
    keys = draw(
        st.lists(
            st.tuples(st.integers(0, 3), st.integers(0, 2)),
            min_size=n, max_size=n,
        )
    )
    ts = draw(st.lists(st.integers(0, 5), min_size=n, max_size=n))
    return pd.DataFrame(
        {
            "conv_id": [f"c{k}" for k, _ in keys],
            "turn_idx": [t for _, t in keys],
            "ts": pd.Series(ts, dtype="int64"),
            "lsn": pd.Series(range(n), dtype="int64"),  # unique, WAL-like
            "text": [f"v{i}" for i in range(n)],
        }
    )


def _oracle(pdf: pd.DataFrame) -> dict:
    out = {}
    for r in pdf.sort_values(["ts", "lsn"]).itertuples():
        out[(r.conv_id, r.turn_idx)] = r.text
    return out


@given(change_frames())
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_dedup_matches_fold_oracle(spark, pdf):
    df = spark.createDataFrame(pdf)
    exp = _oracle(pdf)
    for impl in (dedup_latest, dedup_latest_window):
        got = {
            (r["conv_id"], r["turn_idx"]): r["text"]
            for r in impl(df, ["conv_id", "turn_idx"], ["ts", "lsn"]).collect()
        }
        assert got == exp, impl.__name__


def test_packed_version_is_injective_and_order_preserving(spark):
    """The (ts, lsn) → decimal(38,0) packing must order exactly like the
    lexicographic (ts NULLS FIRST, lsn NULLS FIRST) tuple — including the
    boundary the old ts*10^18+lsn packing got wrong: (ts=T, lsn=NULL) must
    NOT collide with (ts=T-1, lsn=10^18-1)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from event_driven_etl_msc_research_spark.operators.dedup import (
        _packed_version,
    )

    max_lsn = 10**18 - 1
    cases = [
        (None, None),
        (None, 0),
        (None, max_lsn),
        (0, None),
        (0, 0),
        (0, max_lsn),
        (1, None),        # the old encoding tied this with (0, max_lsn)
        (1, 0),
        (1, max_lsn),
        (2, None),
        (1_700_000_000_000_000, max_lsn),  # realistic unix-micros ts
    ]
    schema = T.StructType(
        [T.StructField("ts", T.LongType()), T.StructField("lsn", T.LongType())]
    )
    # list-of-tuples, NOT via pandas: a pandas int column containing None
    # becomes float64 and silently rounds 10**18-1 to 1e18 before any
    # astype("object") can save it
    df = spark.createDataFrame(cases, schema)
    packed = [
        r["p"] for r in df.select(_packed_version(df, ["ts", "lsn"]).alias("p"))
        .collect()
    ]
    # injective
    assert len(set(packed)) == len(cases)
    # order == lexicographic with None lowest
    key = lambda c: (c[0] if c[0] is not None else -1, c[1] if c[1] is not None else -1)
    expect_order = [cases.index(c) for c in sorted(cases, key=key)]
    got_order = sorted(range(len(cases)), key=lambda i: packed[i])
    assert got_order == expect_order
