"""Correctness gate and sample statistics (pandas only, no Spark).

Every result the benchmark measures is compared with the oracle fold
(``oracle.oracle_final_state``) outside the timed region; a mismatch counts
as a failed operation.
"""

from __future__ import annotations

import math
import statistics

import pandas as pd

COLS = ["conv_id", "turn_idx", "role", "text", "tool", "tool_meta", "ts"]


def canonical(df: pd.DataFrame) -> pd.DataFrame:
    """Rows sorted by key, ``turn_idx`` as int64 and ``ts`` as UTC epoch
    seconds, so a Spark frame and the oracle compare value for value."""
    out = df[COLS].copy()
    out["turn_idx"] = out["turn_idx"].astype("int64")
    out["ts"] = epoch_seconds(out["ts"])
    for c in ("role", "text", "tool", "tool_meta"):
        out[c] = out[c].astype(object).where(out[c].notna(), None)
    return out.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


def epoch_seconds(ts: pd.Series) -> pd.Series:
    return (pd.to_datetime(ts, utc=True) - pd.Timestamp(0, tz="UTC")) // (
        pd.Timedelta(seconds=1)
    )


def same_rows(got: pd.DataFrame, exp: pd.DataFrame) -> bool:
    return canonical(got).equals(canonical(exp))


def expected_point(oracle: pd.DataFrame, conv_id: str) -> pd.DataFrame:
    return oracle[oracle["conv_id"] == conv_id]


def expected_window(oracle: pd.DataFrame, lo: int, hi: int) -> pd.DataFrame:
    s = epoch_seconds(oracle["ts"])
    return oracle[(s >= lo) & (s <= hi)]


def expected_min_max(oracle: pd.DataFrame) -> tuple[int, int]:
    s = epoch_seconds(oracle["ts"])
    return int(s.min()), int(s.max())


def tail_percentile(values: list[float], min_beyond: int = 10,
                    choices=(99, 95, 90, 80, 75, 50)) -> tuple[int, float]:
    """The highest of ``choices`` with at least ``min_beyond`` samples
    above its nearest-rank position, and its value.  With too few samples
    for that, the highest choice with at least one sample above it, so a
    single outlier never sets the tail; the one value (reported as
    percentile 100) of a single sample, 0 for no samples."""
    s = sorted(values)
    n = len(s)
    if not n:
        return 100, 0.0
    for need in (min_beyond, 1):
        for q in choices:
            rank = max(1, math.ceil(q / 100 * n))
            if n - rank >= need:
                return q, s[rank - 1]
    return 100, s[-1]


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0
