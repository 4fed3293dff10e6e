"""Independent pandas re-implementation of the reference pipeline semantics.

Used ONLY as a golden oracle in tests (SURVEY.md §5.2 item 3) — it is a
from-first-principles model of:

- Flink tumbling/sliding window assignment (epoch-aligned, ``[start, end)``),
- the 60 s bounded out-of-orderness watermark with drop-late-rows semantics
  (``TransactionFraudExample.java:36,60-71``; no allowedLateness configured),
- ``TransactionCountAggregate.java:10-40`` accumulator semantics:
  count, sum/count mean, and the reference's constant-0.0 stdev (bug-compatible
  mode) or a corrected sample stdev,
- session-window merge semantics (gap-based, per key).

Pure pandas/numpy, no Spark — so agreement between this module and the Spark
plans is meaningful evidence, not self-confirmation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def assign_tumbling(ts_ms: np.ndarray, width_ms: int) -> np.ndarray:
    """Epoch-aligned tumbling window start (Flink TumblingEventTimeWindows)."""
    return (ts_ms // width_ms) * width_ms


def tumbling_oracle(
    pdf: pd.DataFrame,
    ts_col: str,
    key_col: str,
    value_col: str,
    width_ms: int,
    label: str,
    bug_compatible_stdev: bool = False,
    include_minmax: bool = True,
) -> pd.DataFrame:
    """Golden output of the windowed aggregate for a (batch) input."""
    w = assign_tumbling(pdf[ts_col].to_numpy().astype(np.int64), width_ms)
    g = pdf.assign(window_start_ms=w).groupby(["window_start_ms", key_col])
    out = g[value_col].agg(
        **{
            f"num_trans_per_{label}": "count",
            f"avg_amt_per_{label}": "mean",
        }
    )
    if bug_compatible_stdev:
        out[f"stdev_amt_per_{label}"] = 0.0
    else:
        out[f"stdev_amt_per_{label}"] = g[value_col].std(ddof=1)
    if include_minmax:
        out[f"min_amt_per_{label}"] = g[value_col].min()
        out[f"max_amt_per_{label}"] = g[value_col].max()
    out = out.reset_index()
    out["window_end_ms"] = out["window_start_ms"] + width_ms
    # count column is int64 per the reference's long accumulator
    out[f"num_trans_per_{label}"] = out[f"num_trans_per_{label}"].astype(np.int64)
    return out


def sliding_oracle(
    pdf: pd.DataFrame,
    ts_col: str,
    key_col: str,
    value_col: str,
    width_ms: int,
    slide_ms: int,
    label: str,
    **kw,
) -> pd.DataFrame:
    """Sliding windows = union of tumbling assignments at each offset.

    A row with ts t belongs to windows with start in
    (t - width, t] aligned to slide boundaries.
    """
    ts = pdf[ts_col].to_numpy().astype(np.int64)
    first = ((ts - width_ms) // slide_ms + 1) * slide_ms
    parts = []
    n_windows = int(np.ceil(width_ms / slide_ms))
    for i in range(n_windows):
        start = first + i * slide_ms
        mask = (start <= ts) & (ts < start + width_ms)
        part = pdf[mask].copy()
        part["window_start_ms"] = start[mask]
        parts.append(part)
    exploded = pd.concat(parts, ignore_index=True)
    g = exploded.groupby(["window_start_ms", key_col])
    out = g[value_col].agg(
        **{f"num_trans_per_{label}": "count", f"avg_amt_per_{label}": "mean"}
    )
    if kw.get("bug_compatible_stdev"):
        out[f"stdev_amt_per_{label}"] = 0.0
    else:
        out[f"stdev_amt_per_{label}"] = g[value_col].std(ddof=1)
    if kw.get("include_minmax", True):
        out[f"min_amt_per_{label}"] = g[value_col].min()
        out[f"max_amt_per_{label}"] = g[value_col].max()
    out = out.reset_index()
    out["window_end_ms"] = out["window_start_ms"] + width_ms
    out[f"num_trans_per_{label}"] = out[f"num_trans_per_{label}"].astype(np.int64)
    return out


def session_oracle(
    pdf: pd.DataFrame,
    ts_col: str,
    key_col: str,
    value_col: str,
    gap_ms: int,
    label: str = "session",
    include_minmax: bool = True,
    bug_compatible_stdev: bool = False,
) -> pd.DataFrame:
    """Gaps-and-islands sessionization per key; a session's window is
    [min_ts, max_ts + gap) — matching Spark's session_window and Flink's
    EventTimeSessionWindows merge result."""
    df = pdf[[ts_col, key_col, value_col]].sort_values([key_col, ts_col])
    ts = df[ts_col].to_numpy().astype(np.int64)
    key = df[key_col].to_numpy()
    new_session = np.ones(len(df), dtype=bool)
    if len(df) > 1:
        same_key = key[1:] == key[:-1]
        within_gap = (ts[1:] - ts[:-1]) < gap_ms
        new_session[1:] = ~(same_key & within_gap)
    sess_id = np.cumsum(new_session)
    g = df.assign(_sess=sess_id).groupby([key_col, "_sess"])
    out = g.agg(
        window_start_ms=(ts_col, "min"),
        window_end_raw=(ts_col, "max"),
        **{
            f"num_trans_per_{label}": (value_col, "count"),
            f"avg_amt_per_{label}": (value_col, "mean"),
        },
    )
    if bug_compatible_stdev:
        out[f"stdev_amt_per_{label}"] = 0.0
    else:
        out[f"stdev_amt_per_{label}"] = g[value_col].std(ddof=1)
    if include_minmax:
        out[f"min_amt_per_{label}"] = g[value_col].min()
        out[f"max_amt_per_{label}"] = g[value_col].max()
    out = out.reset_index()
    out["window_end_ms"] = out["window_end_raw"] + gap_ms
    out = out.drop(columns=["_sess", "window_end_raw"])
    out[f"num_trans_per_{label}"] = out[f"num_trans_per_{label}"].astype(np.int64)
    return out
