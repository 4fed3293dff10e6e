"""Custom keyed state store built on ``applyInPandasWithState`` (T5, J6).

The reference keeps window accumulators in Flink keyed state (RocksDB backend,
``pom.xml:161-172``) behind the built-in incremental window aggregate
(``TransactionFraudExample.java:69-71`` keyBy → TumblingEventTimeWindows →
``TransactionCountAggregate.java:10-40``).  The north rule asks for the same
semantics with state held in a *custom* ``applyInPandasWithState`` store, plus
a stateful stream-stream join of clip features against transcript features
keyed by ``clip_id``.

This module implements both, Arrow-vectorized (no per-row Python):

- :func:`stateful_window_agg` — tumbling/sliding event-time windows.  State is
  one accumulator row per open (key, window): ``(cnt, sum, sumsq, min, max)``
  held as parallel arrays; exactly the reference accumulator
  ``Tuple4(key, count, sum, 0.0)`` widened with min/max/sumsq (north rule
  "count/min/max/avg-style stats").  Windows emit when the watermark passes
  the window end (event-time timeout), matching Flink's fire-at-watermark and
  Spark's append-mode semantics.
- :func:`stateful_session_agg` — session windows via vectorized
  gaps-and-islands interval merging in state.
- :func:`engine.state_join.stateful_stream_join` — symmetric hash join.

**Key-coarsening** (``n_buckets``): ``applyInPandasWithState`` pays ~1 ms of
Arrow/invocation overhead per GROUP per micro-batch, so grouping by a raw
high-cardinality key makes overhead linear in distinct keys.  Passing
``n_buckets`` groups by ``pmod(xxhash64(key), n_buckets)`` instead, carries
the key inside the state arrays, and handles per-key logic vectorized — the
invocation count becomes a constant chosen to exceed shuffle parallelism,
independent of key cardinality (Flink's key-group partitioning, made explicit
because our per-group cost lives in Python).  Semantics are identical.

**Late-data semantics** match the built-in operators exactly (verified under
disorder beyond the watermark in tests/test_state.py) via three mechanisms:

1. With event-time timeouts Spark's exec pre-filters input rows by raw
   timestamp against the previous batch's watermark, while the built-in
   aggregation filters by WINDOW END — so when ``watermark`` is passed here,
   the declared delay is widened by the window width (making the exec filter
   a strict subset of the built-in's) and the exposed watermark is shifted
   back inside the function, leaving emission timing unchanged.
2. ``GroupState`` exposes only the eviction watermark (current batch), but
   the built-in late filter uses the previous batch's — so each group tracks
   an **emitted frontier**: a row is dropped iff its window end ≤ the
   frontier the group already finalized.  Never re-emits a window, never
   drops a row the built-in would keep.
3. Fully-drained groups leave a tombstone holding the frontier for
   ``late_retention`` of event time — bounded state, straggler-safe
   exactly-once emission.

Scale posture: state is partitioned by key/bucket (the groupBy shuffle), one
Arrow batch per group per micro-batch; per-group state is O(open windows) /
O(in-flight rows within TTL), independent of total stream length.  RocksDB
state store (engine.session) spills cold groups to disk.  Skewed speaker
keys: see engine.skew for salted pre-aggregation.
"""

from __future__ import annotations

import re
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_UNIT_MS = {
    "millisecond": 1,
    "second": 1000,
    "minute": 60_000,
    "hour": 3_600_000,
    "day": 86_400_000,
    "week": 604_800_000,
}


def dur_ms(s: str) -> int:
    """Parse an interval string like '10 minutes' to epoch milliseconds."""
    m = re.fullmatch(r"\s*(\d+)\s*([a-z]+?)s?\s*", s.lower())
    if not m or m.group(2) not in _UNIT_MS:
        raise ValueError(f"cannot parse duration {s!r}")
    return int(m.group(1)) * _UNIT_MS[m.group(2)]


def _ts_ms(series: pd.Series) -> np.ndarray:
    """datetime64[ns/us] (session tz = UTC, naive) → int64 epoch ms."""
    return series.to_numpy(dtype="datetime64[ms]").astype("int64")


def _ms_ts(arr) -> pd.Series:
    return pd.Series(np.asarray(arr, dtype="int64").astype("datetime64[ms]"))


def _ts_us(series: pd.Series) -> np.ndarray:
    """Full-precision event time (epoch µs) — session windows and join
    buffers must preserve sub-millisecond timestamps exactly."""
    return series.to_numpy(dtype="datetime64[us]").astype("int64")


def _us_ts(arr) -> pd.Series:
    return pd.Series(np.asarray(arr, dtype="int64").astype("datetime64[us]"))


def _norm_key_sql(dt) -> str:
    s = dt.simpleString()
    if s in ("tinyint", "smallint", "int", "bigint"):
        return "bigint"
    if s in ("float", "double"):
        return "double"
    return s


#: "no windows finalized yet" frontier sentinel
_THRU_NEG = -(1 << 62)

_ACC_COLS = ("k", "start", "cnt", "nn", "sum", "sumsq", "mn", "mx")
_SESS_COLS = ("k", "start", "end", "cnt", "nn", "sum", "sumsq", "mn", "mx")

_INT_COLS = {"start", "end", "cnt", "nn"}


def _acc_dtype(col: str, key_pd: str | None) -> str | None:
    if col == "k":
        return key_pd  # None → leave as object (string keys)
    return "int64" if col in _INT_COLS else "float64"


def _acc_from_state(
    state: GroupState, cols, key_pd: str | None
) -> tuple[int, pd.DataFrame]:
    """→ (emitted-frontier thru, accumulator frame)."""
    if state.exists:
        vals = state.get
        thru, arrays = vals[0], vals[1:]
    else:
        thru, arrays = _THRU_NEG, [[] for _ in cols]
    out = {}
    for c, v in zip(cols, arrays):
        dt = _acc_dtype(c, key_pd)
        out[c] = pd.Series(v) if dt is None else np.asarray(v, dtype=dt)
    return int(thru), pd.DataFrame(out)


def _acc_to_state(
    state: GroupState,
    thru: int,
    acc: pd.DataFrame,
    timeout_ms: int,
    cols,
    key_pd: str | None,
):
    vals = []
    for c in cols:
        dt = _acc_dtype(c, key_pd)
        vals.append(acc[c].tolist() if dt is None else acc[c].astype(dt).tolist())
    state.update((int(thru),) + tuple(vals))
    state.setTimeoutTimestamp(timeout_ms)


def _result_pdf(acc: pd.DataFrame, width_ms, label, key_name, to_ts=_ms_ts):
    """Accumulators → output rows shaped like engine.windows._agg_exprs."""
    # cnt counts every row (count(*)); avg/stdev use the non-null count,
    # matching F.avg / F.stddev_samp null semantics.
    n = acc["nn"].to_numpy(dtype="float64")
    s = acc["sum"].to_numpy()
    ssq = acc["sumsq"].to_numpy()
    with np.errstate(invalid="ignore", divide="ignore"):
        avg = np.where(n > 0, s / np.where(n > 0, n, 1.0), np.nan)
        # stddev_samp; NaN (→ null) for n == 1, matching Spark's stddev_samp.
        var = (ssq - s * s / n) / (n - 1)
        stdev = np.sqrt(np.maximum(var, 0.0))
    stdev[n <= 1] = np.nan
    end = acc["start"] + width_ms if width_ms is not None else acc["end"]
    return pd.DataFrame(
        {
            "window_start": to_ts(acc["start"]),
            "window_end": to_ts(end),
            key_name: acc["k"].reset_index(drop=True),
            f"num_trans_per_{label}": acc["cnt"].astype("int64").reset_index(drop=True),
            f"avg_amt_per_{label}": avg,
            f"stdev_amt_per_{label}": stdev,
            f"min_amt_per_{label}": acc["mn"].reset_index(drop=True),
            f"max_amt_per_{label}": acc["mx"].reset_index(drop=True),
        }
    )


def _out_ddl(key_name: str, key_sql_type: str, label: str) -> str:
    return (
        f"window_start timestamp, window_end timestamp, {key_name} {key_sql_type}, "
        f"num_trans_per_{label} long, avg_amt_per_{label} double, "
        f"stdev_amt_per_{label} double, min_amt_per_{label} double, "
        f"max_amt_per_{label} double"
    )


def _grouped(df: DataFrame, key_col: str, n_buckets: int | None):
    if n_buckets is None:
        return df.groupBy(key_col)
    return df.withColumn(
        "__bucket", F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets))
    ).groupBy("__bucket")


def _key_meta(df: DataFrame, key_col: str) -> tuple[str, str | None]:
    """→ (normalized SQL type, pandas dtype or None-for-object)."""
    sql = _norm_key_sql(df.schema[key_col].dataType)
    pd_dt = {"bigint": "int64", "double": "float64"}.get(sql)
    return sql, pd_dt


def stateful_window_agg(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    value_col: str,
    width: str = "10 minutes",
    slide: str | None = None,
    label: str | None = None,
    late_retention: str = "1 hour",
    watermark: str | None = None,
    n_buckets: int | None = None,
) -> DataFrame:
    """Tumbling (``slide=None``) or sliding keyed event-time window aggregate
    with state in a custom ``applyInPandasWithState`` store.

    Pass ``watermark`` (e.g. "60 seconds") with an UN-watermarked input for
    exact built-in append-mode parity under arbitrary lateness; or pre-apply
    ``withWatermark`` yourself and leave ``watermark=None`` for the
    frontier-only policy (identical when disorder stays within the delay).
    ``n_buckets`` selects the key-coarsened state layout for high-cardinality
    keys (module docstring).  Output schema and values match
    :func:`engine.windows.tumbling_agg` / ``sliding_agg`` in append mode.
    A hot key's rows all land in one Python invocation per micro-batch;
    for heavy skew use :func:`engine.skew.salted_window_agg_stream`.
    """
    from engine.windows import width_label

    width_ms = dur_ms(width)
    slide_ms = dur_ms(slide) if slide else width_ms
    if width_ms % slide_ms != 0:
        raise ValueError("width must be a multiple of slide")
    n_wins = width_ms // slide_ms
    retention_ms = dur_ms(late_retention)
    label = label or width_label(width)
    # Column pruning, done by hand: Catalyst prunes the scan for built-in
    # aggregates, but applyInPandasWithState ships EVERY child column through
    # the shuffle and the Arrow boundary into Python. On the clip stream the
    # unused audio payload is ~30 kB/row — measured 35 s → ~13 s on the 96k
    # hot-key soak from this select alone.
    df = df.select(
        *[c for c in df.columns if c in {ts_col, key_col, value_col}]
    )
    shift_ms = 0
    if watermark is not None:
        shift_ms = width_ms
        df = df.withWatermark(
            ts_col, f"{dur_ms(watermark) + shift_ms} milliseconds"
        )
    # Null keys are excluded (documented): feature-group primary keys are
    # non-null and the reference's keyBy NPEs on null; Spark's built-in
    # window() would aggregate a null-key group — pre-map nulls upstream if
    # that behavior is needed. Null-KEY rows must still advance the event
    # clock (watermarks are assigned at the source, upstream of any keyBy),
    # so the filter sits ABOVE the EventTimeWatermark node and carries a
    # reference to the event-time column (`| ts IS NULL`) — a conjunct-only
    # predicate would be split and pushed below the watermark node by
    # PushPredicateThroughNonJoin, hiding dropped rows' timestamps from the
    # clock. Null-ts rows that now pass are rejected in the state fn (NaT
    # maps to int64 min, failing every liveness check).
    df = df.where(F.col(key_col).isNotNull() | F.col(ts_col).isNull())
    key_sql, key_pd = _key_meta(df, key_col)
    out_ddl = _out_ddl(key_col, key_sql, label)
    state_ddl = (
        f"thru long, k array<{key_sql}>, start array<long>, cnt array<long>, "
        "nn array<long>, sum array<double>, sumsq array<double>, "
        "mn array<double>, mx array<double>"
    )

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        wm_raw = state.getCurrentWatermarkMs()
        wm = wm_raw + shift_ms if wm_raw > 0 else wm_raw
        # timeouts must be positive and strictly past the raw watermark
        clamp = lambda t: max(t, wm_raw + 1, 1)
        thru, acc = _acc_from_state(state, _ACC_COLS, key_pd)
        contribs = [acc]
        folded = False
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            ts = _ts_ms(pdf[ts_col])
            v = pdf[value_col].to_numpy(dtype="float64")
            kv = pdf[key_col].reset_index(drop=True)
            # Window assignment: the n_wins slide-aligned starts covering ts.
            base = (ts // slide_ms) * slide_ms
            for off in range(n_wins):
                start = base - off * slide_ms
                live = start + width_ms > thru  # drop only finalized windows
                if not live.any():
                    continue
                folded = True
                s, vv = start[live], v[live]
                contribs.append(
                    pd.DataFrame(
                        {"k": kv[live].reset_index(drop=True), "start": s,
                         "cnt": 1, "nn": (~np.isnan(vv)).astype("int64"),
                         "sum": vv, "sumsq": vv * vv,
                         "mn": vv, "mx": vv}
                    )
                )
        if len(contribs) > 1:
            allc = pd.concat(contribs, ignore_index=True)
            acc = (
                allc.groupby(["k", "start"], as_index=False, sort=True)
                .agg(cnt=("cnt", "sum"), nn=("nn", "sum"), sum=("sum", "sum"),
                     sumsq=("sumsq", "sum"), mn=("mn", "min"), mx=("mx", "max"))
            )
        mature = acc["start"] + width_ms <= wm
        emitted = bool(mature.any())
        if emitted:
            yield _result_pdf(acc[mature], width_ms, label, key_col)
        rest = acc[~mature]
        if len(rest):
            _acc_to_state(state, max(thru, wm), rest,
                          clamp(int(rest["start"].min() + width_ms) - shift_ms),
                          _ACC_COLS, key_pd)
        elif not state.hasTimedOut or emitted or folded or not state.exists:
            # any data invocation (even one whose rows were all dropped as
            # finalized-window stragglers — removing here would forget the
            # frontier and let a SECOND straggler re-emit the window),
            # emission, or first sight → (re)store the frontier tombstone;
            # it guards against stragglers for late_retention
            thru = max(thru, wm)
            _acc_to_state(state, thru, rest,
                          clamp(thru + retention_ms - shift_ms),
                          _ACC_COLS, key_pd)
        else:
            # retention timeout fired with no new data and nothing pending
            state.remove()

    return _grouped(df, key_col, n_buckets).applyInPandasWithState(
        fn, out_ddl, state_ddl, "append", GroupStateTimeout.EventTimeTimeout
    )


def _merge_session_islands(allc: pd.DataFrame) -> pd.DataFrame:
    """Vectorized gaps-and-islands merge of per-key ``[start, end)`` interval
    accumulators (the ``F.session_window`` / Flink merge rule): overlapping
    intervals of one key collapse into a single session accumulator."""
    allc = allc.sort_values(["k", "start"], kind="mergesort",
                            ignore_index=True)
    s = allc["start"].to_numpy(dtype="int64")
    karr = allc["k"].to_numpy()
    cme = allc.groupby("k", sort=False)["end"].cummax().to_numpy(dtype="int64")
    # new island iff new key, or interval starts at/after the running
    # max end of this key's previous intervals
    prev_cme = np.concatenate(([0], cme[:-1]))
    same_k = np.concatenate(([False], karr[1:] == karr[:-1]))
    new_isl = (~same_k) | (s >= prev_cme)
    allc["grp"] = np.cumsum(new_isl)
    return allc.groupby("grp", as_index=False, sort=True).agg(
        k=("k", "first"), start=("start", "min"), end=("end", "max"),
        cnt=("cnt", "sum"), nn=("nn", "sum"), sum=("sum", "sum"),
        sumsq=("sumsq", "sum"), mn=("mn", "min"), mx=("mx", "max"),
    )[list(_SESS_COLS)]


def stateful_session_agg(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    value_col: str,
    gap: str = "30 seconds",
    label: str = "session",
    late_retention: str = "1 hour",
    watermark: str | None = None,
    n_buckets: int | None = None,
) -> DataFrame:
    """Session windows (static gap) in the custom state store.

    Each event contributes interval ``[ts, ts+gap)``; overlapping intervals
    merge (vectorized gaps-and-islands over the per-key sorted interval set —
    the same merge rule as ``F.session_window`` and Flink session windows).
    A session emits when the watermark passes its end (it can no longer be
    extended).  ``watermark`` / ``late_retention`` / ``n_buckets`` as in
    :func:`stateful_window_agg`.
    """
    # hand column pruning (see stateful_window_agg): don't ship unused
    # payload columns through the shuffle + Arrow boundary
    df = df.select(
        *[c for c in df.columns if c in {ts_col, key_col, value_col}]
    )
    gap_us = dur_ms(gap) * 1000
    retention_us = dur_ms(late_retention) * 1000
    shift_us = 0
    if watermark is not None:
        shift_us = gap_us
        df = df.withWatermark(
            ts_col, f"{dur_ms(watermark) + dur_ms(gap)} milliseconds"
        )
    # null keys excluded but their timestamps still advance the clock —
    # filter above the watermark node, unsplittable (see stateful_window_agg)
    df = df.where(F.col(key_col).isNotNull() | F.col(ts_col).isNull())
    key_sql, key_pd = _key_meta(df, key_col)
    out_ddl = _out_ddl(key_col, key_sql, label)
    state_ddl = (
        f"thru long, k array<{key_sql}>, start array<long>, end array<long>, "
        "cnt array<long>, nn array<long>, sum array<double>, "
        "sumsq array<double>, mn array<double>, mx array<double>"
    )

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        wm_raw = state.getCurrentWatermarkMs()
        wm = wm_raw * 1000 + shift_us if wm_raw > 0 else wm_raw * 1000  # µs
        clamp = lambda t: max(t, wm_raw + 1, 1)  # timeout args are in ms
        thru, acc = _acc_from_state(state, _SESS_COLS, key_pd)
        contribs = [acc]
        folded = False
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            ts = _ts_us(pdf[ts_col])
            v = pdf[value_col].to_numpy(dtype="float64")
            live = ts + gap_us > thru  # drop only rows for finalized sessions
            if not live.any():
                continue
            folded = True
            kv = pdf[key_col].reset_index(drop=True)[live]
            tsl, vl = ts[live], v[live]
            contribs.append(
                pd.DataFrame(
                    {"k": kv.reset_index(drop=True), "start": tsl,
                     "end": tsl + gap_us, "cnt": 1,
                     "nn": (~np.isnan(vl)).astype("int64"), "sum": vl,
                     "sumsq": vl * vl, "mn": vl, "mx": vl}
                )
            )
        allc = pd.concat(contribs, ignore_index=True) if folded else acc
        # state is already merged islands; re-merge only when new rows folded
        if folded and len(allc):
            acc = _merge_session_islands(allc)
        else:
            acc = allc
        mature = acc["end"] <= wm
        emitted = bool(mature.any())
        if emitted:
            yield _result_pdf(acc[mature], None, label, key_col,
                              to_ts=_us_ts)
        rest = acc[~mature]
        # timeouts are in ms and must be strictly past the watermark
        if len(rest):
            _acc_to_state(state, max(thru, wm), rest,
                          clamp((int(rest["end"].min()) - shift_us) // 1000 + 1),
                          _SESS_COLS, key_pd)
        elif not state.hasTimedOut or emitted or folded or not state.exists:
            # see stateful_window_agg: only a retention TIMEOUT may drop the
            # frontier tombstone; an all-stale data invocation must keep it
            thru = max(thru, wm)
            _acc_to_state(state, thru, rest,
                          clamp((thru + retention_us - shift_us) // 1000 + 1),
                          _SESS_COLS, key_pd)
        else:
            # retention timeout fired with no new data and nothing pending
            state.remove()

    return _grouped(df, key_col, n_buckets).applyInPandasWithState(
        fn, out_ddl, state_ddl, "append", GroupStateTimeout.EventTimeTimeout
    )

