"""Bucketed stateful stream-stream join — the high-cardinality path for J6.

``applyInPandasWithState`` invokes the Python function once per *group* per
micro-batch; grouping directly on ``clip_id`` means one Arrow round-trip per
key, which at clip-cardinality (every key unique) makes per-group overhead the
bottleneck (measured ~1 ms/group → 10k keys ≈ 12 s/batch regardless of data
volume).  The scale-correct layout is **key-coarsening**: shuffle and keep
state per ``hash(key) % n_buckets`` bucket, carry the key inside the state
arrays, and match keys vectorized (pandas merge) within each bucket.  Group
count — and therefore Arrow/invocation overhead — is then a constant chosen to
exceed the shuffle parallelism, independent of key cardinality; per-key
semantics are unchanged.

This mirrors how the reference's Flink runtime scales `keyBy`: physical
partitioning by key-group (128 buckets by default), logical state per key —
here made explicit because our per-group cost lives in Python.

Semantics are identical to grouping by the raw key (symmetric hash join,
TTL-evicted buffers, watermark-driven emission); tests cross-check both
layouts against the batch join.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from engine.state import _norm_key_sql, _ts_us, _us_ts, dur_ms


class JoinSpec:
    """Column/type/codec plan for the symmetric hash join run by the
    ``applyInPandasWithState`` fn below.  Instances hold only plain data
    and are pickled to executors."""

    def __init__(self, left: DataFrame, right: DataFrame, key_col: str,
                 ts_col: str, ttl: str, left_ts_name: str, right_ts_name: str):
        self.key_col = key_col
        self.ts_col = ts_col
        self.ttl_us = dur_ms(ttl) * 1000
        self.left_ts_name = left_ts_name
        self.right_ts_name = right_ts_name
        self.lcols = [c for c in left.columns if c not in (key_col, ts_col)]
        self.rcols = [c for c in right.columns if c not in (key_col, ts_col)]
        overlap = set(self.lcols) & set(self.rcols)
        if overlap:
            raise ValueError(
                f"payload columns must be disjoint, got overlap {overlap}")
        self.ltypes = {c: _norm_key_sql(left.schema[c].dataType)
                       for c in self.lcols}
        self.rtypes = {c: _norm_key_sql(right.schema[c].dataType)
                       for c in self.rcols}
        self.key_sql = _norm_key_sql(left.schema[key_col].dataType)
        self.out_ddl = ", ".join(
            [f"{key_col} {self.key_sql}", f"{left_ts_name} timestamp",
             f"{right_ts_name} timestamp"]
            + [f"{c} {self.ltypes[c]}" for c in self.lcols]
            + [f"{c} {self.rtypes[c]}" for c in self.rcols]
        )
        self.state_cols = (
            ["lk", "lts"] + [f"l_{c}" for c in self.lcols]
            + ["rk", "rts"] + [f"r_{c}" for c in self.rcols]
        )
        self.state_ddl = ", ".join(
            [f"lk array<{self.key_sql}>", "lts array<long>"]
            + [f"l_{c} array<{self.ltypes[c]}>" for c in self.lcols]
            + [f"rk array<{self.key_sql}>", "rts array<long>"]
            + [f"r_{c} array<{self.rtypes[c]}>" for c in self.rcols]
        )
        self.out_cols = ([key_col, left_ts_name, right_ts_name]
                         + self.lcols + self.rcols)
        self.l_ct = {"__key": self.key_sql, **self.ltypes}
        self.r_ct = {"__key": self.key_sql, **self.rtypes}

    _pd_dtype = {"bigint": "Int64", "double": "float64"}

    def coerce(self, frame: pd.DataFrame, cols_types: dict) -> pd.DataFrame:
        # "Int64" (nullable) keeps genuine nulls as <NA> instead of crashing
        # astype("int64") and avoids inventing values for them.
        frame = frame.copy()
        for c, t in cols_types.items():
            dt = self._pd_dtype.get(t)
            if dt is not None and len(frame):
                frame[c] = frame[c].astype(dt)
        return frame

    @staticmethod
    def concat2(a: pd.DataFrame, b: pd.DataFrame) -> pd.DataFrame:
        """Two-frame concat that skips empty inputs — keeps dtypes stable
        under pandas' empty-entry concat deprecation."""
        if len(b) == 0:
            return a
        if len(a) == 0:
            return b
        return pd.concat([a, b], ignore_index=True)

    @staticmethod
    def _to_list(series: pd.Series) -> list:
        if str(series.dtype) == "Int64":
            return [None if pd.isna(x) else int(x) for x in series]
        return series.tolist()

    def bufs_from_vals(self, vals) -> tuple[pd.DataFrame, pd.DataFrame]:
        """State tuple (or None) → (left buffer, right buffer) frames."""
        if vals is None:
            vals = [[] for _ in self.state_cols]
        d = dict(zip(self.state_cols, vals))
        lbuf = pd.DataFrame({"__key": pd.Series(d["lk"]),
                             "__ts": np.asarray(d["lts"], dtype="int64"),
                             **{c: pd.Series(d[f"l_{c}"]) for c in self.lcols}})
        rbuf = pd.DataFrame({"__key": pd.Series(d["rk"]),
                             "__ts": np.asarray(d["rts"], dtype="int64"),
                             **{c: pd.Series(d[f"r_{c}"]) for c in self.rcols}})
        return self.coerce(lbuf, self.l_ct), self.coerce(rbuf, self.r_ct)

    def vals_from_bufs(self, all_l: pd.DataFrame, all_r: pd.DataFrame) -> tuple:
        return tuple(
            [self._to_list(all_l["__key"]), all_l["__ts"].tolist()]
            + [self._to_list(all_l[c]) for c in self.lcols]
            + [self._to_list(all_r["__key"]), all_r["__ts"].tolist()]
            + [self._to_list(all_r[c]) for c in self.rcols]
        )

    def fold(self, pdfs, wm: int) -> tuple[pd.DataFrame, pd.DataFrame]:
        """Batch input frames → (new left rows, new right rows), already
        TTL-filtered against the watermark ``wm`` (µs)."""
        new_l_parts, new_r_parts = [], []
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            ts = _ts_us(pdf[self.ts_col])
            pdf = pdf.assign(__ts=ts).rename(columns={self.key_col: "__key"})
            live = pdf[ts + self.ttl_us > wm]
            side = live["__side"].to_numpy()
            new_l_parts.append(
                live.loc[side == 0, ["__key", "__ts"] + self.lcols])
            new_r_parts.append(
                live.loc[side == 1, ["__key", "__ts"] + self.rcols])
        new_l = (pd.concat(new_l_parts, ignore_index=True)
                 if new_l_parts else None)
        new_r = (pd.concat(new_r_parts, ignore_index=True)
                 if new_r_parts else None)
        return new_l, new_r

    def emit(self, lrows: pd.DataFrame, rrows: pd.DataFrame) -> pd.DataFrame:
        lr = lrows.rename(columns={"__ts": "__lts"})
        rr = rrows.rename(columns={"__ts": "__rts"})
        m = lr.merge(rr, on="__key")
        return pd.DataFrame(
            {
                self.key_col: m["__key"],
                self.left_ts_name: _us_ts(m["__lts"]),
                self.right_ts_name: _us_ts(m["__rts"]),
                **{c: m[c] for c in self.lcols},
                **{c: m[c] for c in self.rcols},
            }
        )


def tag_union(left: DataFrame, right: DataFrame, spec: JoinSpec,
              n_buckets: int | None) -> tuple[DataFrame, str]:
    """Null-key filter + side tagging + union + optional bucket column for
    both state backends; returns (unioned frame, grouping column)."""
    key_col, ts_col = spec.key_col, spec.ts_col

    def _other_side_fill(sql_type: str):
        # Fill the other side's numeric columns with a sentinel 0 instead of
        # null: a null-bearing int64 Arrow column materializes in pandas as
        # float64, which silently rounds values above 2^53. The filled cells
        # are never read (each side selects only its own columns). Residual
        # genuine nulls WITHIN a side still upcast — handled with nullable
        # Int64 in coerce (exact for all values Arrow delivers as ints).
        if sql_type in ("bigint", "double"):
            return F.lit(0).cast(sql_type)
        return F.lit(None).cast(sql_type)

    # SQL equi-join semantics: null keys never match → inner join drops them.
    # The `| ts IS NULL` disjunct keeps the filter above each side's
    # EventTimeWatermark node (unsplittable, references the event-time
    # column), so dropped null-key rows still advance the clock; null-ts
    # rows that pass are rejected by the buffer's liveness check (NaT →
    # int64 min). See stateful_window_agg for the pushdown mechanics.
    left = left.where(F.col(key_col).isNotNull() | F.col(ts_col).isNull())
    right = right.where(F.col(key_col).isNotNull() | F.col(ts_col).isNull())

    tagged_l = left.select(
        F.col(key_col).cast(spec.key_sql), F.col(ts_col),
        F.lit(0).alias("__side"),
        *[F.col(c).cast(spec.ltypes[c]).alias(c) for c in spec.lcols],
        *[_other_side_fill(spec.rtypes[c]).alias(c) for c in spec.rcols],
    )
    tagged_r = right.select(
        F.col(key_col).cast(spec.key_sql), F.col(ts_col),
        F.lit(1).alias("__side"),
        *[_other_side_fill(spec.ltypes[c]).alias(c) for c in spec.lcols],
        *[F.col(c).cast(spec.rtypes[c]).alias(c) for c in spec.rcols],
    )
    both = tagged_l.unionByName(tagged_r)
    if n_buckets is not None:
        both = both.withColumn(
            "__bucket", F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets))
        )
        return both, "__bucket"
    return both, key_col


def stateful_stream_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    ts_col: str = "event_ts",
    ttl: str = "10 minutes",
    left_ts_name: str = "left_ts",
    right_ts_name: str = "right_ts",
    n_buckets: int | None = None,
) -> DataFrame:
    """Stateful inner stream-stream equi-join with buffered state (J6).

    Symmetric hash join: rows from both watermarked streams are buffered per
    key; each micro-batch emits new-left × all-seen-right plus new-right ×
    previously-buffered-left (no double counting).  Buffered rows are evicted
    once the watermark passes ``ts + ttl``.

    ``n_buckets=None`` groups state by the raw key (one state entry per key —
    fine for low/medium cardinality).  Setting ``n_buckets`` coarsens the
    grouping to ``pmod(xxhash64(key), n_buckets)`` buckets with the key stored
    in the state arrays and matched via vectorized merge — the layout that
    stays flat-cost as key cardinality grows (see module docstring).

    Both inputs must already carry ``withWatermark(ts_col, ...)``; payload
    column names (everything except key/ts) must be disjoint between sides —
    use per-side prefixes as in the reference's join prefixing
    (``base/constructor/Join.java:50-71``).
    """
    spec = JoinSpec(left, right, key_col, ts_col, ttl,
                    left_ts_name, right_ts_name)

    both, group_col = tag_union(left, right, spec, n_buckets)
    ttl_us = spec.ttl_us

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        wm = state.getCurrentWatermarkMs() * 1000  # µs
        old_l, old_r = spec.bufs_from_vals(
            list(state.get) if state.exists else None)
        new_l, new_r = spec.fold(pdfs, wm)
        new_l = spec.coerce(new_l, spec.l_ct) if new_l is not None else old_l.iloc[0:0]
        new_r = spec.coerce(new_r, spec.r_ct) if new_r is not None else old_r.iloc[0:0]
        all_r = spec.concat2(old_r, new_r)
        outs = []
        if len(new_l) and len(all_r):
            outs.append(spec.emit(new_l, all_r))
        if len(new_r) and len(old_l):
            outs.append(spec.emit(old_l, new_r))
        if outs:
            out = pd.concat(outs, ignore_index=True)
            if len(out):
                yield out[spec.out_cols]
        # retain buffers still inside TTL
        all_l = spec.concat2(old_l, new_l)
        all_l = spec.coerce(all_l[all_l["__ts"] + ttl_us > wm], spec.l_ct)
        all_r = spec.coerce(all_r[all_r["__ts"] + ttl_us > wm], spec.r_ct)
        if len(all_l) == 0 and len(all_r) == 0:
            if state.exists:
                state.remove()
            return
        state.update(spec.vals_from_bufs(all_l, all_r))
        lo = min(
            ([int(all_l["__ts"].min())] if len(all_l) else [])
            + ([int(all_r["__ts"].min())] if len(all_r) else [])
        )
        # timeout is in ms, strictly past the watermark
        state.setTimeoutTimestamp((lo + ttl_us) // 1000 + 1)

    return both.groupBy(group_col).applyInPandasWithState(
        fn, spec.out_ddl, spec.state_ddl, "append",
        GroupStateTimeout.EventTimeTimeout
    )
