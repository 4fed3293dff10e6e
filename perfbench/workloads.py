"""The benchmark's three workloads, driven through the engine's public API.

Each workload class has the same life cycle, called by ``run.py``:
``generate()`` (inputs from the seed, before the session starts), ``warm()``
(first pass through every code path, counted in set-up), ``measure()``
(``--seconds`` of load, returns a :class:`Result`), ``check(res)``
(outputs against an oracle) and, in the traced run, ``probe_layers(res)``.
Spans come from this file only, around calls into engine modules.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np
import pandas as pd
from pyspark.sql.streaming import StreamingQueryListener

from benchlib import (
    InsufficientSamples,
    attribute_lag,
    backlog_max,
    median_or_zero,
    percentile,
    sleep_until,
)

now = time.perf_counter

#: event-time jitter of generated clips; the tumbling window's 60 s
#: watermark drops nothing while 2 x jitter < 60 s, so no row may be late
JITTER_MS = 25_000
WINDOW = "10 minutes"
WINDOW_MS = 600_000
LABEL = "10m"


@dataclass
class Result:
    throughput_per_s: float = 0.0
    latency_ms_p50: float = 0.0
    #: the workload's own names for its metrics: name -> (value, unit)
    named: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    checks: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    extra: dict = field(default_factory=dict)

    def check(self, name: str, ok: bool, info: str = "") -> None:
        self.checks.append({"name": name, "ok": bool(ok), "info": info})
        self.attempted += 1
        self.failed += 0 if ok else 1

    def pct(self, values, p: float, name: str) -> float:
        """Percentile under the ten-beyond rule; a thin sample counts as a
        failure and is reported from the samples there are."""
        try:
            return percentile(values, p)
        except InsufficientSamples as exc:
            self.check(f"samples:{name}", False, str(exc))
            return percentile(values, p, min_beyond=0) if values else 0.0


def ms(seconds: float) -> float:
    return seconds * 1000.0


def overhead_frac(untraced: list, traced: list) -> float:
    """Traced over untraced median of the same end-to-end measure, minus 1."""
    if not untraced or not traced:
        return 0.0
    return float(np.median(traced) / np.median(untraced) - 1.0)


# -- streaming plumbing -------------------------------------------------------

class TimedSink:
    """``foreachBatch`` callable: the ledger sink's ``write_batch``, timed.
    The write runs the whole micro-batch plan, so its span covers decode,
    state and sink commit of that batch."""

    def __init__(self, sink, tracer, parent: int | None = None):
        self.sink = sink
        self.tracer = tracer
        self.parent = parent
        self.commits: dict = {}  # batch_id -> (t_start, t_end)

    def __call__(self, batch_df, batch_id: int) -> None:
        t0 = now()
        self.sink.write_batch(batch_df, batch_id)
        t1 = now()
        self.commits[batch_id] = (t0, t1)
        self.tracer.record("sink.write_batch", t0, t1, parent=self.parent,
                           req=batch_id)


class ProgressListener(StreamingQueryListener):
    """Keeps every ``QueryProgressEvent`` of the traced phase as a dict."""

    def __init__(self):
        self.events: list = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        with self._lock:
            self.events.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def of_run(self, run_id: str, batch_ids, timeout_s: float = 10.0):
        """This query run's events, waiting for the batch ids it ran (the
        listener bus delivers asynchronously)."""
        want = set(batch_ids)
        deadline = now() + timeout_s
        while True:
            with self._lock:
                got = [e for e in self.events if e["runId"] == run_id]
            if want <= {e["batchId"] for e in got} or now() > deadline:
                return got
            time.sleep(0.05)


def wait_no_data_batch(q, timeout_s: float = 30.0) -> None:
    """Wait for the no-data batch a stateful query runs once the watermark
    has moved and no new data is left.  ``processAllAvailable`` does not
    wait for it; it belongs to warm-up, not to the measured window."""
    last = max(p["batchId"] for p in recent_progress(q)
               if p["numInputRows"] > 0)
    deadline = now() + timeout_s
    while now() < deadline:
        if any(p["batchId"] > last and "addBatch" in p["durationMs"]
               for p in recent_progress(q)):
            return
        time.sleep(0.05)
    raise TimeoutError(f"no no-data batch after batch {last} in {timeout_s} s")


def recent_progress(q) -> list:
    return [json.loads(p.json) for p in q.recentProgress]


def end_offset(progress: dict) -> dict:
    off = progress["sources"][0]["endOffset"]
    return json.loads(off) if isinstance(off, str) else off


def watermark_ms(progress: dict) -> int | None:
    wm = (progress.get("eventTime") or {}).get("watermark")
    if not wm:
        return None
    return int(datetime.fromisoformat(wm.replace("Z", "+00:00"))
               .timestamp() * 1000)


DURATION_PARTS = ("latestOffset", "getBatch", "queryPlanning", "walCommit",
                  "addBatch", "commitOffsets", "commitBatch")


def stream_layers(progress: list) -> dict:
    """Per-layer metrics from ``StreamingQueryProgress`` dicts: the
    ``durationMs`` breakdown of data triggers and their state operators."""
    data = [p for p in progress if p.get("numInputRows", 0) > 0]

    def dur(key):
        return [p["durationMs"][key] for p in data if key in p["durationMs"]]

    def state(key, custom=False):
        out = []
        for p in data:
            ops = p.get("stateOperators") or []
            vals = [(op.get("customMetrics") or {}).get(key) if custom
                    else op.get(key) for op in ops]
            vals = [v for v in vals if v is not None]
            if vals:
                out.append(sum(vals))
        return out

    coverage = [
        sum(p["durationMs"].get(k, 0) for k in DURATION_PARTS)
        / p["durationMs"]["triggerExecution"]
        for p in data if p["durationMs"].get("triggerExecution")]
    last_ops = (progress[-1].get("stateOperators") or []) if progress else []
    return {
        "streams.triggers": float(len(progress)),
        "streams.trigger_ms_p50": median_or_zero(dur("triggerExecution")),
        "streams.add_batch_ms_p50": median_or_zero(dur("addBatch")),
        "streams.query_planning_ms_p50": median_or_zero(dur("queryPlanning")),
        "streams.wal_commit_ms_p50": median_or_zero(dur("walCommit")),
        "streams.commit_offsets_ms_p50": median_or_zero(dur("commitOffsets")),
        "streams.breakdown_coverage": median_or_zero(coverage),
        "tail.latest_offset_ms_p50": median_or_zero(dur("latestOffset")),
        "state.commit_ms_p50": median_or_zero(state("commitTimeMs")),
        "state.fsync_ms_p50": median_or_zero(
            state("rocksdbCommitFileSyncLatencyMs", custom=True)),
        "state.update_ms_p50": median_or_zero(state("allUpdatesTimeMs")),
        "state.rows_total_end": float(
            sum(op.get("numRowsTotal", 0) for op in last_ops)),
        "state.memory_bytes_end": float(
            sum(op.get("memoryUsedBytes", 0) for op in last_ops)),
        "state.rows_dropped_by_watermark": float(rows_dropped(progress)),
    }


def check_coverage(res: Result) -> None:
    """The ``durationMs`` parts must account for at least 90% of each
    trigger's wall time, or the streams breakdown hides a cost."""
    cov = res.layers["streams.breakdown_coverage"]
    res.check("streams:breakdown_coverage", cov >= 0.9, f"{cov:.3f}")


def rows_dropped(progress: list) -> int:
    return sum(op.get("numRowsDroppedByWatermark", 0)
               for p in progress for op in p.get("stateOperators") or [])


def read_clips(paths: list, value_col: str) -> pd.DataFrame:
    """Generated clips back from their data files: event ms, speaker and
    the aggregated value (``rms`` is computed from the payload)."""
    import pyarrow.parquet as pq

    cols = ["clip_id", "event_ts", "speaker_id"]
    cols += ["bytes", "codec"] if value_col == "rms" else [value_col]
    pdf = pd.concat([pq.read_table(p, columns=cols).to_pandas()
                     for p in paths], ignore_index=True)
    pdf["ts_ms"] = pdf["event_ts"].astype("datetime64[ms]").astype("int64")
    if value_col == "rms":
        pdf["rms"] = [clip_rms(b, c) for b, c in zip(pdf["bytes"],
                                                      pdf["codec"])]
    return pdf[["ts_ms", "speaker_id", value_col]]


def clip_rms(payload: bytes, codec: str) -> float:
    """Oracle decode, written from the codec definitions: PCM16 WAV (44-byte
    header, little-endian int16 over 32767) and G.711 mu-law."""
    if codec == "pcm_s16le":
        x = np.frombuffer(payload, dtype="<i2", offset=44) / 32767.0
    elif codec == "ulaw":
        y = np.frombuffer(payload, dtype=np.uint8) / 127.5 - 1.0
        x = np.sign(y) * (256.0 ** np.abs(y) - 1.0) / 255.0
    else:
        raise ValueError(f"oracle has no decoder for {codec!r}")
    return float(np.sqrt(np.mean(x * x))) if x.size else 0.0


def compare_windows(sink_pdf: pd.DataFrame, clips: pd.DataFrame,
                    value_col: str, watermark: int) -> tuple[bool, str]:
    """Sink rows against ``engine.oracle.tumbling_oracle`` over the clips,
    for every window the watermark has closed: keys and counts exactly,
    averages to allclose tolerance."""
    from engine.oracle import tumbling_oracle

    exp = tumbling_oracle(clips, "ts_ms", "speaker_id", value_col, WINDOW_MS,
                          LABEL)
    exp = exp[exp["window_end_ms"] <= watermark]
    got = sink_pdf.assign(window_start_ms=sink_pdf["window_start"]
                          .astype("datetime64[ms]").astype("int64"))
    key = ["window_start_ms", "speaker_id"]
    cnt, avg = f"num_trans_per_{LABEL}", f"avg_amt_per_{LABEL}"
    exp = exp.sort_values(key).reset_index(drop=True)
    got = got.sort_values(key).reset_index(drop=True)
    if len(got) != len(exp):
        return False, f"{len(got)} sink rows vs {len(exp)} oracle rows"
    if not (got[key].to_numpy() == exp[key].to_numpy()).all():
        return False, "window/key sets differ"
    if not (got[cnt].to_numpy() == exp[cnt].to_numpy()).all():
        return False, "counts differ"
    if not np.allclose(got[avg].to_numpy(), exp[avg].to_numpy(),
                       rtol=1e-9, atol=1e-12):
        return False, "averages differ"
    return True, f"{len(got)} rows match"


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn) -> float:
    t0 = now()
    fn()
    return now() - t0


def sink_commit_probe(spark, root: str, n: int = 21) -> float:
    """p50 ms of ``ParquetLedgerSink.write_batch`` on a small static frame
    shaped like a window output: the sink's commit cost without a plan."""
    from engine.sink import ParquetLedgerSink

    rows = [(datetime(2024, 1, 1, 0, 10 * i), datetime(2024, 1, 1, 0, 10 * i + 10),
             i, 3, 1.5, 0.1, 1.0, 2.0) for i in range(5)]
    df = spark.createDataFrame(
        rows, f"window_start timestamp, window_end timestamp, speaker_id long, "
              f"num_trans_per_{LABEL} long, avg_amt_per_{LABEL} double, "
              f"stdev_amt_per_{LABEL} double, min_amt_per_{LABEL} double, "
              f"max_amt_per_{LABEL} double")
    sink = ParquetLedgerSink(root, event_ts_col="window_start")
    times = [timed(lambda i=i: sink.write_batch(df, i)) for i in range(n)]
    return ms(float(np.median(times[1:])))


# -- flagship_drain -----------------------------------------------------------

class FlagshipDrain:
    """Closed loop: a pass drains the whole pre-committed topic through the
    flagship with a fresh checkpoint and sink, one full trigger after the
    other.  The topic is sized so that a pass takes about ``--seconds`` on a
    4-core host.  The request of this loop is the micro-batch: its latency
    is the trigger's ``triggerExecution`` time.  The first trigger of a pass
    also starts the query and is left out of every rate and latency.  The
    traced run makes a second, traced pass after the untraced one."""

    CLIPS_PER_FILE = 1000
    FILES_PER_TRIGGER = 4     # 4000-clip triggers
    #: sizes the topic: whole passes at this rate take ``--seconds``
    NOMINAL_CLIPS_PER_S = 2000
    WARM_FILES = 8            # two full warm triggers
    LADDER_FILES = 4          # the batch ladder reads the first 4 snapshots
    STATE_FILES_PER_TRIGGER = 2
    STATE_BUCKETS = 16
    MAX_DUR_MS = 600

    def __init__(self, ctx):
        self.ctx = ctx

    def _topic(self, name, n_files, seed):
        from engine.streams import write_clips_iceberg

        return write_clips_iceberg(
            self.ctx.path(name), n_files * self.CLIPS_PER_FILE, n_files=n_files,
            seed=seed, files_per_snapshot=1, parallelism=self.ctx.nproc,
            jitter_ms=JITTER_MS, max_dur_ms=self.MAX_DUR_MS)

    def generate(self):
        seed = self.ctx.seed
        per_trigger = self.FILES_PER_TRIGGER * self.CLIPS_PER_FILE
        # at least three triggers: two commit-to-commit intervals
        n_triggers = max(3, round(self.ctx.seconds * self.NOMINAL_CLIPS_PER_S
                                  / per_trigger))
        self.n_files = n_triggers * self.FILES_PER_TRIGGER
        self.topic = self._topic("topic", self.n_files, seed)
        self.warm_topic = self._topic("warm_topic", self.WARM_FILES,
                                      seed + 1_000_003)
        self.n_clips = self.n_files * self.CLIPS_PER_FILE

    def _pipeline(self, table, rundir):
        from engine.audio import extract_audio_features_direct
        from engine.streams import read_clip_stream_tail
        from engine.windows import tumbling_agg

        src = read_clip_stream_tail(
            self.ctx.spark, table, max_files_per_trigger=self.FILES_PER_TRIGGER,
            watermark=None, progress_dir=os.path.join(rundir, "progress"),
            exclude_columns=["bytes", "transcript"], include_file_path=True)
        feats = extract_audio_features_direct(src).withWatermark(
            "event_ts", "60 seconds")
        return tumbling_agg(feats, "event_ts", "speaker_id", "rms", WINDOW)

    def _pass(self, table, name, listener=None) -> dict:
        from engine.sink import ParquetLedgerSink

        rundir = self.ctx.path(name)
        sink = ParquetLedgerSink(os.path.join(rundir, "out"),
                                 event_ts_col="window_start")
        agg = self._pipeline(table, rundir)
        with self.ctx.tracer.span("streams.pass", req=name) as pass_span:
            timed_sink = TimedSink(sink, self.ctx.tracer, parent=pass_span)
            t0 = now()
            q = (agg.writeStream.outputMode("append")
                 .option("checkpointLocation", os.path.join(rundir, "ckpt"))
                 .foreachBatch(timed_sink).start())
            q.processAllAvailable()
            t_end = now()
        progress = recent_progress(q)
        run_id = str(q.runId)
        q.stop()
        if listener is not None:
            progress = sorted(
                listener.of_run(run_id, [p["batchId"] for p in progress]),
                key=lambda p: p["batchId"])
        return {"name": name, "t0": t0, "t_end": t_end, "sink": sink,
                "progress": progress, "commits": timed_sink.commits,
                "traced": listener is not None}

    def warm(self):
        self._pass(self.warm_topic, "warm")

    def measure(self) -> Result:
        ctx = self.ctx
        tracer = ctx.tracer
        listener = ProgressListener() if ctx.traced else None
        tracer.enabled = False
        self.passes = [self._pass(self.topic, "pass0")]
        if ctx.traced:
            tracer.enabled = True
            ctx.spark.streams.addListener(listener)
            try:
                self.passes.append(self._pass(self.topic, "pass1", listener))
            finally:
                ctx.spark.streams.removeListener(listener)

        res = Result()
        per_trigger = self.FILES_PER_TRIGGER * self.CLIPS_PER_FILE
        for p in self.passes:
            data = [e for e in p["progress"]
                    if e["numInputRows"] and e["batchId"] in p["commits"]]
            clips = sum(e["numInputRows"] for e in data)
            res.check(f"{p['name']}:all_clips_drained", clips == self.n_clips,
                      f"{clips}/{self.n_clips}")
            done = [p["commits"][e["batchId"]][1] for e in data]
            # full triggers after the first, each over its commit-to-commit
            # interval: the rate a long-running job sustains
            steady = [(e, b - a) for e, a, b in zip(data[1:], done, done[1:])
                      if e["numInputRows"] == per_trigger]
            res.check(f"{p['name']}:full_triggers", len(steady) >= 5,
                      f"{len(steady)} full triggers after the first")
            trig_ms = [e["durationMs"]["triggerExecution"] for e, _ in steady]
            p["clips_per_s"] = median_or_zero(
                [e["numInputRows"] / dt for e, dt in steady])
            p["trigger_ms_p50"] = median_or_zero(trig_ms)
            p["n_triggers"] = len(steady)
        head = self.passes[0]
        res.throughput_per_s = head["clips_per_s"]
        res.latency_ms_p50 = head["trigger_ms_p50"]
        res.named = {
            "clips_per_s": (res.throughput_per_s, "clips/s"),
            "trigger_ms_p50": (res.latency_ms_p50, "ms"),
        }
        res.extra["passes"] = [
            {"name": p["name"], "traced": p["traced"],
             "seconds": p["t_end"] - p["t0"], "clips_per_s": p["clips_per_s"],
             "trigger_ms_p50": p["trigger_ms_p50"],
             "steady_triggers": p["n_triggers"],
             "triggers": [(e["batchId"], e["numInputRows"],
                           e["durationMs"].get("triggerExecution"))
                          for e in p["progress"]]}
            for p in self.passes]
        res.attempted += sum(len(p["commits"]) for p in self.passes)
        return res

    def check(self, res: Result) -> None:
        clips = read_clips([f.file_path for f in self.topic.plan_files()],
                           "rms")
        max_ts = int(clips["ts_ms"].max())
        for p in self.passes:
            audit = p["sink"].audit()
            res.check(f"{p['name']}:audit",
                      audit["consistent"] and audit["unique_batch_ids"],
                      f"{audit['n_batches']} batches")
            res.check(f"{p['name']}:rows_dropped_by_watermark",
                      rows_dropped(p["progress"]) == 0)
            wm = watermark_ms(p["progress"][-1])
            res.check(f"{p['name']}:final_watermark", wm == max_ts - 60_000,
                      f"{wm} vs max event ms {max_ts} - 60 s")
            out = p["sink"].read_committed(self.ctx.spark).toPandas()
            ok, info = compare_windows(out, clips, "rms", max_ts - 60_000)
            res.check(f"{p['name']}:oracle", ok, info)

    def probe_layers(self, res: Result) -> None:
        from engine.audio import extract_audio_features_direct
        from engine.windows import tumbling_agg
        from pyspark.sql import functions as F

        spark, tracer = self.ctx.spark, self.ctx.tracer
        traced = [p for p in self.passes if p["traced"]]
        progress = [e for p in traced for e in p["progress"]]
        res.layers.update(stream_layers(progress))
        check_coverage(res)
        res.layers["sink.write_batch_ms_p50"] = median_or_zero(
            [ms(b - a) for p in traced for a, b in p["commits"].values()])
        res.layers["trace.overhead_frac"] = overhead_frac(
            [p["t_end"] - p["t0"] for p in self.passes if not p["traced"]],
            [p["t_end"] - p["t0"] for p in traced])

        # batch ladder over the first snapshots of the drain topic
        snap = [s["snapshot-id"] for s in self.topic.snapshots()][
            self.LADDER_FILES - 1]

        def scan():
            return self.topic.read(spark, snapshot_id=snap)

        def one_task(df):
            return df.select("*", F.col("_metadata.file_path")
                             .alias("__file_path")).drop("bytes").coalesce(1)

        def decoded(df):
            return extract_audio_features_direct(df)

        rungs = {
            "meta": lambda: noop(scan().drop("bytes")),
            "payload": lambda: noop(scan()),
            "decode": lambda: noop(decoded(scan())),
            "agg": lambda: noop(tumbling_agg(decoded(scan()), "event_ts",
                                             "speaker_id", "rms", WINDOW)),
            "meta_1task": lambda: noop(one_task(scan())),
            "decode_1task": lambda: noop(decoded(one_task(scan()))),
        }
        took = {}
        for name, fn in rungs.items():
            fn()  # plan and warm once, then time the median of three
            samples = []
            for _ in range(3):
                with tracer.span(f"ladder.{name}"):
                    samples.append(timed(fn))
            took[name] = float(np.median(samples))
        decode = max(took["decode"] - took["meta"], 1e-9)
        decode_1 = took["decode_1task"] - took["meta_1task"]
        res.layers.update({
            "iceberg.scan_meta_s": took["meta"],
            "iceberg.scan_payload_s": took["payload"],
            "audio.decode_s": decode,
            "audio.decode_s_1task": decode_1,
            "audio.parallel_eff": decode_1 / (self.ctx.nproc * decode),
            "windows.agg_s": took["agg"] - took["decode"],
        })
        res.extra["ladder_s"] = took
        res.extra["ladder_clips"] = self.LADDER_FILES * self.CLIPS_PER_FILE
        res.layers["iceberg.plan_files_ms"] = ms(float(np.median(
            [timed(self.topic.plan_files) for _ in range(5)])))
        res.layers["sink.commit_ms_p50"] = sink_commit_probe(
            spark, self.ctx.path("sink_probe"))
        self._state_pass(res)

    def _state_pass(self, res: Result) -> None:
        """``engine.state``, the ``applyInPandasWithState`` window store that
        the flagship's ``tumbling_agg`` does not use: the warm topic drained
        without payload through ``stateful_window_agg`` on ``dur_ms`` into a
        ledger sink, checked like the flagship.  The first trigger also
        starts the query and its Python state workers, so it is left out."""
        from engine.sink import ParquetLedgerSink
        from engine.state import stateful_window_agg
        from engine.streams import read_clip_stream_tail

        spark, rundir = self.ctx.spark, self.ctx.path("state_pass")
        src = read_clip_stream_tail(
            spark, self.warm_topic,
            max_files_per_trigger=self.STATE_FILES_PER_TRIGGER,
            watermark=None, progress_dir=os.path.join(rundir, "progress"),
            exclude_columns=["bytes", "transcript"])
        agg = stateful_window_agg(src, "event_ts", "speaker_id", "dur_ms",
                                  WINDOW, watermark="60 seconds",
                                  n_buckets=self.STATE_BUCKETS)
        sink = ParquetLedgerSink(os.path.join(rundir, "out"),
                                 event_ts_col="window_start")
        with self.ctx.tracer.span("state.pass"):
            q = (agg.writeStream.outputMode("append")
                 .option("checkpointLocation", os.path.join(rundir, "ckpt"))
                 .foreachBatch(sink.write_batch).start())
            q.processAllAvailable()
            wait_no_data_batch(q)
        progress = sorted(recent_progress(q), key=lambda p: p["batchId"])
        q.stop()
        layers = stream_layers(progress[1:])
        res.layers.update({
            "state.pandas_trigger_ms_p50": layers["streams.trigger_ms_p50"],
            "state.pandas_update_ms_p50": layers["state.update_ms_p50"],
            "state.pandas_commit_ms_p50": layers["state.commit_ms_p50"],
        })
        res.extra["state_pass_triggers"] = [
            (p["batchId"], p["numInputRows"],
             p["durationMs"].get("triggerExecution")) for p in progress]
        audit = sink.audit()
        res.check("state_pass:audit",
                  audit["consistent"] and audit["unique_batch_ids"],
                  f"{audit['n_batches']} batches")
        res.check("state_pass:rows_dropped_by_watermark",
                  rows_dropped(progress) == 0)
        clips = read_clips([f.file_path for f in self.warm_topic.plan_files()],
                           "dur_ms")
        ok, info = compare_windows(sink.read_committed(spark).toPandas(),
                                   clips, "dur_ms",
                                   int(clips["ts_ms"].max()) - 60_000)
        res.check("state_pass:oracle", ok, info)


# -- live_tail ----------------------------------------------------------------

class LiveTail:
    """Open loop: a producer thread commits one pre-generated data file per
    tick as its own Iceberg snapshot; the tail source follows the commits
    into the ``applyInPandasWithState`` window store and the ledger sink.
    A snapshot's lag runs from when the producer was due to commit it to
    the sink commit of the first micro-batch whose end offset covers it."""

    #: each data file is one read task and adds 0.1-0.23 s to a trigger on
    #: 4 cores, on top of a 2-2.5 s fixed cost, depending on co-tenant load;
    #: 2.5 files/s keeps the per-file share of a trigger at 0.25-0.6, so the
    #: backlog stays bounded even on a slow host
    PERIOD_S = 0.4
    CLIPS_PER_FILE = 160      # 400 clips/s offered
    TAIL_PCT = 60             # 25 lag samples in 10 s support p60
    WARM_FILES = 4
    N_BUCKETS = 16
    MAX_DUR_MS = 400

    def __init__(self, ctx):
        self.ctx = ctx

    def generate(self):
        from engine.streams import write_clips_iceberg

        self.n_ticks = math.ceil(self.ctx.seconds / self.PERIOD_S)
        n_files = self.WARM_FILES + self.n_ticks
        staging = write_clips_iceberg(
            self.ctx.path("staging"), n_files * self.CLIPS_PER_FILE,
            n_files=n_files, seed=self.ctx.seed, parallelism=self.ctx.nproc,
            jitter_ms=JITTER_MS, max_dur_ms=self.MAX_DUR_MS)
        # arrival order = file order (event time grows with the clip index)
        self.files = sorted(staging.plan_files(),
                            key=lambda f: os.path.basename(f.file_path))

    def _commit(self, i: int) -> int:
        return self.table.commit_append([self.files[i]])

    def warm(self):
        from engine.iceberg import IcebergTable
        from engine.sink import ParquetLedgerSink
        from engine.state import stateful_window_agg
        from engine.streams import CLIP_SCHEMA_DDL, read_clip_stream_tail

        spark = self.ctx.spark
        schema = spark.createDataFrame([], CLIP_SCHEMA_DDL).schema
        self.table = IcebergTable(self.ctx.path("live"), schema=schema)
        self.log = []  # [(snapshot_id, n_files)] in commit order
        src = read_clip_stream_tail(
            spark, self.table, max_files_per_trigger=1_000_000,
            watermark=None, progress_dir=self.ctx.path("progress"),
            exclude_columns=["bytes", "transcript"])
        agg = stateful_window_agg(src, "event_ts", "speaker_id", "dur_ms",
                                  WINDOW, watermark="60 seconds",
                                  n_buckets=self.N_BUCKETS)
        self.sink = ParquetLedgerSink(self.ctx.path("out"),
                                      event_ts_col="window_start")
        self.timed_sink = TimedSink(self.sink, self.ctx.tracer)
        self.query = (agg.writeStream.outputMode("append")
                      .option("checkpointLocation", self.ctx.path("ckpt"))
                      .foreachBatch(self.timed_sink).start())
        for i in range(self.WARM_FILES):
            self.log.append((self._commit(i), 1))
        self.query.processAllAvailable()
        wait_no_data_batch(self.query)

    def _produce(self, t0: float, out: list, errors: list) -> None:
        tracer = self.ctx.tracer
        try:
            for k in range(self.n_ticks):
                due = t0 + k * self.PERIOD_S
                sleep_until(due)
                start = now()
                sid = self._commit(self.WARM_FILES + k)
                end = now()
                out.append({"sid": sid, "due": due, "start": start,
                            "end": end})
                tracer.record("iceberg.commit_append", start, end, req=k)
        except Exception as exc:  # reported as a failed check
            errors.append(repr(exc))

    def measure(self) -> Result:
        ctx = self.ctx
        spark = ctx.spark
        listener = ProgressListener() if ctx.traced else None
        ctx.tracer.enabled = False
        commits, errors = [], []
        t0 = now() + 0.05
        self.t_mid = t0 + ctx.seconds / 2
        producer = threading.Thread(target=self._produce,
                                    args=(t0, commits, errors))
        producer.start()
        if ctx.traced:
            # second half traced: spans and the progress listener
            time.sleep(max(0.0, self.t_mid - now()))
            ctx.tracer.enabled = True
            spark.streams.addListener(listener)
        producer.join()
        self.query.processAllAvailable()
        self.progress = recent_progress(self.query)
        run_id = str(self.query.runId)
        self.query.stop()
        if listener is not None:
            spark.streams.removeListener(listener)
            self.traced_progress = listener.of_run(
                run_id, [b for b, (start, _) in self.timed_sink.commits.items()
                         if start >= self.t_mid])
        self.log += [(c["sid"], 1) for c in commits]
        self.commits = commits

        res = Result()
        res.check("producer", not errors, "; ".join(errors))
        res.check("query_alive_until_stopped",
                  self.query.exception() is None)
        batches = [
            (end_offset(p), self.timed_sink.commits[p["batchId"]][1])
            for p in sorted(self.progress, key=lambda p: p["batchId"])
            if p["batchId"] in self.timed_sink.commits]
        lag = attribute_lag(self.log, {c["sid"]: c["due"] for c in commits},
                            batches)
        missing = [sid for sid, v in lag.items() if v is None]
        res.attempted += len(lag) + len(self.timed_sink.commits)
        res.failed += len(missing)
        samples = [ms(v) for v in lag.values() if v is not None]
        res.latency_ms_p50 = res.pct(samples, 50, "ingest_lag_p50")
        lag_tail = res.pct(samples, self.TAIL_PCT, f"ingest_lag_p{self.TAIL_PCT}")
        delivered = [c["due"] + lag[c["sid"]] for c in commits
                     if lag[c["sid"]] is not None]
        clips = len(delivered) * self.CLIPS_PER_FILE
        res.throughput_per_s = clips / (max(delivered) - t0)
        res.named = {
            "ingest_lag_ms_p50": (res.latency_ms_p50, "ms"),
            f"ingest_lag_ms_p{self.TAIL_PCT}": (lag_tail, "ms"),
            "delivered_clips_per_s": (res.throughput_per_s, "clips/s"),
        }
        self.lag = lag
        res.extra.update({
            "snapshots": len(commits), "lag_samples": len(samples),
            "missing_lag_samples": len(missing),
            "offered_clips_per_s": self.CLIPS_PER_FILE / self.PERIOD_S,
            "triggers": [(p["batchId"], p["numInputRows"], p["durationMs"])
                         for p in self.progress]})
        return res

    def check(self, res: Result) -> None:
        audit = self.sink.audit()
        res.check("audit", audit["consistent"] and audit["unique_batch_ids"],
                  f"{audit['n_batches']} batches")
        res.check("rows_dropped_by_watermark",
                  rows_dropped(self.progress) == 0)
        paths = [f.file_path for f in self.files]
        clips = read_clips(paths, "dur_ms")
        closed = int(clips["ts_ms"].max()) - 60_000
        out = self.sink.read_committed(self.ctx.spark).toPandas()
        ok, info = compare_windows(out, clips, "dur_ms", closed)
        res.check("oracle", ok, info)

    def probe_layers(self, res: Result) -> None:
        traced = [c for c in self.commits if c["due"] >= self.t_mid]
        res.layers.update(stream_layers(self.traced_progress))
        check_coverage(res)
        res.layers["iceberg.commit_append_ms_p50"] = median_or_zero(
            [ms(c["end"] - c["start"]) for c in traced])
        res.layers["gen.late_ms_max"] = max(
            ms(c["start"] - c["due"]) for c in self.commits)
        res.layers["tail.backlog_files_max"] = float(backlog_max(
            [(c["end"], None if self.lag[c["sid"]] is None
              else c["due"] + self.lag[c["sid"]]) for c in self.commits]))
        res.layers["sink.write_batch_ms_p50"] = median_or_zero(
            [ms(b - a) for a, b in self.timed_sink.commits.values()
             if a >= self.t_mid])
        lag = [(c["due"], ms(self.lag[c["sid"]])) for c in self.commits
               if self.lag[c["sid"]] is not None]
        res.layers["trace.overhead_frac"] = overhead_frac(
            [v for t, v in lag if t < self.t_mid],
            [v for t, v in lag if t >= self.t_mid])
        res.layers["iceberg.plan_files_ms"] = ms(float(np.median(
            [timed(self.table.plan_files) for _ in range(5)])))
        res.layers["sink.commit_ms_p50"] = sink_commit_probe(
            self.ctx.spark, self.ctx.path("sink_probe"))


# -- serve_upsert -------------------------------------------------------------

class ServeUpsert:
    """Open loop: one load thread sends point lookups at a fixed rate through
    ``FeatureView.get_feature_vector``; a writer thread upserts, with
    ``FeatureStore.insert(mode=UPSERT)``, the rows one flagship trigger
    emits, once per period.  A lookup's latency runs from when it was due.

    The traffic follows the flagship's data: the feature group holds one
    window row per ``speaker_id`` of the generated clips (the key space and
    Zipf skew of ``engine.synth.make_clips_pdf``), a lookup's key is drawn
    from the same skew, and an upsert carries the speakers of one
    ``FlagshipDrain`` trigger's clips with their clip counts."""

    #: lookups/s: a warm lookup takes about 0.05 ms (0.17 ms from its due
    #: time), so at this rate the one load thread idles over 95% of the time
    #: and lookups queue only behind snapshot rebuilds
    RATE = 200.0
    #: seconds between upserts, a departure from the flagship's own cadence
    #: (one trigger per ~1.6 s on 4 cores): every commit makes the next
    #: lookup rebuild the snapshot synchronously, and at the flagship's
    #: cadence rebuilds would follow each other with no bound on the backlog
    UPSERT_PERIOD_S = 4.0
    UPSERT_OFFSET_S = 1.0
    WARM_LOOKUPS = 2_000
    WARM_UPSERTS = 4          # rebuilds before measuring, for a warm plan
    CNT, AVG = f"num_trans_per_{LABEL}", f"avg_amt_per_{LABEL}"

    def __init__(self, ctx):
        self.ctx = ctx

    def _speakers(self, rng, n: int) -> np.ndarray:
        """Speaker keys as the clip generator draws them."""
        return np.minimum(rng.zipf(self.zipf_a, size=n),
                          self.n_speakers).astype(np.int64)

    def _trigger_rows(self, rng, version: int) -> pd.DataFrame:
        """One flagship trigger's window rows: the speakers of its clips."""
        per_trigger = FlagshipDrain.FILES_PER_TRIGGER * FlagshipDrain.CLIPS_PER_FILE
        keys, counts = np.unique(self._speakers(rng, per_trigger),
                                 return_counts=True)
        return pd.DataFrame({"speaker_id": keys,
                             self.CNT: counts.astype(np.int64),
                             self.AVG: rng.random(len(keys)),
                             "ver": np.full(len(keys), version, np.int64)})

    def generate(self):
        import inspect

        from engine.synth import make_clips_pdf

        params = inspect.signature(make_clips_pdf).parameters
        self.n_speakers = params["n_speakers"].default
        self.zipf_a = params["zipf_a"].default
        rng = np.random.default_rng(self.ctx.seed)
        n = self.n_speakers
        self.base = pd.DataFrame({
            "speaker_id": np.arange(1, n + 1, dtype=np.int64),
            self.CNT: rng.integers(1, 20, size=n).astype(np.int64),
            self.AVG: rng.random(n),
            "ver": np.zeros(n, dtype=np.int64),
        })
        self.n_lookups = int(self.RATE * self.ctx.seconds)
        self.lookup_keys = self._speakers(rng, self.n_lookups)
        self.warm_keys = self._speakers(rng, self.WARM_LOOKUPS)
        self.upsert_at = np.arange(self.UPSERT_OFFSET_S, self.ctx.seconds,
                                   self.UPSERT_PERIOD_S)
        # versions 1..WARM_UPSERTS are the warm-up upserts, then one version
        # per measured upsert
        self.upserts = [self._trigger_rows(rng, v) for v in
                        range(1, self.WARM_UPSERTS + len(self.upsert_at) + 1)]
        self.keys_of = {0: set(range(1, n + 1))}
        self.model = {(int(k), 0): (c, a) for k, c, a, _ in
                      self.base.itertuples(index=False)}
        for up in self.upserts:
            v = int(up["ver"].iloc[0])
            self.keys_of[v] = {int(k) for k in up["speaker_id"]}
            for k, c, a, _ in up.itertuples(index=False):
                self.model[(int(k), v)] = (c, a)

    def _insert(self, version: int) -> None:
        from engine.store import SaveMode

        df = self.ctx.spark.createDataFrame(self.upserts[version - 1])
        self.store.insert(self.fg, df, mode=SaveMode.UPSERT)

    def _lookup(self, key: int) -> dict:
        return self.fv.get_feature_vector({"speaker_id": key})

    def warm(self):
        from engine.store import FeatureStore

        spark = self.ctx.spark
        self.store = FeatureStore(self.ctx.path("store"))
        base = spark.createDataFrame(self.base)
        self.fg = self.store.get_or_create_stream_feature_group(
            "speaker_windows", df=base, primary_key=["speaker_id"])
        self.store.insert(self.fg, base)
        self.fv = self.store.get_or_create_feature_view(
            "speaker_windows_fv", 1, query=self.fg.select_all())
        self.fv.init_serving(spark, store=self.store)
        self._lookup(int(self.warm_keys[0]))
        # warms the upsert-resolving read plan and the snapshot rebuild
        for v in range(1, self.WARM_UPSERTS + 1):
            self._insert(v)
            self._lookup(int(self.warm_keys[v]))
        self.writes = [{"ver": v, "start": 0.0, "end": 0.0}
                       for v in range(self.WARM_UPSERTS + 1)]

    def _write(self, t0: float, errors: list) -> None:
        try:
            for v, at in enumerate(self.upsert_at, self.WARM_UPSERTS + 1):
                due = t0 + at
                sleep_until(due)
                start = now()
                self._insert(v)
                end = now()
                self.writes.append({"ver": v, "due": due, "start": start,
                                    "end": end})
                self.ctx.tracer.record("store.insert", start, end, req=v)
        except Exception as exc:  # reported as a failed check
            errors.append(repr(exc))

    def measure(self) -> Result:
        ctx = self.ctx
        tracer = ctx.tracer
        token_fn = (lambda: self.store.ledger_token(self.fg))
        last_token = token_fn()
        errors = []
        t0 = now() + 0.05
        writer = threading.Thread(target=self._write, args=(t0, errors))
        writer.start()
        looks = []
        for i, key in enumerate(self.lookup_keys):
            due = t0 + i / self.RATE
            sleep_until(due)
            rebuild = False
            if ctx.traced:
                token = token_fn()
                rebuild, last_token = token != last_token, token
            start = now()
            try:
                row = self._lookup(int(key))
                err = None
            except Exception as exc:  # counted as a failed lookup
                row, err = None, repr(exc)
            end = now()
            if ctx.traced:
                tracer.record("serving.rebuild" if rebuild
                              else "serving.lookup", start, end, req=i)
            looks.append({"i": i, "k": int(key), "due": due, "start": start,
                          "end": end, "row": row, "err": err,
                          "rebuild": rebuild})
        writer.join()
        self.looks = looks

        res = Result()
        res.check("writer", not errors, "; ".join(errors))
        lat = [ms(x["end"] - x["due"]) for x in looks]
        res.latency_ms_p50 = res.pct(lat, 50, "lookup_p50")
        self.p99 = res.pct(lat, 99, "lookup_p99")
        res.throughput_per_s = len(looks) / (looks[-1]["end"] - t0)
        self.stale = self._staleness()
        stale_p50 = res.pct(self.stale, 50, "stale_p50")
        res.named = {
            "lookup_ms_p50": (res.latency_ms_p50, "ms"),
            "lookup_ms_p99": (self.p99, "ms"),
            "stale_ms_p50": (stale_p50, "ms"),
            "lookups_per_s": (res.throughput_per_s, "1/s"),
        }
        res.extra.update({"lookups": len(looks),
                          "upserts": len(self.writes) - self.WARM_UPSERTS - 1,
                          "upsert_rows": [len(u) for u in self.upserts],
                          "stale_samples": len(self.stale),
                          "stalled_lookups": sum(v > 10.0 for v in lat),
                          "stall_ms": self._stalls(lat)})
        return res

    def _stalls(self, lat: list) -> list:
        """Per measured upsert, the longest lookup latency until the next
        upsert returns: the stall its snapshot rebuild caused."""
        writes = self.writes[self.WARM_UPSERTS + 1:]
        bounds = [w["end"] for w in writes] + [math.inf]
        return [max((v for x, v in zip(self.looks, lat) if a < x["end"] <= b),
                    default=0.0)
                for a, b in zip(bounds, bounds[1:])]

    def _staleness(self) -> list:
        """Per measured upsert and upserted key that is looked up: ms from
        ``insert`` returning to the first completed lookup of that key
        returning that version or a newer one."""
        seen: dict = {}  # key -> [(end, ver)] in lookup order
        for x in self.looks:
            if x["row"] is not None:
                seen.setdefault(x["k"], []).append((x["end"], x["row"]["ver"]))
        out = []
        for w in self.writes[self.WARM_UPSERTS + 1:]:
            for k in self.keys_of[w["ver"]]:
                end = next((e for e, v in seen.get(k, ()) if v >= w["ver"]),
                           None)
                if end is not None:
                    out.append(ms(max(0.0, end - w["end"])))
        return out

    def check(self, res: Result) -> None:
        """Every lookup equals the model at a version it may see: at least
        the newest one holding its key whose insert returned before the
        lookup started, at most the newest one holding it whose insert began
        before the lookup ended."""
        bad = []
        for x in self.looks:
            row, k = x["row"], x["k"]
            if row is None:
                bad.append((x["i"], x["err"]))
                continue
            mine = [w for w in self.writes if k in self.keys_of[w["ver"]]]
            lo = max(w["ver"] for w in mine if w["end"] < x["start"])
            hi = max(w["ver"] for w in mine if w["start"] < x["end"])
            v = row["ver"]
            if not (lo <= v <= hi) or self.model.get((k, v)) != (
                    row[self.CNT], row[self.AVG]):
                bad.append((x["i"], f"key {k} ver {v} not in [{lo}, {hi}] "
                                    "or values differ"))
        res.attempted += len(self.looks)
        res.failed += len(bad)
        res.checks.append({"name": "lookups_match_model", "ok": not bad,
                           "info": f"{len(bad)} of {len(self.looks)} bad"
                                   + (f", first {bad[0]}" if bad else "")})

    def _warm_lookups(self, traced: bool) -> list:
        """µs per warm lookup; ``traced`` adds what the traced phase adds
        per lookup (a ledger-token check and a span)."""
        out = []
        for i, k in enumerate(self.warm_keys):
            t = now()
            if traced:
                self.store.ledger_token(self.fg)
            start = now()
            self._lookup(int(k))
            end = now()
            if traced:
                self.ctx.tracer.record("serving.lookup", start, end, req=i)
            out.append((end - t) * 1e6)
        return out

    def probe_layers(self, res: Result) -> None:
        spark = self.ctx.spark
        res.layers["serving.rebuild_ms_p50"] = median_or_zero(
            [ms(x["end"] - x["start"]) for x in self.looks if x["rebuild"]])
        res.layers["store.insert_ms_p50"] = median_or_zero(
            [ms(w["end"] - w["start"])
             for w in self.writes[self.WARM_UPSERTS + 1:]])
        res.layers["serving.stale_ms_p50"] = median_or_zero(self.stale)
        res.layers["serving.lookup_ms_p99"] = self.p99
        res.layers["gen.late_ms_max"] = max(
            ms(x["start"] - x["due"]) for x in self.looks)
        # warm lookups with no commits in flight (the snapshot dict path),
        # plain and with the traced run's instrumentation around them
        plain = self._warm_lookups(traced=False)
        res.layers["serving.lookup_us_p50"] = float(np.median(plain))
        res.layers["trace.overhead_frac"] = overhead_frac(
            plain, self._warm_lookups(traced=True))
        token = []
        for _ in range(self.WARM_LOOKUPS):
            t = now()
            self.store.ledger_token(self.fg)
            token.append((now() - t) * 1e6)
        res.layers["store.ledger_token_us_p50"] = float(np.median(token))
        res.layers["store.read_collect_ms"] = ms(float(np.median(
            [timed(lambda: self.store.read(spark, self.fg).collect())
             for _ in range(3)])))


WORKLOADS = {
    "flagship_drain": FlagshipDrain,
    "live_tail": LiveTail,
    "serve_upsert": ServeUpsert,
}
