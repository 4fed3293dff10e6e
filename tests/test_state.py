"""Custom applyInPandasWithState store (engine.state) vs built-in oracles.

The built-in window()/session_window aggregates and a batch join serve as
semantic oracles: the custom store must emit the identical row set for the
same replayed stream + watermark (SURVEY.md §4.2, north rule T5/J6).
"""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from engine.state import dur_ms, stateful_session_agg, stateful_window_agg
from engine.state_join import stateful_stream_join
from engine.streams import (
    run_join_pipeline,
    transcript_features,
    write_clips_iceberg,
)
from engine.windows import session_agg, sliding_agg, tumbling_agg


@pytest.fixture(scope="module")
def topic(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("state_stream") / "clips")
    return write_clips_iceberg(d, n_clips=1500, n_files=8, seed=11,
                               jitter_ms=30_000)


_MEMQ = [0]


def _run_stream(spark, df):
    _MEMQ[0] += 1
    name = f"state_mem_{_MEMQ[0]}"
    q = df.writeStream.format("memory").queryName(name).outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"select * from {name}").toPandas()


def _cmp(got: pd.DataFrame, want: pd.DataFrame, keys):
    got = got.sort_values(keys, ignore_index=True)[sorted(got.columns)]
    want = want.sort_values(keys, ignore_index=True)[sorted(want.columns)]
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, want, check_exact=False, rtol=1e-9, check_dtype=False)


def test_dur_ms():
    assert dur_ms("10 minutes") == 600_000
    assert dur_ms("1 hour") == 3_600_000
    assert dur_ms("30 seconds") == 30_000
    with pytest.raises(ValueError):
        dur_ms("10 fortnights")


def test_stateful_tumbling_matches_builtin(spark, topic, clip_stream):
    src = clip_stream(topic, max_files_per_trigger=2)
    got = _run_stream(
        spark, stateful_window_agg(src, "event_ts", "speaker_id", "dur_ms", "10 minutes")
    )
    src2 = clip_stream(topic, max_files_per_trigger=2)
    want = _run_stream(
        spark, tumbling_agg(src2, "event_ts", "speaker_id", "dur_ms", "10 minutes")
    )
    _cmp(got, want, ["window_start", "speaker_id"])


def test_stateful_sliding_matches_builtin(spark, topic, clip_stream):
    src = clip_stream(topic, max_files_per_trigger=2)
    got = _run_stream(
        spark,
        stateful_window_agg(
            src, "event_ts", "speaker_id", "dur_ms", "10 minutes", slide="5 minutes"
        ),
    )
    src2 = clip_stream(topic, max_files_per_trigger=2)
    want = _run_stream(
        spark,
        sliding_agg(src2, "event_ts", "speaker_id", "dur_ms", "10 minutes", "5 minutes"),
    )
    _cmp(got, want, ["window_start", "speaker_id"])


def test_stateful_session_matches_builtin(spark, topic, clip_stream):
    src = clip_stream(topic, max_files_per_trigger=2)
    got = _run_stream(
        spark, stateful_session_agg(src, "event_ts", "speaker_id", "dur_ms", "2 minutes")
    )
    src2 = clip_stream(topic, max_files_per_trigger=2)
    want = _run_stream(
        spark, session_agg(src2, "event_ts", "speaker_id", "dur_ms", "2 minutes")
    )
    _cmp(got, want, ["window_start", "speaker_id"])


def test_stateful_join_matches_batch(spark, topic, tmp_path):
    out = os.path.join(str(tmp_path), "join_out")
    ckpt = os.path.join(str(tmp_path), "join_ckpt")
    _, sink = run_join_pipeline(
        spark, topic, out, ckpt, max_files_per_trigger=2, ttl="10 minutes"
    )
    got = sink.read_committed(spark).toPandas()

    batch = topic.read(spark)
    from engine.audio import extract_audio_features

    feats = extract_audio_features(batch).select(
        "clip_id", "event_ts", "rms", "peak", "decoded_dur_ms"
    )
    txts = transcript_features(batch)
    want = (
        feats.join(txts.withColumnRenamed("event_ts", "right_ts"), on="clip_id")
        .withColumnRenamed("event_ts", "left_ts")
        .toPandas()
    )
    # both sides replay the same table in lockstep → every pair joins
    _cmp(got, want, ["clip_id"])


def test_join_ttl_expires_unmatched(spark, topic, clip_stream, tmp_path):
    """A right side filtered to half the keys → unmatched left state must be
    evicted (no growth) and only matching pairs emitted."""
    src_l = clip_stream(topic, max_files_per_trigger=4)
    left = src_l.select("clip_id", "event_ts", F.col("dur_ms").alias("l_dur"))
    src_r = clip_stream(topic, max_files_per_trigger=4)
    right = transcript_features(src_r).where(
        F.abs(F.hash("clip_id")) % 2 == 0
    )
    joined = stateful_stream_join(left, right, "clip_id", "event_ts", ttl="2 minutes")
    got = _run_stream(spark, joined)
    batch = topic.read(spark)
    want_keys = (
        transcript_features(batch)
        .where(F.abs(F.hash("clip_id")) % 2 == 0)
        .select("clip_id")
        .toPandas()["clip_id"]
    )
    assert set(got["clip_id"]) == set(want_keys)
    assert got["clip_id"].is_unique


def test_stateful_kill_restart_resumes(spark, topic, clip_stream, tmp_path):
    """Custom applyInPandasWithState store must survive checkpoint restore:
    kill mid-stream, restart, result equals an uninterrupted run."""
    import time

    from engine.sink import ParquetLedgerSink

    def build(out, ckpt):
        src = clip_stream(topic, os.path.join(ckpt, "_tail_progress"),
                          max_files_per_trigger=1)
        agg = stateful_window_agg(src, "event_ts", "speaker_id", "dur_ms", "10 minutes")
        sink = ParquetLedgerSink(out, event_ts_col="window_start")
        q = (
            agg.writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .foreachBatch(sink.foreach_batch())
            .start()
        )
        return q, sink

    out, ckpt = str(tmp_path / "kr_out"), str(tmp_path / "kr_ckpt")
    q, sink = build(out, ckpt)
    # bounded wait; a query that dies on its own under load IS the kill
    # this test performs — a persistent failure resurfaces loudly in the
    # restarted query's processAllAvailable below
    deadline = time.time() + 120
    while len(sink.committed_batches()) < 3 and q.isActive:
        if time.time() > deadline:
            break
        time.sleep(0.2)
    q.stop()  # kill mid-stream

    q2, _ = build(out, ckpt)
    q2.processAllAvailable()
    q2.stop()
    audit = sink.audit()
    assert audit["unique_batch_ids"] and audit["consistent"]

    ref_out, ref_ckpt = str(tmp_path / "ref_out"), str(tmp_path / "ref_ckpt")
    q3, ref_sink = build(ref_out, ref_ckpt)
    q3.processAllAvailable()
    q3.stop()
    a = sink.read_committed(spark).orderBy("window_start", "speaker_id").toPandas()
    b = ref_sink.read_committed(spark).orderBy("window_start", "speaker_id").toPandas()
    pd.testing.assert_frame_equal(
        a.reset_index(drop=True), b.reset_index(drop=True),
        check_exact=False, rtol=1e-9,
    )


@pytest.mark.parametrize("sink_kind", ["ledger", "iceberg"])
def test_stateful_replay_of_sink_committed_batch_recovers(
        spark, topic, clip_stream, tmp_path, sink_kind):
    """A crash between the sink's commit and Spark's commit-log write
    leaves the last batch committed in the sink but not in the checkpoint,
    so the restart replays it. The sink must still run the replayed frame:
    otherwise the state stores never commit that batch and Spark refuses
    to go on (STATE_STORE_COMMIT_VALIDATION_FAILED) on every restart. The
    recovered rows and audit equal an uninterrupted run's."""
    from engine.iceberg import IcebergSink
    from engine.sink import ParquetLedgerSink

    def run(out, ckpt):
        sink = (ParquetLedgerSink(out, event_ts_col="window_start")
                if sink_kind == "ledger" else IcebergSink(out))
        src = clip_stream(topic, os.path.join(ckpt, "_tail_progress"),
                          max_files_per_trigger=2)
        agg = stateful_window_agg(
            src, "event_ts", "speaker_id", "dur_ms", "10 minutes")
        q = (agg.writeStream.outputMode("append")
             .option("checkpointLocation", ckpt)
             .foreachBatch(sink.foreach_batch()).start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return sink

    out, ckpt = str(tmp_path / "rp_out"), str(tmp_path / "rp_ckpt")
    run(out, ckpt)
    commits = os.path.join(ckpt, "commits")
    last = max(int(n) for n in os.listdir(commits) if n.isdigit())
    os.remove(os.path.join(commits, str(last)))
    crc = os.path.join(commits, f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    sink = run(out, ckpt)  # replays batch `last`
    assert os.path.exists(os.path.join(commits, str(last)))

    ref = run(str(tmp_path / "rp_ref_out"), str(tmp_path / "rp_ref_ckpt"))
    assert sink.audit() == ref.audit()
    keys = ["window_start", "speaker_id"]
    a = sink.read_committed(spark).toPandas().sort_values(keys)
    b = ref.read_committed(spark).toPandas().sort_values(keys)
    pd.testing.assert_frame_equal(
        a[b.columns].reset_index(drop=True), b.reset_index(drop=True),
        check_exact=False, rtol=1e-9,
    )


def test_salted_streaming_window_matches_unsalted(spark, topic, clip_stream):
    """Streaming two-phase salted aggregate (chained stateful aggs) must emit
    the same rows as the single-phase windowed aggregate."""
    from engine.skew import salted_window_agg_stream

    src = clip_stream(topic, max_files_per_trigger=2)
    got = _run_stream(
        spark,
        salted_window_agg_stream(src, "event_ts", "speaker_id", "dur_ms",
                                 "10 minutes", n_salts=8, salt_from="clip_id"),
    )
    src2 = clip_stream(topic, max_files_per_trigger=2)
    want = _run_stream(
        spark, tumbling_agg(src2, "event_ts", "speaker_id", "dur_ms", "10 minutes")
    )
    # column order may differ; stdev null-vs-NaN normalized by _cmp's rtol path
    _cmp(got, want, ["window_start", "speaker_id"])


def test_stateful_late_drop_matches_builtin(spark, clip_stream,
                                            tmp_path_factory):
    """Out-of-orderness (120 s) beyond the watermark (60 s) forces real late
    drops — the custom store must drop exactly the rows the built-in drops."""
    d = str(tmp_path_factory.mktemp("late") / "clips")
    t = write_clips_iceberg(d, n_clips=1200, n_files=8, seed=23,
                            jitter_ms=120_000)

    src = clip_stream(t, max_files_per_trigger=1, watermark=None)
    got = _run_stream(
        spark,
        stateful_window_agg(src, "event_ts", "speaker_id", "dur_ms", "10 minutes",
                            watermark="60 seconds"),
    )
    src2 = clip_stream(t, max_files_per_trigger=1)
    want = _run_stream(
        spark, tumbling_agg(src2, "event_ts", "speaker_id", "dur_ms", "10 minutes")
    )
    # sanity: drops actually happened (streamed != full batch aggregate)
    batch_rows = tumbling_agg(
        t.read(spark), "event_ts", "speaker_id", "dur_ms", "10 minutes"
    ).count()
    assert len(want) < batch_rows or len(want) > 0
    _cmp(got, want, ["window_start", "speaker_id"])


def test_stateful_session_late_drop_matches_builtin(spark, clip_stream,
                                                    tmp_path_factory):
    d = str(tmp_path_factory.mktemp("late_s") / "clips")
    t = write_clips_iceberg(d, n_clips=800, n_files=6, seed=29,
                            jitter_ms=120_000)
    src = clip_stream(t, max_files_per_trigger=1, watermark=None)
    got = _run_stream(
        spark,
        stateful_session_agg(src, "event_ts", "speaker_id", "dur_ms", "2 minutes",
                             watermark="60 seconds"),
    )
    src2 = clip_stream(t, max_files_per_trigger=1)
    want = _run_stream(
        spark, session_agg(src2, "event_ts", "speaker_id", "dur_ms", "2 minutes")
    )
    _cmp(got, want, ["window_start", "speaker_id"])


def test_bucketed_window_and_session_match_builtin(spark, topic, clip_stream):
    """Key-coarsened state layout (n_buckets) must equal the built-ins."""
    src = clip_stream(topic, max_files_per_trigger=2)
    got_w = _run_stream(
        spark,
        stateful_window_agg(src, "event_ts", "speaker_id", "dur_ms",
                            "10 minutes", n_buckets=16),
    )
    src2 = clip_stream(topic, max_files_per_trigger=2)
    want_w = _run_stream(
        spark, tumbling_agg(src2, "event_ts", "speaker_id", "dur_ms", "10 minutes")
    )
    _cmp(got_w, want_w, ["window_start", "speaker_id"])

    src3 = clip_stream(topic, max_files_per_trigger=2)
    got_s = _run_stream(
        spark,
        stateful_session_agg(src3, "event_ts", "speaker_id", "dur_ms",
                             "2 minutes", n_buckets=16),
    )
    src4 = clip_stream(topic, max_files_per_trigger=2)
    want_s = _run_stream(
        spark, session_agg(src4, "event_ts", "speaker_id", "dur_ms", "2 minutes")
    )
    _cmp(got_s, want_s, ["window_start", "speaker_id"])


def _mini_stream_dir(tmp, files):
    """files: list of row-lists [(k, ts_s, v), ...] → one parquet per batch."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp / "mini")
    os.makedirs(d, exist_ok=True)
    for i, rows in enumerate(files):
        pdf = pd.DataFrame(rows, columns=["k", "ts", "v"])
        pdf["ts"] = pd.to_datetime(pdf["ts"], unit="s")
        t = pa.Table.from_pandas(
            pdf,
            schema=pa.schema([("k", pa.int64()), ("ts", pa.timestamp("us")),
                              ("v", pa.float64())]),
            preserve_index=False,
        )
        pq.write_table(t, f"{d}/p{i:03d}.parquet")
        os.utime(f"{d}/p{i:03d}.parquet", (1_000_000 + i, 1_000_000 + i))
    return d


def _mini_src(spark, d):
    return (
        spark.readStream.schema("k long, ts timestamp, v double")
        .option("maxFilesPerTrigger", 1).parquet(d)
    )


def test_tombstone_prevents_duplicate_after_timeout_drain(spark, tmp_path):
    """Key A's window drains via event-time timeout (no A data in later
    batches); a straggler A row within retention must NOT re-emit the window
    — the frontier tombstone survives the drain (review regression)."""
    d = _mini_stream_dir(tmp_path, [
        [(1, 100, 1.0)],                      # A in window [0,600)
        [(2, 2000, 1.0)],                     # B advances wm → A window drains
        [(2, 3000, 1.0)],                     # B again (timeouts fire)
        [(2, 4000, 1.0), (1, 500, 9.0)],      # straggler A for emitted window
        [(2, 5000, 1.0)],
    ])
    src = _mini_src(spark, d)
    got = _run_stream(
        spark,
        stateful_window_agg(src, "ts", "k", "v", "10 minutes",
                            watermark="60 seconds", late_retention="2 hours"),
    )
    a_rows = got[got["k"] == 1]
    assert len(a_rows) == 1                      # no duplicate emission
    assert a_rows["num_trans_per_10m"].iloc[0] == 1  # straggler dropped


def test_second_stale_straggler_cannot_duplicate_window(spark, tmp_path):
    """Stragglers that PASS the exec-level late filter (ts within `width` of
    the late watermark) while targeting an already-finalized window: the
    first such all-stale invocation must not drop the frontier tombstone
    (state.remove), or the second one re-emits the window — a duplicate the
    built-in can never produce (review regression, fixed via hasTimedOut)."""
    d = _mini_stream_dir(tmp_path, [
        [(1, 100, 1.0)],                      # A in window [0,600)
        [(2, 700, 1.0)],                      # wm → exposed 640 next batch
        [(2, 710, 1.0)],                      # A's timeout fires → W0 emits
        [(1, 580, 9.0), (2, 720, 1.0)],       # stale straggler #1 (passes
                                              # exec filter: 580 ≥ late 50)
        [(1, 590, 8.0), (2, 730, 1.0)],       # stale straggler #2
        [(2, 5000, 1.0)],
    ])
    src = _mini_src(spark, d)
    got = _run_stream(
        spark,
        stateful_window_agg(src, "ts", "k", "v", "10 minutes",
                            watermark="60 seconds", late_retention="2 hours"),
    )
    a_rows = got[got["k"] == 1]
    assert len(a_rows) == 1, a_rows            # exactly one (key, window) row
    assert a_rows["num_trans_per_10m"].iloc[0] == 1   # both stragglers dropped
    # and the built-in twin agrees row-for-row
    want = _run_stream(
        spark,
        tumbling_agg(_mini_src(spark, d).withWatermark("ts", "60 seconds"),
                     "ts", "k", "v", "10 minutes"),
    )
    _cmp(got, want, ["window_start", "k"])


def test_null_values_match_builtin(spark, tmp_path):
    """Null measure values: cnt counts all rows, avg/stdev/min/max ignore
    nulls — identical to the built-in aggregate."""
    d = _mini_stream_dir(tmp_path, [
        [(1, 100, 10.0), (1, 200, None), (2, 150, None), (2, 160, None)],
        [(3, 3000, 5.0)],
        [(3, 4000, 5.0)],
    ])
    got = _run_stream(
        spark, stateful_window_agg(_mini_src(spark, d), "ts", "k", "v",
                                   "10 minutes", watermark="60 seconds")
    )
    want = _run_stream(
        spark,
        tumbling_agg(
            _mini_src(spark, d).withWatermark("ts", "60 seconds"),
            "ts", "k", "v", "10 minutes",
        ),
    )
    _cmp(got, want, ["window_start", "k"])


def test_join_preserves_large_int_payloads(spark, tmp_path):
    """Int payloads above 2^53 must survive the state round-trip exactly
    (no float64 corruption) — review regression."""
    big = (1 << 53) + 1
    import pyarrow as pa
    import pyarrow.parquet as pq
    import os

    d = str(tmp_path / "big")
    os.makedirs(d)
    pdf = pd.DataFrame({
        "clip_id": ["a", "b"],
        "event_ts": pd.to_datetime([1000, 1001], unit="s"),
        "payload": [big, big + 2],
    })
    t = pa.Table.from_pandas(pdf, schema=pa.schema(
        [("clip_id", pa.string()), ("event_ts", pa.timestamp("us")),
         ("payload", pa.int64())]), preserve_index=False)
    pq.write_table(t, f"{d}/p0.parquet")

    left = (spark.readStream.schema("clip_id string, event_ts timestamp, payload long")
            .parquet(d).withColumnRenamed("payload", "l_pay")
            .withWatermark("event_ts", "60 seconds"))
    right = (spark.readStream.schema("clip_id string, event_ts timestamp, payload long")
             .parquet(d).withColumnRenamed("payload", "r_pay")
             .withWatermark("event_ts", "60 seconds"))
    got = _run_stream(
        spark, stateful_stream_join(left, right, "clip_id", "event_ts",
                                    ttl="5 minutes", n_buckets=4)
    )
    vals = dict(zip(got["clip_id"], got["l_pay"]))
    assert vals == {"a": big, "b": big + 2}
    assert (got["l_pay"] == got["r_pay"]).all()


def test_null_keys_excluded(spark, tmp_path):
    """Null keys are excluded by contract (documented): rows with null key
    vanish from the aggregate; non-null keys unaffected."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import os

    d = str(tmp_path / "nk")
    os.makedirs(d)
    pdf = pd.DataFrame({
        "k": pd.array([1, None, 2], dtype="Int64"),
        "ts": pd.to_datetime([100, 110, 120], unit="s"),
        "v": [1.0, 2.0, 3.0],
    })
    t = pa.Table.from_pandas(pdf, schema=pa.schema(
        [("k", pa.int64()), ("ts", pa.timestamp("us")), ("v", pa.float64())]),
        preserve_index=False)
    pq.write_table(t, f"{d}/p0.parquet")
    pdf2 = pd.DataFrame({"k": pd.array([1], dtype="Int64"),
                         "ts": pd.to_datetime([2000], unit="s"), "v": [1.0]})
    t2 = pa.Table.from_pandas(pdf2, schema=t.schema, preserve_index=False)
    pq.write_table(t2, f"{d}/p1.parquet")
    os.utime(f"{d}/p0.parquet", (1_000_000, 1_000_000))
    os.utime(f"{d}/p1.parquet", (1_000_001, 1_000_001))

    got = _run_stream(
        spark, stateful_window_agg(_mini_src(spark, d), "ts", "k", "v",
                                   "10 minutes", watermark="60 seconds")
    )
    first = got[got["window_start"] == pd.Timestamp("1970-01-01")]
    assert set(first["k"]) == {1, 2}


def test_salted_custom_store_null_values_and_buckets(spark, tmp_path):
    """Null values through the skew layouts: the salted two-phase stream and
    the bucketed custom store both match the built-in operator (null
    avg/min/max windows, stdev null for n<=1)."""
    from engine.skew import salted_window_agg_stream

    d = str(tmp_path / "nulls")
    pdf = pd.DataFrame(
        {
            "event_ts": pd.to_datetime(
                [10, 70, 130, 190, 250, 310, 370, 430], unit="s"
            ),
            "speaker_id": [1, 1, 1, 1, 2, 2, 3, 3],
            "dur_ms": [5.0, None, None, None, 7.0, 9.0, None, None],
        }
    )
    spark.createDataFrame(pdf).coalesce(1).write.parquet(d)

    def src():
        return (
            spark.readStream
            .schema("event_ts timestamp, speaker_id bigint, dur_ms double")
            .parquet(d)
            .withWatermark("event_ts", "60 seconds")
        )

    want = _run_stream(
        spark, tumbling_agg(src(), "event_ts", "speaker_id", "dur_ms",
                            "1 minute", label="1m")
    )
    salted = _run_stream(
        spark, salted_window_agg_stream(src(), "event_ts", "speaker_id",
                                        "dur_ms", "1 minute", n_salts=3,
                                        label="1m")
    )
    _cmp(salted, want, ["window_start", "speaker_id"])
    bucketed = _run_stream(
        spark, stateful_window_agg(src(), "event_ts", "speaker_id", "dur_ms",
                                   "1 minute", label="1m", n_buckets=2)
    )
    _cmp(bucketed, want, ["window_start", "speaker_id"])


def test_custom_store_prunes_payload_columns(spark, tmp_path):
    """r3 plan gate: applyInPandasWithState gets no Catalyst column pruning,
    so the operator must select (ts, key, value) itself — a payload column
    on the input must NOT appear in the state operator's plan."""
    d = str(tmp_path / "wide")
    pdf = pd.DataFrame(
        {
            "event_ts": pd.to_datetime([10, 70], unit="s"),
            "speaker_id": [1, 2],
            "dur_ms": [5.0, 6.0],
            "payload": [b"x" * 10, b"y" * 10],
            "transcript": ["a b", "c d"],
        }
    )
    spark.createDataFrame(pdf).write.parquet(d)
    src = (
        spark.readStream.schema(
            "event_ts timestamp, speaker_id bigint, dur_ms double, "
            "payload binary, transcript string"
        )
        .parquet(d)
        .withWatermark("event_ts", "60 seconds")
    )
    for agg in (
        stateful_window_agg(src, "event_ts", "speaker_id", "dur_ms", "1 minute"),
        stateful_session_agg(src, "event_ts", "speaker_id", "dur_ms", "30 seconds"),
    ):
        plan = agg._jdf.queryExecution().analyzed().toString()
        # the leaf relation always prints the file's full schema; what must
        # NOT mention the payload is everything ABOVE the source (the state
        # operator, its grouping, and the projection feeding it)
        above_source = [
            ln for ln in plan.splitlines()
            if "Relation" not in ln and "FileSource" not in ln
            and "StreamingRelation" not in ln
        ]
        joined = "\n".join(above_source)
        assert "payload" not in joined, f"payload leaked:\n{joined}"
        assert "transcript" not in joined
