"""Streaming correctness harness (SURVEY.md §5.2 item 4):
- batch == stream invariant for the windowed aggregate,
- exactly-once sink: replayed batch ids no-op, audit is consistent,
- kill mid-stream + restart from checkpoint → no dupes, no gaps,
- watermark late-drop: closed windows don't reopen.
"""

import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

from engine.sink import ParquetLedgerSink
from engine.streams import run_window_pipeline, write_clips_iceberg
from engine.windows import tumbling_agg


@pytest.fixture(scope="module")
def topic(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("stream") / "clips")
    # ordered-ish event time: jitter 30s < 60s watermark keeps every row
    return write_clips_iceberg(d, n_clips=2000, n_files=10, seed=42,
                               jitter_ms=30_000)


def _run(spark, topic, tmp, kind="tumbling", **kw):
    out = os.path.join(tmp, f"out_{kind}")
    ckpt = os.path.join(tmp, f"ckpt_{kind}")
    q, sink = run_window_pipeline(
        spark, topic, out, ckpt, window_kind=kind,
        max_files_per_trigger=2, **kw,
    )
    return sink


def test_stream_matches_batch_tumbling(spark, topic, tmp_path):
    sink = _run(spark, topic, str(tmp_path))
    got = sink.read_committed(spark)
    batch = topic.read(spark)
    want = tumbling_agg(batch, "event_ts", "speaker_id", "dur_ms", "10 minutes")
    # The final window(s) past the last watermark never fire in append mode;
    # compare on the windows the stream emitted — they must match batch exactly,
    # and the stream must have emitted all windows ending before max_ts - 60s.
    gp = got.toPandas().set_index(["window_start", "speaker_id"]).sort_index()
    wp = want.toPandas().set_index(["window_start", "speaker_id"]).sort_index()
    assert len(gp) > 0
    missing = gp.index.difference(wp.index)
    assert len(missing) == 0  # every emitted row exists in batch result
    import pandas as pd

    pd.testing.assert_frame_equal(wp.loc[gp.index], gp, check_exact=False, rtol=1e-9)
    # completeness: all windows closed by the final watermark were emitted
    max_ts = batch.agg(F.max("event_ts")).collect()[0][0]
    closed = wp[wp.index.get_level_values("window_start").map(
        lambda t: (max_ts - t).total_seconds() > 600 + 60
    )]
    assert closed.index.isin(gp.index).all()


def test_exactly_once_replay_noop(spark, topic, tmp_path, as_stream_query):
    out = str(tmp_path / "once")
    sink = ParquetLedgerSink(out)
    df = topic.read(spark).select("clip_id", "speaker_id")
    with as_stream_query("q1"):
        assert sink.write_batch(df, 0) is True
        n1 = sink.read_committed(spark).count()
        assert sink.write_batch(df, 0) is False  # replay short-circuits
    assert sink.read_committed(spark).count() == n1
    audit = sink.audit()
    assert audit["unique_batch_ids" ] and audit["consistent"]


def test_kill_restart_no_dupes_no_gaps(spark, topic, clip_stream, tmp_path):
    out = str(tmp_path / "kr_out")
    ckpt = str(tmp_path / "kr_ckpt")
    sink = ParquetLedgerSink(out, event_ts_col="window_start")

    src = clip_stream(topic, max_files_per_trigger=1)
    agg = tumbling_agg(src, "event_ts", "speaker_id", "dur_ms", "10 minutes")

    # phase 1: process a few micro-batches then kill mid-stream
    q = (
        agg.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch(sink.foreach_batch())
        .start()
    )
    import time

    # bounded wait; a query that dies on its own under load IS the kill
    # this test performs — a persistent failure resurfaces loudly in the
    # restarted query's processAllAvailable below
    deadline = time.time() + 120
    while len(sink.committed_batches()) < 3 and q.isActive:
        if time.time() > deadline:
            break
        time.sleep(0.2)
    q.stop()  # kill mid-stream

    # phase 2: restart from the same checkpoint → must resume, not redo
    q2 = (
        agg.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch(sink.foreach_batch())
        .start()
    )
    q2.processAllAvailable()
    q2.stop()

    audit = sink.audit()
    assert audit["unique_batch_ids"] and audit["consistent"]

    # no dupes/gaps: resumed run equals a single uninterrupted run
    out2 = str(tmp_path / "ref_out")
    ckpt2 = str(tmp_path / "ref_ckpt")
    _, ref_sink = run_window_pipeline(
        spark, topic, out2, ckpt2, max_files_per_trigger=1
    )
    a = sink.read_committed(spark).orderBy("window_start", "speaker_id").toPandas()
    b = ref_sink.read_committed(spark).orderBy("window_start", "speaker_id").toPandas()
    import pandas as pd

    pd.testing.assert_frame_equal(
        a.reset_index(drop=True), b.reset_index(drop=True),
        check_exact=False, rtol=1e-9,
    )


def test_session_and_sliding_streaming_smoke(spark, topic, tmp_path):
    s1 = _run(spark, topic, str(tmp_path), kind="sliding")
    assert s1.read_committed(spark).count() > 0
    s2 = _run(spark, topic, str(tmp_path), kind="session", gap="2 minutes")
    assert s2.audit()["consistent"]


def test_multi_width_pipeline(spark, topic, tmp_path):
    """W4: three widths fed from one topic, each matching its batch twin."""
    from engine.streams import run_multi_width_pipeline
    from engine.windows import tumbling_agg, width_label

    res = run_multi_width_pipeline(
        spark, topic, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        widths=("10 minutes", "1 hour"),
    )
    batch = topic.read(spark)
    for w in ("10 minutes", "1 hour"):
        _, sink = res[width_label(w)]
        got = sink.read_committed(spark).toPandas()
        assert len(got) > 0
        want = tumbling_agg(batch, "event_ts", "speaker_id", "dur_ms", w).toPandas()
        gp = got.set_index(["window_start", "speaker_id"]).sort_index()
        wp = want.set_index(["window_start", "speaker_id"]).sort_index()
        assert len(gp.index.difference(wp.index)) == 0
        import pandas as pd

        pd.testing.assert_frame_equal(wp.loc[gp.index], gp, check_exact=False, rtol=1e-9)


def test_multi_width_pipeline_stops_every_query_when_one_width_fails(
        spark, topic, tmp_path):
    """One width's ledger already holds batch 0 of another query, so its
    sink refuses the batch and the call raises; every query the call
    started is stopped, not left running."""
    from engine.streams import run_multi_width_pipeline
    from engine.windows import width_label

    out = tmp_path / "out"
    run_window_pipeline(spark, topic, str(out / width_label("1 hour")),
                        str(tmp_path / "other_ckpt"), width="1 hour",
                        max_files_per_trigger=4)
    with pytest.raises(Exception, match="reusing an output dir"):
        run_multi_width_pipeline(
            spark, topic, str(out), str(tmp_path / "ckpt"),
            widths=("10 minutes", "1 hour", "12 hours"))
    leaked = spark.streams.active
    for q in leaked:
        q.stop()
    assert [q.name for q in leaked] == []


def test_streaming_dedup(spark, topic, clip_stream, tmp_path):
    """Duplicated stream (two subscriptions unioned) → exactly one row per
    clip_id survives; state bounded by the watermark."""
    from engine.dedup import streaming_dedup
    from engine.sink import ParquetLedgerSink

    a = clip_stream(topic, max_files_per_trigger=2, watermark=None)
    b = clip_stream(topic, max_files_per_trigger=2, watermark=None)
    dup = a.unionByName(b).select("clip_id", "event_ts", "speaker_id")
    ded = streaming_dedup(dup, ["clip_id"], ts_col="event_ts")
    sink = ParquetLedgerSink(str(tmp_path / "dd_out"))
    q = (
        ded.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dd_ckpt"))
        .foreachBatch(sink.foreach_batch())
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = sink.read_committed(spark)
    n = topic.read(spark).count()
    assert got.count() == n
    assert got.select("clip_id").distinct().count() == n


def test_serving_over_streamed_output(spark, topic, tmp_path):
    """North-star loop closed: stream → windowed agg → exactly-once sink →
    online point lookups (VectorServer) against the committed output."""
    from engine.serving import VectorServer
    from engine.streams import run_window_pipeline

    out = str(tmp_path / "serve_out")
    ckpt = str(tmp_path / "serve_ckpt")
    _, sink = run_window_pipeline(spark, topic, out, ckpt,
                                  max_files_per_trigger=4)
    online = sink.read_committed(spark)
    # latest window per speaker = the online feature-group row
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F2

    latest = (
        online.withColumn(
            "_rn",
            F2.row_number().over(
                W.partitionBy("speaker_id").orderBy(F2.desc("window_start"))
            ),
        )
        .filter("_rn = 1")
        .drop("_rn")
    )
    vs = VectorServer([("agg_10m", latest, ["speaker_id"])])
    some = [r.speaker_id for r in latest.select("speaker_id").limit(3).collect()]
    for sid in some:
        vec = vs.get_feature_vector({"speaker_id": sid})
        assert vec["speaker_id"] == sid
        assert vec["num_trans_per_10m"] >= 1
    batch_rows = vs.get_feature_vectors(
        spark, [{"speaker_id": s} for s in some]
    )
    assert batch_rows.count() == len(some)


def test_sink_rejects_out_dir_reuse_with_new_checkpoint(spark, topic, tmp_path):
    """Reusing an out_dir with a fresh checkpoint restarts batch ids — the
    sink must fail loudly instead of silently no-opping (review regression)."""
    from engine.streams import run_window_pipeline

    out = str(tmp_path / "reuse_out")
    _, sink1 = run_window_pipeline(spark, topic, out, str(tmp_path / "ck1"),
                                   max_files_per_trigger=4)
    before = [r.lineage for r in sink1.committed_batches()]
    with pytest.raises(Exception):  # guard surfaces wrapped in StreamingQueryException
        # new checkpoint, different batching → batch 0 covers different files
        run_window_pipeline(spark, topic, out, str(tmp_path / "ck2"),
                            max_files_per_trigger=1)
    after = [r.lineage for r in sink1.committed_batches()]
    assert after == before  # nothing overwritten or silently dropped


@pytest.fixture(scope="module")
def backfill_topic(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("backfill") / "clips")
    return write_clips_iceberg(d, n_clips=1500, n_files=6, seed=42,
                               jitter_ms=30_000)


def _sink(kind, loc, schema):
    from engine.iceberg import IcebergSink

    if kind == "ledger":
        return ParquetLedgerSink(loc, event_ts_col="window_start")
    return IcebergSink(loc, schema=schema)


def _window_rows(pdf):
    """[((window start ms, speaker, count), avg)] of a window-output frame."""
    ws = pdf["window_start"].astype("datetime64[ms]").astype("int64")
    return [((int(w), int(k), int(n)), a) for w, k, n, a in zip(
        ws, pdf["speaker_id"], pdf["num_trans_per_10m"],
        pdf["avg_amt_per_10m"])]


@pytest.mark.parametrize("kind", ["ledger", "iceberg"])
def test_backfill_then_stream_commits_every_stream_row(
        spark, backfill_topic, tmp_path, kind):
    """Three ``jobs backfill``-style commits, then a fresh stream into the
    same table: the batch commits take batch-namespace ids, so every stream
    batch commits and the stream's rows equal the oracle's closed windows.
    Numbered 0-2 instead, they made the stream skip its batches 1-2 as
    replays."""
    import collections

    import numpy as np

    from engine.oracle import tumbling_oracle

    clips = backfill_topic.read(spark)
    agg = tumbling_agg(clips, "event_ts", "speaker_id", "dur_ms", "10 minutes")
    loc = str(tmp_path / "out")
    sink = _sink(kind, loc, agg.schema)
    for _ in range(3):
        assert sink.write_batch(agg, sink.next_batch_id()) is True
    run_window_pipeline(spark, backfill_topic, loc, str(tmp_path / "ck"),
                        max_files_per_trigger=2, sink=sink)

    # the stream's rows: everything committed minus three backfill copies
    committed = _window_rows(sink.read_committed(spark).toPandas())
    got = collections.Counter(k for k, _ in committed)
    for key, _ in _window_rows(agg.toPandas()):
        got[key] -= 3
    assert set(got.values()) <= {0, 1}  # no window streamed twice
    stream = {k for k, n in got.items() if n}

    pdf = clips.select("event_ts", "speaker_id", "dur_ms").toPandas()
    pdf["ts_ms"] = pdf["event_ts"].astype("datetime64[ms]").astype("int64")
    want = tumbling_oracle(pdf, "ts_ms", "speaker_id", "dur_ms", 600_000,
                           "10m")
    want = want[want["window_end_ms"] <= pdf["ts_ms"].max() - 60_000]
    want = {(int(w), int(k), int(n)): a for w, k, n, a in zip(
        want["window_start_ms"], want["speaker_id"],
        want["num_trans_per_10m"], want["avg_amt_per_10m"])}
    assert stream == set(want)
    avg = dict(committed)
    assert np.allclose([avg[k] for k in want], list(want.values()))


@pytest.mark.parametrize("kind", ["ledger", "iceberg"])
def test_stream_meeting_a_batch_written_outside_it_raises(
        spark, topic, tmp_path, kind):
    """A batch id that a write outside any stream committed (numbered from
    0, as batch writes were before the batch namespace) is not the stream's
    to replay: the stream fails loudly and commits nothing."""
    agg = tumbling_agg(topic.read(spark), "event_ts", "speaker_id", "dur_ms",
                       "10 minutes")
    sink = _sink(kind, str(tmp_path / "out"), agg.schema)
    assert sink.write_batch(agg, 0) is True
    before = sink.read_committed(spark).count()
    with pytest.raises(Exception, match="a write outside any streaming query"):
        run_window_pipeline(spark, topic, str(tmp_path / "out"),
                            str(tmp_path / "ck"), max_files_per_trigger=4,
                            sink=sink)
    assert sink.audit()["n_batches"] == 1
    assert sink.read_committed(spark).count() == before


def test_producer_refuses_existing_topic(tmp_path):
    """Writing a topic where one already is would delete or overwrite
    shards that its snapshots still reference: the producer refuses, as a
    ``ValueError`` from the library and a usage error from the CLI, and
    the first topic's plan and bytes stay as they were."""
    import hashlib

    from engine import jobs
    from engine.iceberg import IcebergTable

    loc = str(tmp_path / "topic")
    write_clips_iceberg(loc, 400, n_files=4, seed=1)

    def state():
        files = IcebergTable(loc).plan_files()
        return [(f.file_path, f.record_count,
                 hashlib.sha256(open(f.file_path, "rb").read()).hexdigest())
                for f in files]

    before = state()
    assert len(before) == 4
    with pytest.raises(ValueError, match="already holds an Iceberg table"):
        write_clips_iceberg(loc, 200, n_files=2, seed=1)
    with pytest.raises(SystemExit, match="already holds an Iceberg table"):
        jobs.main(["producer", "--out", loc, "--n-clips", "200",
                   "--n-files", "2", "--seed", "1"])
    assert state() == before


def test_day_pruned_backfill_kill_restart(spark, tmp_path):
    """VERDICT r4 #7: the day-pruned streamed backfill must survive a
    mid-stream kill — restart from the same checkpoint resumes the SAME
    pruned day (no dupes, no gaps, ledger audit green), and the result
    equals a batch aggregate over the pruned day's committed rows."""
    import time as _time

    from engine.streams import read_clip_stream_tail, write_clips_iceberg
    from engine.windows import tumbling_agg

    loc = str(tmp_path / "bf_topic")
    # ~2 days of clips at 150 s mean gap
    t = write_clips_iceberg(loc, 1200, n_files=10, seed=11,
                            files_per_snapshot=5, mean_gap_ms=150_000,
                            jitter_ms=10_000,
                            partition_by=["days(event_ts)"])
    day = sorted({f.partition["event_ts_day"]
                  for f in t.plan_files()})[1]
    flt = {"event_ts_day": day}

    out = str(tmp_path / "bf_out")
    ckpt = str(tmp_path / "bf_ckpt")
    sink = ParquetLedgerSink(out, event_ts_col="window_start")
    src = read_clip_stream_tail(spark, t, max_files_per_trigger=1,
                                partition_filter=flt,
                                progress_dir=str(tmp_path / "bf_prog"))
    agg = tumbling_agg(src, "event_ts", "speaker_id", "dur_ms", "10 minutes")

    q = (agg.writeStream.outputMode("append")
         .option("checkpointLocation", ckpt)
         .foreachBatch(sink.foreach_batch()).start())
    # Bounded wait: under a loaded box batch cadence stretches. A query
    # that races ahead and finishes is a no-op restart; one that dies on
    # its own IS the kill this test performs — a persistent failure
    # resurfaces loudly in the restarted query's processAllAvailable.
    deadline = _time.time() + 120
    while len(sink.committed_batches()) < 2 and q.isActive:
        if _time.time() > deadline:
            break
        _time.sleep(0.2)
    q.stop()  # kill mid-backfill

    q2 = (agg.writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .foreachBatch(sink.foreach_batch()).start())
    q2.processAllAvailable()
    q2.stop()

    audit = sink.audit()
    assert audit["unique_batch_ids"] and audit["consistent"]

    # resumed pruned backfill == batch aggregate over that day's rows,
    # restricted to watermark-closed windows (the stream never closes
    # windows past the final watermark)
    import pandas as pd
    from pyspark.sql import functions as F

    day_rows = t.read(spark, partition_filter=flt)
    want_full = tumbling_agg(
        day_rows.withColumn("event_ts", F.col("event_ts").cast("timestamp")),
        "event_ts", "speaker_id", "dur_ms", "10 minutes")
    final_wm = day_rows.agg(F.max("event_ts")).first()[0]
    got = sink.read_committed(spark).orderBy(
        "window_start", "speaker_id").toPandas().reset_index(drop=True)
    want = (want_full
            .filter(F.col("window_end")
                    <= F.lit(final_wm) - F.expr("INTERVAL 60 seconds"))
            .orderBy("window_start", "speaker_id")
            .toPandas().reset_index(drop=True))
    pd.testing.assert_frame_equal(got[want.columns], want,
                                  check_dtype=False)


def test_pipeline_cli_rejects_bad_partition_filters(tmp_path):
    """``jobs pipeline`` validates its pruning filter before any Spark
    work: a non-numeric value for a float partition field and a filter
    that matches no committed file both exit with a usage error — not a
    traceback, and not a silent zero-row stream."""
    from pyspark.sql import types as T

    from engine import jobs
    from engine.iceberg import IcebergTable
    from engine.streams import write_clips_iceberg

    topic = write_clips_iceberg(str(tmp_path / "topic"), 200, n_files=2,
                                seed=3, partition_by=["days(event_ts)"])
    scored = IcebergTable(
        str(tmp_path / "scored"),
        schema=T.StructType([T.StructField("score", T.DoubleType()),
                             T.StructField("event_ts", T.TimestampType())]),
        partition_by=["score"])
    out = str(tmp_path / "out")
    with pytest.raises(SystemExit, match="score is a double partition "
                                         "field, 'abc' is not a number"):
        jobs.main(["pipeline", "--clips", scored.location, "--out", out,
                   "--partition", "score=abc"])
    with pytest.raises(SystemExit, match="matches no committed file"):
        jobs.main(["pipeline", "--clips", topic.location, "--out", out,
                   "--day", "1999-01-01"])
    assert not os.path.exists(out)


def test_cli_usage_errors_create_nothing(tmp_path):
    """``--clips`` naming no clip topic exits with a usage error that names
    the path, before a Spark session starts; so does a producer partition
    term on a missing column. Neither creates a dir."""
    from engine import jobs

    clips = str(tmp_path / "no_topic")
    for cmd in ("pipeline", "join", "backfill"):
        with pytest.raises(SystemExit, match=re.escape(clips)):
            jobs.main([cmd, "--clips", clips, "--out", str(tmp_path / "out")])
    with pytest.raises(SystemExit, match="'no_such_col' not in schema"):
        jobs.main(["producer", "--out", clips, "--n-clips", "10",
                   "--partition-by", "days(no_such_col)"])
    assert os.listdir(tmp_path) == []
