"""Snapshot-tail streaming source (engine/tail.py): follow an Iceberg
table's commit log as a live Structured Streaming source — offset math,
options, pacing, live follow, restart exactly-once, partition pruning, schema
evolution, compaction/expiration interplay."""
import json
import os
import subprocess
import sys
import time

import pytest

from engine.iceberg import IcebergTable
from engine.tail import IcebergTailReader, register_tail_source


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr(
        "id AS k", "cast(id * 2 AS double) AS v")


def _mktable(spark, tmp_path, name="t", **kw):
    return IcebergTable(str(tmp_path / name),
                        schema=_df(spark, 0, 0).schema, **kw)


def _run_until(spark, out, n, timeout=90):
    deadline = time.time() + timeout
    while time.time() < deadline:
        try:
            if spark.read.parquet(out).count() >= n:
                return spark.read.parquet(out)
        except Exception:
            pass
        time.sleep(0.3)
    raise TimeoutError(f"sink never reached {n} rows")


def _start(spark, loc, d, ck="ck", **opts):
    register_tail_source(spark)
    reader = (spark.readStream.format("iceberg_tail")
              .option("location", loc)
              .option("progress_dir", os.path.join(d, "prog-" + ck)))
    for k, v in opts.items():
        reader = reader.option(k, str(v))
    out = os.path.join(d, "out-" + ck)
    q = (reader.load().writeStream.format("parquet")
         .option("path", out)
         .option("checkpointLocation", os.path.join(d, ck))
         .trigger(processingTime="200 milliseconds").start())
    return q, out


# ---------------------------------------------------------------------------
# reader unit tests — offset math, no Spark query needed
# ---------------------------------------------------------------------------

def test_tail_import_leaves_pandas_unloaded():
    """PySpark starts a fresh Python source runner per tail query, and the
    runner's ``import engine.tail`` is on every query's start path: it must
    not pull in pandas (about a third of a second)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c",
         "import sys, engine.tail; print('pandas' in sys.modules)"],
        cwd=root, capture_output=True, text=True, timeout=120)
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout.strip() == "False"


def test_reader_offsets_and_pacing(spark, tmp_path):
    t = _mktable(spark, tmp_path)
    s1 = t.write_dataframe(_df(spark, 0, 4).coalesce(2))
    s2 = t.write_dataframe(_df(spark, 4, 10).coalesce(3))
    r = IcebergTailReader({"location": t.location,
                           "progress_dir": str(tmp_path / "prog"),
                           "max_files_per_trigger": "2"})
    assert r.initialOffset() == {"snap": 0, "pos": 0}
    o1 = r.latestOffset()
    # offsets carry resume provenance: the snapshot's sequence number and
    # whether the offset sits at the end of its added files
    assert o1 == {"snap": s1, "pos": 2, "seq": 1, "eof": True}
    o2 = r.latestOffset()
    assert o2 == {"snap": s2, "pos": 2, "seq": 2, "eof": False}
    o3 = r.latestOffset()
    assert o3 == {"snap": s2, "pos": 3, "seq": 2, "eof": True}
    assert r.latestOffset() == o3  # drained: stable offset, no new batch
    # partitions(start, end) is a pure function of the log
    parts = r.partitions(o1, o3)
    assert len(parts) == 3
    rows = [b.num_rows for p in parts for b in r.read(p)]
    assert sum(rows) == 6
    # full range delivers everything exactly once
    assert sum(b.num_rows for p in r.partitions({"snap": 0, "pos": 0}, o3)
               for b in r.read(p)) == 10
    # regress guard
    with pytest.raises(ValueError, match="regressing"):
        r.partitions(o3, o1)


def test_reader_restart_floor_and_start_snapshot(spark, tmp_path):
    """A restarted reader starts from the persisted high-water offset."""
    t = _mktable(spark, tmp_path)
    t.write_dataframe(_df(spark, 0, 4).coalesce(2))
    t.write_dataframe(_df(spark, 4, 10).coalesce(3))
    prog = str(tmp_path / "prog")
    r = IcebergTailReader({"location": t.location,
                           "max_files_per_trigger": "3",
                           "progress_dir": prog})
    o1 = r.latestOffset()
    # a FRESH reader (restart) resumes at-or-ahead of anything the old one
    # handed Spark — never behind (the re-delivery hole the sidecar closes)
    r2 = IcebergTailReader({"location": t.location,
                            "max_files_per_trigger": "3",
                            "progress_dir": prog})
    o2 = r2.latestOffset()
    assert r2._index_of(r2._log(), o2) >= r2._index_of(r2._log(), o1)
    with open(os.path.join(prog, "tail-progress.json")) as f:
        assert r2._index_of(r2._log(), json.load(f)) == 5


def test_reader_requires_progress_dir(spark, tmp_path):
    """Without the sidecar a restarted reader would wedge on the regress
    guard, so the source refuses a missing ``progress_dir`` up front, in
    the reader and at ``load()``."""
    t = _mktable(spark, tmp_path)
    for opts in ({}, {"progress_dir": ""}):
        with pytest.raises(ValueError, match="needs a progress_dir"):
            IcebergTailReader({"location": t.location, **opts})
    register_tail_source(spark)
    with pytest.raises(Exception, match="needs a progress_dir"):
        (spark.readStream.format("iceberg_tail")
         .option("location", t.location).load())


def test_tail_refuses_unknown_options(spark, tmp_path):
    """An option the source does not read raises, naming it, in the reader
    and at ``load()``; names compare case-insensitively, as Spark's option
    map does."""
    t = _mktable(spark, tmp_path)
    t.write_dataframe(_df(spark, 0, 4).coalesce(2))
    prog = str(tmp_path / "prog")
    for name in ("max_bytes_per_trigger", "drain_on_start",
                 "starting_snapshot_id", "unsafe_no_progress",
                 "maxFilesPerTrigger"):
        with pytest.raises(ValueError, match=name.lower()):
            IcebergTailReader({"location": t.location, "progress_dir": prog,
                               name: "1"})
    r = IcebergTailReader({"LOCATION": t.location, "Progress_Dir": prog,
                           "MAX_FILES_PER_TRIGGER": "2"})
    assert r.latestOffset()["pos"] == 2
    register_tail_source(spark)
    reader = (spark.readStream.format("iceberg_tail")
              .option("location", t.location).option("progress_dir", prog))
    assert reader.load().columns == ["k", "v"]
    with pytest.raises(Exception, match="starting_snapshot_id"):
        reader.option("Starting_Snapshot_Id", "1").load()


def test_reader_compaction_upsert_and_expiry(spark, tmp_path):
    """Replace snapshots deliver nothing; an offset taken BEFORE a
    compaction still resolves after it; an upsert delivers its new rows;
    expiring the offset's snapshot fails loudly."""
    t = _mktable(spark, tmp_path)
    t.write_dataframe(_df(spark, 0, 4).coalesce(2))
    s2 = t.write_dataframe(_df(spark, 4, 10).coalesce(2))
    r = IcebergTailReader({"location": t.location,
                           "progress_dir": str(tmp_path / "prog"),
                           "max_files_per_trigger": "100"})
    o = r.latestOffset()
    assert o["snap"] == s2
    t.compact_data_files(spark)
    log = r._log()
    assert r._index_of(log, o) == 4  # stable across the replace snapshot
    assert r.latestOffset() == o     # compaction adds no deliverable files
    n = t.upsert(spark, _df(spark, 0, 2), ["k"])
    o2 = r.latestOffset()
    assert o2["snap"] == n
    up = [b for p in r.partitions(o, o2) for b in r.read(p)]
    assert sum(b.num_rows for b in up) == 2  # the upsert's NEW rows only
    t.expire_snapshots(retain_last=1)
    with pytest.raises(ValueError, match="expired|not in table"):
        r._index_of(r._log(), o)


def test_reader_manifest_rewrite_invisible(spark, tmp_path):
    """rewrite_manifests is a metadata-only replace snapshot: a tail
    offset taken before it still resolves after it, the rewrite delivers
    nothing, and appends across it deliver exactly once."""
    t = _mktable(spark, tmp_path)
    t.write_dataframe(_df(spark, 0, 4).coalesce(2))
    t.write_dataframe(_df(spark, 4, 8).coalesce(2))
    s3 = t.write_dataframe(_df(spark, 8, 10).coalesce(1))
    r = IcebergTailReader({"location": t.location,
                           "progress_dir": str(tmp_path / "prog"),
                           "max_files_per_trigger": "100"})
    o = r.latestOffset()
    assert o["snap"] == s3
    assert t.rewrite_manifests() is not None
    assert r._index_of(r._log(), o) == 5  # stable across the rewrite
    assert r.latestOffset() == o          # rewrite adds nothing deliverable
    s5 = t.write_dataframe(_df(spark, 10, 13).coalesce(1))
    o2 = r.latestOffset()
    assert o2["snap"] == s5
    rows = [b.num_rows
            for p in r.partitions(o, o2) for b in r.read(p)]
    assert sum(rows) == 3  # exactly the post-rewrite append, once


def test_reader_partition_overwrite_redelivers_corrections(spark, tmp_path):
    """overwrite_partitions is an 'overwrite' snapshot: a tail past the
    original rows receives exactly the CORRECTED rows (the intended
    backfill semantic — a fixed day re-delivers downstream), and the
    replaced files are never re-read."""
    import datetime as dt

    df0 = spark.range(0).selectExpr(
        "id AS k", "current_timestamp() AS event_ts", "id AS v")

    def rows(day_str, lo, hi, v_off=0):
        return spark.range(lo, hi).selectExpr(
            "id AS k",
            f"timestamp'{day_str} 06:00:00' "
            f"+ make_interval(0,0,0,0,0,0,id) AS event_ts",
            f"id + {v_off} AS v")

    t = IcebergTable(str(tmp_path / "powr_tail"), schema=df0.schema,
                     partition_by=["days(event_ts)"])
    t.write_dataframe(rows("2024-03-01", 0, 10).coalesce(1))
    t.write_dataframe(rows("2024-03-02", 10, 20).coalesce(1))
    r = IcebergTailReader({"location": t.location,
                           "progress_dir": str(tmp_path / "prog"),
                           "max_files_per_trigger": "100"})
    o = r.latestOffset()  # tail fully caught up (20 rows delivered)
    t.overwrite_partitions(rows("2024-03-02", 100, 105, v_off=1000),
                           {"event_ts_day": dt.date(2024, 3, 2)})
    o2 = r.latestOffset()
    batches = [b for p in r.partitions(o, o2) for b in r.read(p)]
    ks = sorted(k for b in batches for k in b.column("k").to_pylist())
    assert ks == list(range(100, 105))  # corrected rows only, exactly once
    assert r.latestOffset() == o2       # drained


def test_reader_resumes_after_safe_expiry(spark, tmp_path):
    """A stopped tail whose offset snapshot AGES OUT of retention resumes
    losslessly when that is provable: the offset was end-of-snapshot and
    the table's expiry watermark shows every expired data-appending
    snapshot was at-or-before the stream's position.  The remap must also
    hop over replace (compaction) snapshots in the expired prefix."""
    t = _mktable(spark, tmp_path)
    t.write_dataframe(_df(spark, 0, 4).coalesce(1))    # seq 1
    s2 = t.write_dataframe(_df(spark, 4, 6).coalesce(1))  # seq 2
    prog = str(tmp_path / "prog")
    r = IcebergTailReader({"location": t.location,
                           "max_files_per_trigger": "100",
                           "progress_dir": prog})
    o = r.latestOffset()
    assert o["snap"] == s2 and o["eof"]
    # stream stops; the table keeps moving: a compaction plus new appends
    t.compact_data_files(spark)                         # seq 3 (replace)
    t.write_dataframe(_df(spark, 6, 9).coalesce(1))     # seq 4
    s5 = t.write_dataframe(_df(spark, 9, 11).coalesce(1))  # seq 5
    t.expire_snapshots(retain_last=2)  # drops seqs 1-3 incl. the offset's
    from engine.iceberg import TAIL_EXPIRY_WATERMARK_PROP
    assert t.metadata()["properties"][TAIL_EXPIRY_WATERMARK_PROP] == "2"
    # fresh reader, same progress_dir: resumes and delivers EXACTLY the
    # two undelivered appends — no duplicates, no loss, no wedge
    r2 = IcebergTailReader({"location": t.location,
                            "max_files_per_trigger": "100",
                            "progress_dir": prog})
    o2 = r2.latestOffset()
    assert o2["snap"] == s5
    rows = [b.num_rows for p in r2.partitions(o, o2) for b in r2.read(p)]
    assert sum(rows) == 5  # rows 6..10 only — nothing redelivered
    # drained: stable offset afterwards
    assert r2.latestOffset() == o2


def test_reader_refuses_expiry_past_stream_position(spark, tmp_path):
    """If retention expires appends the stream had NOT yet delivered, the
    watermark disproves safe resume and the reader fails loudly instead
    of silently skipping the aged-out rows."""
    t = _mktable(spark, tmp_path)
    t.write_dataframe(_df(spark, 0, 2).coalesce(1))     # seq 1
    prog = str(tmp_path / "prog")
    r = IcebergTailReader({"location": t.location,
                           "max_files_per_trigger": "100",
                           "progress_dir": prog})
    assert r.latestOffset()["seq"] == 1  # delivered through seq 1 only
    s2 = t.write_dataframe(_df(spark, 2, 5).coalesce(1))  # seq 2 — undelivered
    t.write_dataframe(_df(spark, 5, 7).coalesce(1))     # seq 3
    t.expire_snapshots(retain_last=1)  # expires seqs 1 AND 2 (data loss)
    r2 = IcebergTailReader({"location": t.location,
                            "max_files_per_trigger": "100",
                            "progress_dir": prog})
    with pytest.raises(ValueError, match="cannot prove|expired past"):
        r2.latestOffset()
    # a replayed batch whose END aged out is real loss too — the end
    # offset never remaps (even in remappable shape), so an uncommitted
    # batch can never silently re-plan as an empty range
    with pytest.raises(ValueError, match="not in table history"):
        r2.partitions({"snap": 0, "pos": 0},
                      {"snap": s2, "pos": 1, "seq": 2, "eof": True})


# ---------------------------------------------------------------------------
# live streaming queries
# ---------------------------------------------------------------------------

def test_tail_stream_follows_live_commits(spark, tmp_path):
    t = _mktable(spark, tmp_path)
    t.write_dataframe(_df(spark, 0, 10).coalesce(2))
    t.write_dataframe(_df(spark, 10, 25).coalesce(3))
    d = str(tmp_path)
    q, out = _start(spark, t.location, d, max_files_per_trigger=2)
    try:
        _run_until(spark, out, 25)
        # commit WHILE the query runs — a file source can't see this
        t.write_dataframe(_df(spark, 25, 30).coalesce(1))
        got = _run_until(spark, out, 30)
        assert got.count() == 30
    finally:
        q.stop()
    import pandas as pd
    pdf = spark.read.parquet(out).toPandas().sort_values(
        "k", ignore_index=True)
    exp = t.read(spark).toPandas().sort_values("k", ignore_index=True)
    pd.testing.assert_frame_equal(pdf, exp)
    # pacing: 6 files at max 2/trigger → at least 3 non-empty batches
    offs = [n for n in os.listdir(os.path.join(d, "ck", "offsets"))
            if not n.startswith(".")]
    assert len(offs) >= 3


def test_tail_stream_restart_exactly_once(spark, tmp_path):
    t = _mktable(spark, tmp_path)
    t.write_dataframe(_df(spark, 0, 8).coalesce(2))
    d = str(tmp_path)
    q, out = _start(spark, t.location, d, max_files_per_trigger=1)
    try:
        _run_until(spark, out, 8)
    finally:
        q.stop()
    t.write_dataframe(_df(spark, 8, 14).coalesce(2))
    # resume from the SAME checkpoint: only the new snapshot is delivered
    q2, out2 = _start(spark, t.location, d, max_files_per_trigger=1)
    assert out2 == out
    try:
        got = _run_until(spark, out, 14)
        kcounts = got.groupBy("k").count().where("count > 1").count()
        assert got.count() == 14 and kcounts == 0
    finally:
        q2.stop()


def test_tail_stream_partition_filter_and_evolution(spark, tmp_path):
    """Day-pruned tail over a days(ts)-partitioned topic, plus a column
    added mid-history: old files arrive null-padded, and only the filtered
    day's rows are ever delivered (manifest-level pruning — the non-
    rectangular-layout restriction of the file-source path doesn't apply)."""
    from pyspark.sql import functions as F

    df = (spark.range(0, 40)
          .withColumn("ts", F.expr(
              "timestamp'2024-01-01 00:00:00' + make_interval("
              "0, 0, 0, cast(id % 4 as int), 0, 0, 0)"))
          .selectExpr("id AS k", "ts"))
    t = IcebergTable(str(tmp_path / "p"), schema=df.schema,
                     partition_by=["days(ts)"])
    t.write_dataframe(df.repartition(2))
    t.add_columns(spark.range(0).selectExpr(
        "cast(null as string) AS tag").schema)
    df2 = df.where("k < 8").withColumn("tag", F.lit("late"))
    t.write_dataframe(df2.coalesce(1))
    d = str(tmp_path)
    q, out = _start(spark, t.location, d, max_files_per_trigger=10,
                    partition_filter=json.dumps({"ts_day": "2024-01-02"}))
    try:
        got = _run_until(spark, out, 12)  # 10 of day 2 + 2 late-tagged
        pdf = got.toPandas()
    finally:
        q.stop()
    assert len(pdf) == 12 and set(pdf.k % 4) == {1}
    assert set(pdf.tag.dropna()) == {"late"} and pdf.tag.isna().sum() == 10


def test_tail_ignores_staged_branch_until_publish(spark, tmp_path):
    """A live tail follows MAIN's ancestry: commits staged on an audit
    branch are invisible until fast_forward publishes them — then they
    stream exactly once (the write-audit-publish flow under a running
    consumer)."""
    t = _mktable(spark, tmp_path)
    t.write_dataframe(_df(spark, 0, 10).coalesce(1))
    d = str(tmp_path)
    q, out = _start(spark, t.location, d, max_files_per_trigger=4)
    try:
        _run_until(spark, out, 10)
        t.create_branch("audit")
        t.write_dataframe(_df(spark, 10, 30).coalesce(2), branch="audit")
        time.sleep(2)  # staged-only window: several triggers pass
        assert spark.read.parquet(out).count() == 10
        t.fast_forward("main", "audit")
        got = _run_until(spark, out, 30)
        assert got.count() == 30
        assert got.groupBy("k").count().where("count > 1").count() == 0
    finally:
        q.stop()


def test_tail_join_pipeline(spark, tmp_path):
    """J6 over the tail source: clip-feature ⋈ transcript-feature streams,
    both sides independent snapshot-tails of one topic (own progress
    sidecars, per-side column pruning) — every clip joins exactly once."""
    from engine.streams import run_join_pipeline, write_clips_iceberg

    t = write_clips_iceberg(str(tmp_path / "topic"), 300, n_files=3,
                            seed=5, files_per_snapshot=1)
    _, sink = run_join_pipeline(
        spark, t.location, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        max_files_per_trigger=2)
    audit = sink.audit()
    assert audit["unique_batch_ids"] and audit["consistent"]
    got = sink.read_committed(spark)
    assert got.count() == 300
    assert got.select("clip_id").distinct().count() == 300
    row = got.first()
    assert row.rms is not None and row.n_tokens is not None


def test_tail_window_pipeline_exactly_once(spark, tmp_path):
    """Flagship composition over the tail source: clip topic → tail stream
    (bytes/transcript pruned AT THE SOURCE — a python data source gets no
    Catalyst pruning) → watermark → tumbling agg → exactly-once ledger
    sink, with a commit landing mid-stream; result equals the batch
    aggregate over ALL committed rows (watermark-closed windows)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from engine.sink import ParquetLedgerSink
    from engine.streams import read_clip_stream_tail, write_clips_iceberg
    from engine.windows import tumbling_agg

    loc = str(tmp_path / "topic")
    t = write_clips_iceberg(loc, 900, n_files=9, seed=7,
                            files_per_snapshot=3)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    sink = ParquetLedgerSink(out, event_ts_col="window_start")
    src = read_clip_stream_tail(
        spark, t, max_files_per_trigger=2,
        progress_dir=str(tmp_path / "prog"),
        exclude_columns=["bytes", "transcript"])
    assert "bytes" not in src.columns and "transcript" not in src.columns
    agg = tumbling_agg(src, "event_ts", "speaker_id", "dur_ms", "10 minutes")
    q = (agg.writeStream.outputMode("append")
         .option("checkpointLocation", ckpt)
         .foreachBatch(sink.foreach_batch()).start())
    q.processAllAvailable()
    q.stop()
    audit = sink.audit()
    assert audit["unique_batch_ids"] and audit["consistent"]
    got = sink.read_committed(spark).toPandas()
    all_rows = t.read(spark).withColumn(
        "event_ts", F.col("event_ts").cast("timestamp"))
    want = tumbling_agg(
        all_rows, "event_ts", "speaker_id", "dur_ms", "10 minutes"
    ).toPandas()
    last_ts = all_rows.agg(F.max("event_ts")).collect()[0][0]
    wm = last_ts - pd.Timedelta(seconds=60)
    want = want[want.window_end <= wm]
    cols = list(want.columns)
    pd.testing.assert_frame_equal(
        got[cols].sort_values(["window_start", "speaker_id"],
                              ignore_index=True),
        want.sort_values(["window_start", "speaker_id"],
                         ignore_index=True), check_dtype=False)
