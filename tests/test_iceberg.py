"""Iceberg v2 table format: metadata layout, snapshot semantics, planning,
time travel, incremental read, exactly-once sink (engine/iceberg.py)."""

import json
import os
import re

import pandas as pd
import pytest

from engine.datafiles import read_avro_ocf_bytes
from engine.iceberg import (
    IcebergSink,
    IcebergTable,
    iceberg_schema_to_ddl,
    spark_schema_to_iceberg,
)

def _mktable(spark, tmp_path, name="t"):
    df = spark.range(0).selectExpr(
        "id AS k", "cast(id AS double) AS v", "cast(null AS string) AS s"
    )
    return IcebergTable(str(tmp_path / name), schema=df.schema)


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr(
        "id AS k", "cast(id * 1.5 AS double) AS v",
        "concat('row-', id) AS s"
    )


# ---------------------------------------------------------------------------
# schema conversion
# ---------------------------------------------------------------------------

def test_schema_field_ids_unique_and_complete(spark):
    df = spark.range(0).selectExpr(
        "id AS a", "cast(id AS int) AS b", "array(id) AS c",
        "map('x', id) AS d",
        "named_struct('p', id, 'q', cast(id AS string)) AS e",
        "cast(id AS timestamp) AS ts", "cast(null AS binary) AS bin",
    )
    schema, last = spark_schema_to_iceberg(df.schema)

    ids = []

    def walk(t):
        if isinstance(t, dict):
            if t.get("type") == "struct":
                for f in t["fields"]:
                    ids.append(f["id"])
                    walk(f["type"])
            elif t.get("type") == "list":
                ids.append(t["element-id"])
                walk(t["element"])
            elif t.get("type") == "map":
                ids.append(t["key-id"])
                ids.append(t["value-id"])
                walk(t["key"])
                walk(t["value"])

    walk(schema)
    assert len(ids) == len(set(ids)), "field ids must be unique"
    assert max(ids) == last
    # spark timestamp (session-TZ) maps to timestamptz
    by_name = {f["name"]: f["type"] for f in schema["fields"]}
    assert by_name["ts"] == "timestamptz"
    assert by_name["bin"] == "binary"
    # round-trip to Spark DDL parses back to the same top-level names
    ddl = iceberg_schema_to_ddl(schema)
    assert spark.createDataFrame([], ddl).columns == df.columns


# ---------------------------------------------------------------------------
# metadata layout + manifests are spec-shaped
# ---------------------------------------------------------------------------

def test_metadata_json_required_v2_keys(spark, tmp_path):
    t = _mktable(spark, tmp_path)
    meta = t.metadata()
    for key in ("format-version", "table-uuid", "location",
                "last-sequence-number", "last-updated-ms", "last-column-id",
                "current-schema-id", "schemas", "default-spec-id",
                "partition-specs", "last-partition-id",
                "default-sort-order-id", "sort-orders", "snapshots"):
        assert key in meta, key
    assert meta["format-version"] == 2
    assert os.path.exists(
        os.path.join(t.metadata_dir, "version-hint.text"))


def test_manifest_avro_files_carry_field_ids(spark, tmp_path):
    t = _mktable(spark, tmp_path)
    t.write_dataframe(_df(spark, 0, 100))
    snap = t.snapshot(t.current_snapshot_id)
    with open(snap["manifest-list"].replace("file://", ""), "rb") as fh:
        mf_rows, mf_schema = read_avro_ocf_bytes(fh.read())
    by_name = {f["name"]: f for f in mf_schema["fields"]}
    assert by_name["manifest_path"]["field-id"] == 500
    assert by_name["added_snapshot_id"]["field-id"] == 503
    assert mf_rows[0]["content"] == 0
    with open(mf_rows[0]["manifest_path"].replace("file://", ""), "rb") as fh:
        entries, e_schema = read_avro_ocf_bytes(fh.read())
    e_by_name = {f["name"]: f for f in e_schema["fields"]}
    assert e_by_name["status"]["field-id"] == 0
    assert e_by_name["data_file"]["field-id"] == 2
    df_fields = {f["name"]: f for f in e_by_name["data_file"]["type"]["fields"]}
    assert df_fields["file_path"]["field-id"] == 100
    assert df_fields["content"]["field-id"] == 134
    assert all(e["status"] == 1 for e in entries)
    assert sum(e["data_file"]["record_count"] for e in entries) == 100


# ---------------------------------------------------------------------------
# snapshot semantics
# ---------------------------------------------------------------------------

def test_append_read_round_trip(spark, tmp_path):
    t = _mktable(spark, tmp_path)
    t.write_dataframe(_df(spark, 0, 50))
    t.write_dataframe(_df(spark, 50, 120))
    got = t.read(spark).orderBy("k").toPandas()
    want = _df(spark, 0, 120).orderBy("k").toPandas()
    assert got.equals(want)
    # planning is manifest-driven: counts match without listing data/
    assert sum(f.record_count for f in t.plan_files()) == 120


def test_read_plans_many_files_without_a_listing_job(spark, tmp_path):
    """Past 32 planned files Spark's default is a parallel file-listing
    job per ``read()``; the session lists the known paths on the driver."""
    t = _mktable(spark, tmp_path)
    t.write_dataframe(_df(spark, 0, 400).repartition(40))
    assert len(t.plan_files()) == 40
    sc = spark.sparkContext
    sc.setJobGroup("iceberg-read-planning", "planning only")
    try:
        df = t.read(spark)
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    assert list(sc.statusTracker().getJobIdsForGroup(
        "iceberg-read-planning")) == []
    assert df.count() == 400


def test_time_travel_by_snapshot_and_timestamp(spark, tmp_path):
    t = _mktable(spark, tmp_path)
    s1 = t.write_dataframe(_df(spark, 0, 30))
    s2 = t.write_dataframe(_df(spark, 30, 60))
    assert t.read(spark, snapshot_id=s1).count() == 30
    assert t.read(spark, snapshot_id=s2).count() == 60
    ts1 = t.snapshot(s1)["timestamp-ms"]
    assert t.read(spark, as_of_ms=ts1).count() == 30
    assert t.read(spark, as_of_ms=ts1 - 1).count() == 0  # before the table


def test_overwrite_hides_old_files_but_time_travel_sees_them(spark, tmp_path):
    t = _mktable(spark, tmp_path)
    s1 = t.write_dataframe(_df(spark, 0, 40))
    s2 = t.write_dataframe(_df(spark, 100, 110), mode="overwrite")
    assert t.read(spark).count() == 10
    assert sorted(r.k for r in t.read(spark).collect()) == list(range(100, 110))
    assert t.read(spark, snapshot_id=s1).count() == 40
    snap = t.snapshot(s2)
    assert snap["summary"]["operation"] == "overwrite"
    assert snap["summary"]["deleted-records"] == "40"
    # deleted entries carry explicit (non-null) original sequence numbers
    with open(snap["manifest-list"].replace("file://", ""), "rb") as fh:
        mf_rows, _ = read_avro_ocf_bytes(fh.read())
    deleted = []
    for m in mf_rows:
        with open(m["manifest_path"].replace("file://", ""), "rb") as fh:
            deleted += [e for e in read_avro_ocf_bytes(fh.read())[0]
                        if e["status"] == 2]
    assert deleted and all(e["sequence_number"] == 1 for e in deleted)


def test_incremental_read_between_snapshots(spark, tmp_path):
    t = _mktable(spark, tmp_path)
    s1 = t.write_dataframe(_df(spark, 0, 10))
    s2 = t.write_dataframe(_df(spark, 10, 25))
    s3 = t.write_dataframe(_df(spark, 25, 26))
    inc = t.incremental_files(s1, s2)
    assert sum(f.record_count for f in inc) == 15
    assert sum(f.record_count for f in t.incremental_files(s1)) == 16
    assert sum(f.record_count for f in t.incremental_files(None, s1)) == 10
    assert t.incremental_files(s3) == []


def test_concurrent_commit_cas_raises(spark, tmp_path):
    t = _mktable(spark, tmp_path)
    t.write_dataframe(_df(spark, 0, 5))
    # simulate the race: this writer read base v, a racing writer then
    # publishes v+1 before this writer's publish lands — the os.link CAS
    # must refuse rather than overwrite the racing commit
    v = t._current_version()
    meta = t.metadata()
    racing = t._version_path(v + 1)
    with open(racing, "w") as fh:
        json.dump(meta, fh)
    with pytest.raises(RuntimeError, match="concurrent Iceberg commit"):
        t._publish(meta, base_version=v)
    os.unlink(racing)


def test_sequence_numbers_inherited_and_monotonic(spark, tmp_path):
    t = _mktable(spark, tmp_path)
    t.write_dataframe(_df(spark, 0, 5))
    t.write_dataframe(_df(spark, 5, 9))
    seqs = {f.sequence_number for f in t.plan_files()}
    assert seqs == {1, 2}
    assert t.metadata()["last-sequence-number"] == 2


# ---------------------------------------------------------------------------
# exactly-once sink
# ---------------------------------------------------------------------------

def test_sink_exactly_once_replay_is_noop(spark, tmp_path, as_stream_query):
    sink = IcebergSink(str(tmp_path / "sunk"))
    b = _df(spark, 0, 20)
    with as_stream_query("q1"):
        assert sink.write_batch(b, 0) is True
        assert sink.write_batch(b, 0) is False  # the same query's replay
        assert sink.write_batch(_df(spark, 20, 30), 1) is True
    audit = sink.audit()
    assert audit["consistent"] and audit["unique_batch_ids"]
    assert audit["n_batches"] == 2
    assert sink.read_committed(spark).count() == 30


def test_sink_replay_lookup_ignores_unpublished_branch(spark, tmp_path):
    """A batch id staged on a side branch is not committed to main: the
    sink's replay lookup walks main's ancestry, so it still commits the
    batch to main instead of skipping it (and losing its rows)."""
    sink = IcebergSink(str(tmp_path / "sunk"))
    assert sink.write_batch(_df(spark, 0, 20), 0) is True
    t = sink.table()
    t.create_branch("audit")
    t.write_dataframe(_df(spark, 100, 105), branch="audit",
                      summary_extra={IcebergSink.BATCH_KEY: 1})
    df1 = _df(spark, 20, 30)
    assert sink.write_batch(df1, 1) is True
    assert (sorted(map(tuple, t.read(spark).collect()))
            == sorted(map(tuple, _df(spark, 0, 30).collect())))
    assert t.read(spark, ref="audit").count() == 25
    audit = sink.audit()
    assert audit["n_batches"] == 2 and audit["unique_batch_ids"]


def test_sink_rejects_table_reuse_with_new_checkpoint(spark, tmp_path):
    """A fresh checkpoint restarts batch ids at 0: against a table holding
    another query's batches the sink refuses instead of skipping them as
    replays (which would silently drop the new query's rows)."""
    from engine.streams import run_window_pipeline, write_clips_iceberg

    clips = write_clips_iceberg(str(tmp_path / "clips"), 400, n_files=4,
                                seed=2)
    loc = str(tmp_path / "sunk")
    run_window_pipeline(spark, clips, None, str(tmp_path / "ck1"),
                        max_files_per_trigger=2, sink=IcebergSink(loc))
    before = IcebergTable(loc).snapshots()
    with pytest.raises(Exception, match="reusing an output dir"):
        run_window_pipeline(spark, clips, None, str(tmp_path / "ck2"),
                            max_files_per_trigger=2, sink=IcebergSink(loc))
    assert IcebergTable(loc).snapshots() == before


def _drain_to_memory(sdf, name, ckpt):
    """Run a stream to completion into the memory table ``name``."""
    q = (sdf.writeStream.format("memory").queryName(name)
         .option("checkpointLocation", ckpt)
         .outputMode("append").start())
    q.processAllAvailable()
    q.stop()


def test_clips_iceberg_source_round_trip(spark, tmp_path):
    from engine.streams import read_clip_stream_tail, write_clips_iceberg

    loc = str(tmp_path / "clips_ice")
    t = write_clips_iceberg(loc, 300, n_files=6, seed=7,
                            files_per_snapshot=2)
    assert len(t.snapshots()) == 3
    # manifest-planned batch read sees every produced clip exactly once
    batch = t.read(spark)
    assert batch.count() == 300
    assert batch.select("clip_id").distinct().count() == 300
    # an uncommitted stray file in data/ is invisible to the
    # manifest-planned tail, which streams exactly the committed rows
    with open(os.path.join(t.data_dir, "stray.parquet"), "wb") as fh:
        fh.write(b"not parquet")
    sdf = read_clip_stream_tail(spark, t, max_files_per_trigger=3,
                                progress_dir=str(tmp_path / "prog"))
    _drain_to_memory(sdf, "ice_clips", str(tmp_path / "ck"))
    got = spark.sql("SELECT count(*) c, count(DISTINCT clip_id) d "
                    "FROM ice_clips").first()
    assert got.c == got.d == 300


def test_sink_streaming_end_to_end_with_restart(spark, tmp_path):
    import pyspark.sql.functions as F

    src = str(tmp_path / "src")
    _df(spark, 0, 40).repartition(4).write.parquet(src)
    out = str(tmp_path / "ice_out")
    ckpt = str(tmp_path / "ckpt")
    sink = IcebergSink(out)

    def run():
        q = (
            spark.readStream.schema("k long, v double, s string")
            .option("maxFilesPerTrigger", 1).parquet(src)
            .groupBy("k").agg(F.sum("v").alias("v_sum"))
            .writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .foreachBatch(sink.foreach_batch())
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run()
    n1 = sink.table().metadata()["last-sequence-number"]
    run()  # restart from checkpoint: no new input → no new snapshots
    assert sink.table().metadata()["last-sequence-number"] == n1
    audit = sink.audit()
    assert audit["consistent"] and audit["unique_batch_ids"]
    got = sink.read_committed(spark)
    # update-mode re-emits keys; latest snapshot rows must cover all 40 keys
    assert got.select("k").distinct().count() == 40


def test_incremental_unknown_from_snapshot_raises(spark, tmp_path):
    import pytest

    t = _mktable(spark, tmp_path)
    t.write_dataframe(_df(spark, 0, 10))
    # a stale/unknown snapshot id must be an error, not a silent "no changes"
    with pytest.raises(KeyError):
        t.incremental_files(123456789)


# ---------------------------------------------------------------------------
# compaction (rewrite_data_files analogue)
# ---------------------------------------------------------------------------

def test_compaction_preserves_rows_shrinks_files_keeps_history(spark, tmp_path):
    """Bin-pack compaction: same rows, fewer live files, REPLACE snapshot,
    and time travel to a pre-compaction snapshot still plans the original
    small files."""
    t = _mktable(spark, tmp_path, "comp")
    for lo in range(0, 50, 10):                 # 5 small appends
        t.write_dataframe(_df(spark, lo, lo + 10).repartition(2))
    pre_snap = t.current_snapshot_id
    pre_files = t.plan_files()
    assert len(pre_files) == 10                  # 5 commits x 2 files

    before = t.read(spark).toPandas().sort_values("k", ignore_index=True)
    sid = t.compact_data_files(spark, target_file_bytes=1 << 30)
    assert sid is not None and t.current_snapshot_id == sid
    assert t.snapshot(sid)["summary"]["operation"] == "replace"

    post_files = t.plan_files()
    assert len(post_files) == 1                  # all packed into one bin
    after = t.read(spark).toPandas().sort_values("k", ignore_index=True)
    import pandas as pd
    pd.testing.assert_frame_equal(before, after)

    # totals in the summary stay exact
    s = t.snapshot(sid)["summary"]
    assert s["total-records"] == "50" and s["total-data-files"] == "1"
    # time travel: the pre-compaction snapshot still sees the 10 originals
    old = t.plan_files(snapshot_id=pre_snap)
    assert sorted(f.file_path for f in old) == sorted(
        f.file_path for f in pre_files)
    assert len(t.read(spark, snapshot_id=pre_snap).toPandas()) == 50


def test_compaction_respects_target_and_survivors(spark, tmp_path):
    """Files already at/above the target survive untouched (EXISTING
    entries with their original sequence numbers)."""
    t = _mktable(spark, tmp_path, "comp2")
    t.write_dataframe(_df(spark, 0, 2000).coalesce(1))     # one big file
    for lo in range(2000, 2030, 10):
        t.write_dataframe(_df(spark, lo, lo + 10).coalesce(1))
    live = t.plan_files()
    big = max(live, key=lambda f: f.file_size_in_bytes)
    target = big.file_size_in_bytes                         # big file survives
    big_seq = big.sequence_number
    sid = t.compact_data_files(spark, target_file_bytes=target)
    assert sid is not None
    post = t.plan_files()
    by_path = {f.file_path: f for f in post}
    assert big.file_path in by_path                          # survivor kept
    assert by_path[big.file_path].sequence_number == big_seq # seq unchanged
    assert len(post) == 2                                    # big + 1 packed
    assert len(t.read(spark).toPandas()) == 2030


def test_incremental_read_skips_replace_snapshot(spark, tmp_path):
    """CDC/pullChanges must never re-deliver compacted rows: files added by
    a replace snapshot are invisible to incremental_files, while appends
    before and after it flow through."""
    t = _mktable(spark, tmp_path, "comp3")
    t.write_dataframe(_df(spark, 0, 10).coalesce(1))
    s1 = t.current_snapshot_id
    t.write_dataframe(_df(spark, 10, 20).coalesce(1))
    sid = t.compact_data_files(spark, target_file_bytes=1 << 30)
    assert sid is not None
    t.write_dataframe(_df(spark, 20, 30).coalesce(1))

    inc = t.incremental_files(s1)
    rows = sum(f.record_count for f in inc)
    # the append before compaction (10 rows) + the append after (10 rows);
    # the 20 compacted rows are NOT re-delivered
    assert rows == 20
    # bounded at the replace snapshot itself: only the middle append
    inc_to_replace = t.incremental_files(s1, to_snapshot_id=sid)
    assert sum(f.record_count for f in inc_to_replace) == 10


def test_compaction_noop_when_nothing_to_do(spark, tmp_path):
    t = _mktable(spark, tmp_path, "comp4")
    t.write_dataframe(_df(spark, 0, 10).coalesce(1))
    n_snaps = len(t.snapshots())
    assert t.compact_data_files(spark, target_file_bytes=1) is None  # all big
    assert t.compact_data_files(spark, target_file_bytes=1 << 30,
                                min_input_files=2) is None           # 1 file
    assert len(t.snapshots()) == n_snaps                             # no commit


def test_append_after_compaction_plans_and_reads(spark, tmp_path):
    """The table stays fully functional after a replace: appends commit,
    plan_files sees compacted + new, overwrite still works."""
    t = _mktable(spark, tmp_path, "comp5")
    for lo in range(0, 30, 10):
        t.write_dataframe(_df(spark, lo, lo + 10).coalesce(1))
    assert t.compact_data_files(spark, target_file_bytes=1 << 30) is not None
    t.write_dataframe(_df(spark, 30, 40).coalesce(1))
    assert len(t.read(spark).toPandas()) == 40
    assert len(t.plan_files()) == 2
    t.write_dataframe(_df(spark, 0, 5), mode="overwrite")
    assert len(t.read(spark).toPandas()) == 5


def test_replace_carries_concurrent_append_forward(spark, tmp_path):
    """A snapshot committed between a rewrite's planning and its
    commit_replace (the streaming sink's micro-batch append landing
    mid-compaction) must stay live in the replace snapshot — and survive
    snapshot expiration — instead of being silently dropped from the live
    view (Iceberg's rewrite validation)."""
    t = _mktable(spark, tmp_path, "ccr")
    for lo in range(0, 20, 10):
        t.write_dataframe(_df(spark, lo, lo + 10).coalesce(1))
    planned = t.plan_files()                     # rewrite plans here...
    tmp = str(tmp_path / "ccr-rewrite")
    spark.read.parquet(*[f.file_path for f in planned]).coalesce(1) \
        .write.mode("overwrite").parquet(tmp)
    new_files = t._register_written_files(tmp, name_prefix="compact-")
    t.write_dataframe(_df(spark, 20, 30).coalesce(1))  # ...append lands...
    appended = {f.file_path for f in t.plan_files()} - {
        f.file_path for f in planned}
    assert len(appended) == 1
    sid = t.commit_replace(new_files, planned)     # ...commit wins CAS
    live = {f.file_path for f in t.plan_files()}
    assert appended <= live, "concurrent append dropped by replace"
    assert len(t.read(spark).toPandas()) == 30
    # the concurrently added file survives GC of the pre-replace history
    t.expire_snapshots(retain_last=1)
    assert all(os.path.exists(p) for p in appended)
    assert len(t.read(spark).toPandas()) == 30
    s = t.snapshot(sid)["summary"]
    assert s["total-records"] == "30"


def test_replace_raises_when_input_no_longer_live(spark, tmp_path):
    """If a concurrent commit removed one of the rewrite's input files
    (overwrite/expire), the replace must fail instead of resurrecting
    deleted rows."""
    t = _mktable(spark, tmp_path, "ccr2")
    t.write_dataframe(_df(spark, 0, 10).coalesce(1))
    planned = t.plan_files()
    tmp = str(tmp_path / "ccr2-rewrite")
    spark.read.parquet(*[f.file_path for f in planned]).coalesce(1) \
        .write.mode("overwrite").parquet(tmp)
    new_files = t._register_written_files(tmp, name_prefix="compact-")
    t.write_dataframe(_df(spark, 50, 60), mode="overwrite")  # inputs gone
    with pytest.raises(RuntimeError, match="no longer live"):
        t.commit_replace(new_files, planned)
    assert len(t.read(spark).toPandas()) == 10  # overwrite result unchanged


def test_sink_compaction_after_streaming(spark, clip_stream, tmp_path):
    """Maintenance on the exactly-once sink table: compaction after a
    streamed write leaves read_committed byte-identical and the audit
    green."""
    import pandas as pd

    from engine.streams import write_clips_iceberg
    from engine.windows import tumbling_agg

    topic = write_clips_iceberg(str(tmp_path / "clips_in"), n_clips=400,
                                n_files=4, seed=7, jitter_ms=10_000)
    src = clip_stream(topic, max_files_per_trigger=1)
    agg = tumbling_agg(src, "event_ts", "speaker_id", "dur_ms", "10 minutes")
    sink = IcebergSink(str(tmp_path / "sink_tbl"))
    q = (agg.writeStream.outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .foreachBatch(sink.foreach_batch()).start())
    q.processAllAvailable()
    q.stop()

    t = sink.table()
    before = sink.read_committed(spark).toPandas().sort_values(
        ["window_start", "speaker_id"], ignore_index=True)
    assert len(before) > 0 and len(t.plan_files()) > 1
    assert t.compact_data_files(spark, target_file_bytes=1 << 30) is not None
    after = sink.read_committed(spark).toPandas().sort_values(
        ["window_start", "speaker_id"], ignore_index=True)
    pd.testing.assert_frame_equal(before, after)
    a = sink.audit()
    assert a["consistent"] and a["unique_batch_ids"]


# ---------------------------------------------------------------------------
# snapshot expiration (expire_snapshots analogue)
# ---------------------------------------------------------------------------

def test_expire_after_compaction_gcs_replaced_files(spark, tmp_path):
    """The full maintenance cycle: compact, then expire pre-compaction
    snapshots — the replaced small files are physically deleted, the
    current read is untouched, expired time travel raises."""
    t = _mktable(spark, tmp_path, "exp")
    for lo in range(0, 40, 10):
        t.write_dataframe(_df(spark, lo, lo + 10).coalesce(1))
    pre_snap = t.current_snapshot_id
    pre_paths = [f.file_path for f in t.plan_files()]
    assert t.compact_data_files(spark, target_file_bytes=1 << 30) is not None

    res = t.expire_snapshots(retain_last=1)
    assert res["expired_snapshots"] == 4          # the 4 append snapshots
    assert res["data_files"] == 4                 # all replaced files GC'd
    for p in pre_paths:
        assert not os.path.exists(p), p
    assert len(t.read(spark).toPandas()) == 40
    assert len(t.snapshots()) == 1
    with pytest.raises(KeyError):
        t.plan_files(snapshot_id=pre_snap)


def test_expire_retain_last_and_age_bound(spark, tmp_path):
    """retain_last keeps the N newest even when older than the bound, and
    a future bound expires nothing extra beyond the retained set."""
    t = _mktable(spark, tmp_path, "exp2")
    for lo in range(0, 30, 10):
        t.write_dataframe(_df(spark, lo, lo + 10).coalesce(1))
    # age bound in the future, retain_last=2 → only the oldest expires
    res = t.expire_snapshots(older_than_ms=None, retain_last=2)
    assert res["expired_snapshots"] == 1
    assert len(t.snapshots()) == 2
    # shared-manifest safety: the oldest append's manifest is still
    # referenced by the retained snapshots' lists, so its DATA survives
    assert len(t.read(spark).toPandas()) == 30


def test_expire_keeps_shared_manifests_readable(spark, tmp_path):
    """Append commits share manifests with ancestors — expiring ancestors
    must not delete manifests (or data) the current snapshot still plans."""
    t = _mktable(spark, tmp_path, "exp3")
    for lo in range(0, 50, 10):
        t.write_dataframe(_df(spark, lo, lo + 10).coalesce(1))
    before = t.read(spark).toPandas().sort_values("k", ignore_index=True)
    res = t.expire_snapshots(retain_last=1)
    assert res["expired_snapshots"] == 4 and res["data_files"] == 0
    import pandas as pd
    after = t.read(spark).toPandas().sort_values("k", ignore_index=True)
    pd.testing.assert_frame_equal(before, after)


def test_expire_noop_and_age_filter(spark, tmp_path):
    t = _mktable(spark, tmp_path, "exp4")
    t.write_dataframe(_df(spark, 0, 10).coalesce(1))
    first_ts = t.snapshots()[0]["timestamp-ms"]
    t.write_dataframe(_df(spark, 10, 20).coalesce(1))
    # bound at the first snapshot's timestamp: nothing strictly older
    res = t.expire_snapshots(older_than_ms=first_ts, retain_last=1)
    assert res == {"expired_snapshots": 0, "data_files": 0,
                   "manifests": 0, "manifest_lists": 0}
    assert len(t.snapshots()) == 2
    # bound after the first snapshot expires exactly it
    res = t.expire_snapshots(older_than_ms=first_ts + 1, retain_last=1)
    assert res["expired_snapshots"] == 1
    assert len(t.read(spark).toPandas()) == 20


# ---------------------------------------------------------------------------
# identity partitioning + manifest-level pruning
# ---------------------------------------------------------------------------

def _pdf_sorted(df, keys=("k",)):
    return df.toPandas().sort_values(list(keys), ignore_index=True)


def _mk_part_table(spark, tmp_path, name="pt"):
    df0 = spark.range(0).selectExpr(
        "id AS k", "cast(id AS double) AS v",
        "cast(null AS string) AS region", "id AS bucket"
    )
    return IcebergTable(str(tmp_path / name), schema=df0.schema,
                        partition_by=["region", "bucket"])


def _part_rows(spark, lo, hi):
    return spark.range(lo, hi).selectExpr(
        "id AS k", "cast(id * 1.5 AS double) AS v",
        "element_at(array('eu','us','ap'), cast(id % 3 AS int) + 1) AS region",
        "id % 4 AS bucket"
    )


def test_partitioned_write_records_values_and_prunes(spark, tmp_path):
    t = _mk_part_table(spark, tmp_path)
    t.write_dataframe(_part_rows(spark, 0, 120))
    t.write_dataframe(_part_rows(spark, 120, 240))
    live = t.plan_files()
    # every file carries its identity tuple, typed
    assert all(f.partition and set(f.partition) == {"region", "bucket"}
               for f in live)
    assert all(isinstance(f.partition["bucket"], int) and
               isinstance(f.partition["region"], str) for f in live)
    # equality pruning: only eu files planned, and strictly fewer files
    eu = t.plan_files(partition_filter={"region": "eu"})
    assert 0 < len(eu) < len(live)
    assert all(f.partition["region"] == "eu" for f in eu)
    # rows through the pruned read == a plain filter over the full read
    got = _pdf_sorted(t.read(spark, partition_filter={"region": "eu"}))
    want = _pdf_sorted(t.read(spark).filter("region = 'eu'"))
    import pandas as pd
    pd.testing.assert_frame_equal(got, want)
    assert len(got) == 80                       # ids ≡ 0 mod 3 in [0, 240)
    # in-list and range conditions compose across columns
    sub = t.plan_files(partition_filter={"region": ["eu", "us"],
                                         "bucket": (1, 2)})
    assert all(f.partition["region"] in ("eu", "us")
               and 1 <= f.partition["bucket"] <= 2 for f in sub)
    got2 = t.read(spark, partition_filter={"region": ["eu", "us"],
                                           "bucket": (1, 2)})
    want2 = t.read(spark).filter(
        "region IN ('eu','us') AND bucket BETWEEN 1 AND 2")
    pd.testing.assert_frame_equal(_pdf_sorted(got2), _pdf_sorted(want2))


def test_partitioned_full_read_and_time_travel(spark, tmp_path):
    import pandas as pd
    t = _mk_part_table(spark, tmp_path, "pt2")
    t.write_dataframe(_part_rows(spark, 0, 60))
    s1 = t.current_snapshot_id
    t.write_dataframe(_part_rows(spark, 60, 120))
    # files keep the partition columns (Iceberg layout, not Hive): the
    # pinned-schema read returns them with real values
    full = _pdf_sorted(t.read(spark))
    assert len(full) == 120 and full["region"].notna().all()
    want = _pdf_sorted(_part_rows(spark, 0, 120))
    pd.testing.assert_frame_equal(full, want)
    # time travel + pruning compose
    old_eu = t.read(spark, snapshot_id=s1, partition_filter={"region": "eu"})
    assert _pdf_sorted(old_eu)["k"].tolist() == [k for k in range(60) if k % 3 == 0]


def test_partitioned_compaction_keeps_tuples_and_pruning(spark, tmp_path):
    import pandas as pd
    t = _mk_part_table(spark, tmp_path, "pt3")
    for lo in range(0, 90, 30):
        t.write_dataframe(_part_rows(spark, lo, lo + 30))
    before = _pdf_sorted(t.read(spark))
    n_before = len(t.plan_files())
    sid = t.compact_data_files(spark, target_file_bytes=1 << 30)
    assert sid is not None
    post = t.plan_files()
    assert len(post) < n_before
    # every compacted file still holds exactly one partition tuple
    assert all(f.partition and set(f.partition) == {"region", "bucket"}
               for f in post)
    pd.testing.assert_frame_equal(_pdf_sorted(t.read(spark)), before)
    # pruning still works over the compacted layout
    got = _pdf_sorted(t.read(spark, partition_filter={"region": "ap"}))
    want = before[before["region"] == "ap"].reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want)
    # and expiration GCs the pre-compaction small files
    res = t.expire_snapshots(retain_last=1)
    assert res["expired_snapshots"] == 3 and res["data_files"] == n_before
    pd.testing.assert_frame_equal(_pdf_sorted(t.read(spark)), before)


def test_partition_spec_validation(spark, tmp_path):
    df0 = spark.range(0).selectExpr("id AS k", "cast(id AS double) AS v",
                                    "current_timestamp() AS ts")
    with pytest.raises(ValueError, match="not in schema"):
        IcebergTable(str(tmp_path / "bad1"), schema=df0.schema,
                     partition_by=["nope"])
    with pytest.raises(ValueError, match="identity partitioning supports"):
        IcebergTable(str(tmp_path / "bad2"), schema=df0.schema,
                     partition_by=["ts"])
    t = _mk_part_table(spark, tmp_path, "pt4")
    t.write_dataframe(_part_rows(spark, 0, 10))
    with pytest.raises(ValueError, match="not partition columns"):
        t.plan_files(partition_filter={"v": 1.0})
    # spec round-trips through metadata on reopen
    t2 = IcebergTable(t.location)
    assert [f["name"] for f in t2.spec_fields()] == ["region", "bucket"]
    assert len(t2.plan_files(partition_filter={"region": "eu"})) > 0


def test_day_partitioned_clip_shaped_table(spark, tmp_path):
    """days(event_ts) partitioning — the clip-stream deployment shape:
    two days of data, day-pruned plan + read (dates, ISO strings, and
    epoch-day ints all accepted), compaction preserving day dirs."""
    import datetime as dt

    import pandas as pd

    df0 = spark.range(0).selectExpr(
        "concat('c', id) AS clip_id", "current_timestamp() AS event_ts",
        "id AS speaker_id", "cast(id AS double) AS dur"
    )
    t = IcebergTable(str(tmp_path / "daypt"), schema=df0.schema,
                     partition_by=["days(event_ts)", "speaker_id"])
    assert [(f["name"], f["transform"]) for f in t.spec_fields()] == [
        ("event_ts_day", "day"), ("speaker_id", "identity")]

    def day_rows(day_str, lo, hi):
        return spark.range(lo, hi).selectExpr(
            "concat('c', id) AS clip_id",
            f"timestamp'{day_str} 06:00:00' + make_interval(0,0,0,0,0,0,id) AS event_ts",
            "id % 3 AS speaker_id", "cast(id AS double) AS dur",
        )

    t.write_dataframe(day_rows("2024-03-01", 0, 30))
    t.write_dataframe(day_rows("2024-03-02", 30, 60))
    live = t.plan_files()
    d1 = (dt.date(2024, 3, 1) - dt.date(1970, 1, 1)).days
    assert {f.partition["event_ts_day"] for f in live} == {d1, d1 + 1}

    # prune by date object, ISO string, and epoch-day int — same answer
    for cond in (dt.date(2024, 3, 1), "2024-03-01", d1):
        files = t.plan_files(partition_filter={"event_ts_day": cond})
        assert files and all(f.partition["event_ts_day"] == d1 for f in files)
    got = t.read(spark, partition_filter={"event_ts_day": "2024-03-01"})
    assert sorted(r.clip_id for r in got.collect()) == sorted(
        f"c{i}" for i in range(30))
    # range over days + identity speaker filter compose
    both = t.read(spark, partition_filter={
        "event_ts_day": ("2024-03-01", "2024-03-02"), "speaker_id": 1})
    want = t.read(spark).filter("speaker_id = 1")
    pd.testing.assert_frame_equal(
        both.toPandas().sort_values("clip_id", ignore_index=True),
        want.toPandas().sort_values("clip_id", ignore_index=True))

    # compaction keeps day dirs prunable and rows identical
    before = t.read(spark).toPandas().sort_values("clip_id", ignore_index=True)
    assert t.compact_data_files(spark, target_file_bytes=1 << 30) is not None
    after = t.read(spark).toPandas().sort_values("clip_id", ignore_index=True)
    pd.testing.assert_frame_equal(before, after)
    files = t.plan_files(partition_filter={"event_ts_day": d1 + 1})
    assert files and all(f.partition["event_ts_day"] == d1 + 1 for f in files)


def test_day_partition_validation(spark, tmp_path):
    df0 = spark.range(0).selectExpr("id AS k", "cast(id AS double) AS v")
    with pytest.raises(ValueError, match="days.. needs a timestamp"):
        IcebergTable(str(tmp_path / "dbad"), schema=df0.schema,
                     partition_by=["days(v)"])


def test_day_partitioned_sink_streaming(spark, clip_stream, tmp_path):
    """Exactly-once sink into a days(window_start)-partitioned table: the
    streamed window rows land under day partitions, read_committed prunes
    by day, and the audit stays green; maintenance composes on top."""
    import pandas as pd

    from engine.streams import write_clips_iceberg
    from engine.windows import tumbling_agg

    topic = write_clips_iceberg(str(tmp_path / "clips_in"), n_clips=300,
                                n_files=3, seed=13, jitter_ms=10_000)
    src = clip_stream(topic, max_files_per_trigger=1)
    agg = tumbling_agg(src, "event_ts", "speaker_id", "dur_ms", "10 minutes")
    sink = IcebergSink(str(tmp_path / "psink"),
                       partition_by=["days(window_start)"])
    q = (agg.writeStream.outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .foreachBatch(sink.foreach_batch()).start())
    q.processAllAvailable()
    q.stop()

    t = sink.table()
    assert [f["transform"] for f in t.spec_fields()] == ["day"]
    live = t.plan_files()
    days = {f.partition["window_start_day"] for f in live}
    assert len(days) >= 1 and all(isinstance(x, int) for x in days)
    full = sink.read_committed(spark).toPandas()
    assert len(full) > 0
    one_day = sorted(days)[0]
    pruned = sink.read_committed(
        spark, partition_filter={"window_start_day": one_day}).toPandas()
    want = full[pd.to_datetime(full["window_start"]).dt.normalize()
                == pd.Timestamp("1970-01-01") + pd.Timedelta(days=one_day)]
    assert len(pruned) == len(want) > 0
    a = sink.audit()
    assert a["consistent"] and a["unique_batch_ids"]
    # maintenance on the partitioned sink: compact + expire, audit stays green
    assert t.compact_data_files(spark, target_file_bytes=1 << 30) is not None
    t.expire_snapshots(retain_last=1)
    after = sink.read_committed(spark).toPandas()
    assert len(after) == len(full)


# ---------------------------------------------------------------------------
# bucket[N] / truncate[W] partition transforms (Iceberg spec parity)
# ---------------------------------------------------------------------------

def test_murmur3_spec_vectors():
    """The spec's Appendix-B test vectors — layouts must stay
    jar-compatible, so the hash must be bit-exact."""
    import numpy as np

    from engine.iceberg import _murmur3_32_long_np, bucket_value, murmur3_32

    assert murmur3_32((34).to_bytes(8, "little", signed=True)) == 2017239379
    assert murmur3_32((17486).to_bytes(8, "little", signed=True)) == -653330422
    assert murmur3_32(
        (1510871468000000).to_bytes(8, "little", signed=True)) == -2047944441
    assert murmur3_32(b"iceberg") == 1210000089
    assert murmur3_32(bytes([0, 1, 2, 3])) == -188683207
    # numpy fast path == scalar path on a value sweep incl. negatives
    vals = np.array([0, 1, -1, 34, 17486, -(1 << 40), (1 << 62)], dtype=np.int64)
    want = [murmur3_32(int(v).to_bytes(8, "little", signed=True)) for v in vals]
    assert _murmur3_32_long_np(vals).tolist() == want
    # spec example: bucket[16] of int 34 reads hash 2017239379 → ordinal 3
    assert bucket_value(34, "long", 16) == (2017239379 & 0x7FFFFFFF) % 16


def test_bucket_partitioned_write_prune_read(spark, tmp_path):
    """bucket(N, col) partitioning: writer routes by spec murmur3, the
    manifest records int ordinals, and a point lookup plans strictly fewer
    files via the SOURCE value (the clip_id/speaker_id point-lookup
    pruning lever at 10^12 scale)."""
    import pandas as pd

    from engine.iceberg import bucket_value

    df0 = spark.range(0).selectExpr(
        "concat('c', id) AS clip_id", "id AS speaker_id",
        "cast(id AS double) AS dur")
    t = IcebergTable(str(tmp_path / "bk"), schema=df0.schema,
                     partition_by=["bucket(8, clip_id)"])
    assert [(f["name"], f["transform"]) for f in t.spec_fields()] == [
        ("clip_id_bucket", "bucket[8]")]

    rows = spark.range(0, 200).selectExpr(
        "concat('c', id) AS clip_id", "id AS speaker_id",
        "cast(id AS double) AS dur")
    t.write_dataframe(rows)
    t.write_dataframe(spark.range(200, 400).selectExpr(
        "concat('c', id) AS clip_id", "id AS speaker_id",
        "cast(id AS double) AS dur"))
    live = t.plan_files()
    # every file carries an int ordinal in [0, 8)
    assert all(f.partition and 0 <= f.partition["clip_id_bucket"] < 8
               for f in live)
    # writer's UDF routing agrees with the spec transform: the file holding
    # 'c7' sits in bucket_value('c7')'s partition
    want_b = bucket_value("c7", "string", 8)
    pruned = t.plan_files(partition_filter={"clip_id_bucket": "c7"})
    assert 0 < len(pruned) < len(live)
    assert all(f.partition["clip_id_bucket"] == want_b for f in pruned)
    got = t.read(spark, partition_filter={"clip_id_bucket": "c7"})
    assert "c7" in [r.clip_id for r in got.collect()]
    # full read is row-identical to the input
    full = t.read(spark).toPandas().sort_values("speaker_id",
                                                ignore_index=True)
    assert len(full) == 400 and full["clip_id"].iloc[7] == "c7"
    # in-list of source values prunes too; range on bucket raises
    several = t.plan_files(partition_filter={"clip_id_bucket": ["c1", "c2"]})
    assert 0 < len(several) <= len(live)
    with pytest.raises(ValueError, match="range filter on bucket"):
        t.plan_files(partition_filter={"clip_id_bucket": ("c1", "c2")})
    # compaction clusters by bucket and stays prunable
    before = t.read(spark).toPandas().sort_values("clip_id",
                                                  ignore_index=True)
    assert t.compact_data_files(spark, target_file_bytes=1 << 30) is not None
    after = t.read(spark).toPandas().sort_values("clip_id",
                                                 ignore_index=True)
    pd.testing.assert_frame_equal(before, after)
    post = t.plan_files(partition_filter={"clip_id_bucket": "c7"})
    assert post and all(f.partition["clip_id_bucket"] == want_b for f in post)


def test_bucket_long_source_matches_spec(spark, tmp_path):
    """Long-source bucketing goes through the numpy-vectorized writer path;
    its ordinals must equal the scalar spec transform."""
    from engine.iceberg import bucket_value

    df0 = spark.range(0).selectExpr("id AS k", "cast(id AS double) AS v")
    t = IcebergTable(str(tmp_path / "bkl"), schema=df0.schema,
                     partition_by=["bucket(4, k)"])
    t.write_dataframe(_df(spark, 0, 100).select("k", "v"))
    for f in t.plan_files():
        rows = spark.read.parquet(f.file_path).select("k").collect()
        assert all(bucket_value(r.k, "long", 4) == f.partition["k_bucket"]
                   for r in rows)
    one = t.plan_files(partition_filter={"k_bucket": 42})
    assert one and all(
        f.partition["k_bucket"] == bucket_value(42, "long", 4) for f in one)


def test_truncate_partitioned_write_prune_read(spark, tmp_path):
    """truncate(W, col) partitioning: string prefix + long floor variants,
    order-preserving range pruning on the truncated source values."""
    import pandas as pd

    df0 = spark.range(0).selectExpr(
        "concat('grp', id % 5, '-x', id) AS name", "id AS k",
        "cast(id AS double) AS v")
    t = IcebergTable(str(tmp_path / "tr"), schema=df0.schema,
                     partition_by=["truncate(4, name)", "truncate(100, k)"])
    assert [(f["name"], f["transform"]) for f in t.spec_fields()] == [
        ("name_trunc", "truncate[4]"), ("k_trunc", "truncate[100]")]
    rows = spark.range(0, 300).selectExpr(
        "concat('grp', id % 5, '-x', id) AS name", "id AS k",
        "cast(id AS double) AS v")
    t.write_dataframe(rows)
    live = t.plan_files()
    assert all(f.partition["name_trunc"].startswith("grp")
               and len(f.partition["name_trunc"]) == 4
               and f.partition["k_trunc"] % 100 == 0 for f in live)
    # source-value equality prunes to one string prefix
    pruned = t.plan_files(partition_filter={"name_trunc": "grp2-x17"})
    assert 0 < len(pruned) < len(live)
    assert all(f.partition["name_trunc"] == "grp2" for f in pruned)
    # order-preserving range on the long variant
    rng = t.plan_files(partition_filter={"k_trunc": (100, 250)})
    assert rng and all(100 <= f.partition["k_trunc"] <= 200 for f in rng)
    got = t.read(spark, partition_filter={"k_trunc": (100, 250)})
    # superset of the exact rows (partition-level pruning), no false drops
    ks = sorted(r.k for r in got.collect())
    assert set(range(100, 251)) <= set(ks) and min(ks) >= 100
    # pruned read values match a plain filtered full read where exact
    want = t.read(spark).filter("name LIKE 'grp2%'").toPandas()
    got2 = t.read(spark, partition_filter={"name_trunc": "grp2"}).toPandas()
    pd.testing.assert_frame_equal(
        got2.sort_values("k", ignore_index=True),
        want.sort_values("k", ignore_index=True))


def test_bucket_truncate_validation(spark, tmp_path):
    df0 = spark.range(0).selectExpr("id AS k", "cast(id AS double) AS v")
    with pytest.raises(ValueError, match="bucket.. needs"):
        IcebergTable(str(tmp_path / "bb1"), schema=df0.schema,
                     partition_by=["bucket(8, v)"])
    with pytest.raises(ValueError, match="truncate.. needs"):
        IcebergTable(str(tmp_path / "bb2"), schema=df0.schema,
                     partition_by=["truncate(8, v)"])
    with pytest.raises(ValueError, match="N must be > 0"):
        IcebergTable(str(tmp_path / "bb3"), schema=df0.schema,
                     partition_by=["bucket(0, k)"])
    # spec round-trips through metadata on reopen
    t = IcebergTable(str(tmp_path / "bb4"), schema=df0.schema,
                     partition_by=["bucket(8, k)", "truncate(10, k)"])
    t2 = IcebergTable(t.location)
    assert [f["transform"] for f in t2.spec_fields()] == [
        "bucket[8]", "truncate[10]"]


def test_year_month_hour_partition_transforms(spark, tmp_path):
    """year()/month()/hour() — the rest of the Iceberg spec time-transform
    ladder (spec §Partition Transforms): ordinals are years/months/hours
    since 1970-01-01 UTC, writer and filter paths agree, range pruning
    works (time transforms preserve order), hour rejects non-timestamp
    sources."""
    import datetime as dt

    import pandas as pd

    from engine.iceberg import _to_time_ordinal

    # spec example vectors for 2017-11-16T22:31:08 (spec §Partition
    # Transforms table: year 47, month 574, day 17486, hour 419686)
    ts = dt.datetime(2017, 11, 16, 22, 31, 8)
    assert _to_time_ordinal(ts, "year") == 47
    assert _to_time_ordinal(ts, "month") == 574
    assert _to_time_ordinal(ts, "day") == 17486
    assert _to_time_ordinal(ts, "hour") == 419686
    assert _to_time_ordinal("2017-11-16T22:31:08", "hour") == 419686
    # a tz-aware value names its UTC instant: 01:00+05:00 on 2024-01-01 is
    # 20:00 UTC on 2023-12-31 — the previous UTC day, month and year
    east = dt.timezone(dt.timedelta(hours=5))
    for v in (dt.datetime(2024, 1, 1, 1, tzinfo=east),
              pd.Timestamp("2024-01-01T01:00+05:00"),
              "2024-01-01T01:00+05:00"):
        assert _to_time_ordinal(v, "year") == 2023 - 1970
        assert _to_time_ordinal(v, "month") == (2023 - 1970) * 12 + 11
        assert _to_time_ordinal(v, "day") == (
            dt.date(2023, 12, 31) - dt.date(1970, 1, 1)).days
        assert _to_time_ordinal(v, "hour") == _to_time_ordinal(
            dt.datetime(2023, 12, 31, 20), "hour")

    df0 = spark.range(0).selectExpr(
        "concat('c', id) AS clip_id", "current_timestamp() AS event_ts",
        "cast(id AS double) AS dur")

    def rows(day_str, lo, hi):
        return spark.range(lo, hi).selectExpr(
            "concat('c', id) AS clip_id",
            f"timestamp'{day_str} 06:00:00' "
            f"+ make_interval(0,0,0,0,0,0,id) AS event_ts",
            "cast(id AS double) AS dur")

    t = IcebergTable(str(tmp_path / "mh"), schema=df0.schema,
                     partition_by=["month(event_ts)"])
    assert [(f["name"], f["transform"]) for f in t.spec_fields()] == [
        ("event_ts_month", "month")]
    t.write_dataframe(rows("2024-01-15", 0, 20))
    t.write_dataframe(rows("2024-02-15", 20, 40))
    t.write_dataframe(rows("2024-03-15", 40, 60))
    live = t.plan_files()
    m0 = (2024 - 1970) * 12
    assert {f.partition["event_ts_month"] for f in live} == {m0, m0 + 1, m0 + 2}
    # equality by ISO string prunes to one month's files
    one = t.plan_files(partition_filter={"event_ts_month": "2024-02-01"})
    assert 0 < len(one) < len(live)
    assert all(f.partition["event_ts_month"] == m0 + 1 for f in one)
    # a tz-aware value prunes to its UTC month: 2024-02-01T01:00+05:00 is
    # still January in UTC
    jan = t.plan_files(
        partition_filter={"event_ts_month": "2024-02-01T01:00+05:00"})
    assert jan and all(f.partition["event_ts_month"] == m0 for f in jan)
    # order-preserving range by date objects; exact here because every
    # file sits wholly inside one month
    got = t.read(spark, partition_filter={
        "event_ts_month": (dt.date(2024, 2, 1), dt.date(2024, 3, 31))})
    want = t.read(spark).filter("event_ts >= timestamp'2024-02-01'")
    pd.testing.assert_frame_equal(
        got.toPandas().sort_values("clip_id", ignore_index=True),
        want.toPandas().sort_values("clip_id", ignore_index=True))

    # hour-partitioned: the writer's ordinal equals the scalar transform
    th = IcebergTable(str(tmp_path / "hh"), schema=df0.schema,
                      partition_by=["hours(event_ts)"])
    th.write_dataframe(rows("2024-01-15", 0, 3))
    base = _to_time_ordinal(dt.datetime(2024, 1, 15, 6), "hour")
    assert {f.partition["event_ts_hour"] for f in th.plan_files()} == {base}
    pruned = th.plan_files(
        partition_filter={"event_ts_hour": "2024-01-15T06:30:00"})
    assert pruned and all(
        f.partition["event_ts_hour"] == base for f in pruned)

    # year-partitioned + reopen round-trip; hour on a double raises
    ty = IcebergTable(str(tmp_path / "yy"), schema=df0.schema,
                      partition_by=["year(event_ts)"])
    ty.write_dataframe(rows("2024-06-01", 0, 5))
    assert {f.partition["event_ts_year"]
            for f in ty.plan_files()} == {2024 - 1970}
    assert [f["transform"]
            for f in IcebergTable(ty.location).spec_fields()] == ["year"]
    with pytest.raises(ValueError, match="hours.. needs a timestamp"):
        IcebergTable(str(tmp_path / "hbad"), schema=df0.schema,
                     partition_by=["hour(dur)"])


def test_day_partitioned_topic_streams_and_prunes(spark, tmp_path):
    """The round-4 flagship gap: a days(event_ts)-partitioned clip topic
    must stream (full replay) AND support a day-pruned streamed backfill
    that replays exactly the pruned day's committed files."""
    from engine.streams import read_clip_stream_tail, write_clips_iceberg

    loc = str(tmp_path / "clips_pice")
    # 400 clips x 450 s mean gap ≈ 2.08 days from the fixed 2024-01-01 base
    t = write_clips_iceberg(loc, 400, n_files=8, seed=7,
                            files_per_snapshot=4, mean_gap_ms=450_000,
                            jitter_ms=10_000,
                            partition_by=["days(event_ts)"])
    live = t.plan_files()
    days = sorted({f.partition["event_ts_day"] for f in live})
    assert len(days) >= 2
    batch = t.read(spark)
    assert batch.count() == 400
    # partition values in manifests agree with the rows in each file
    for f in live:
        rows = spark.read.parquet(f.file_path).selectExpr(
            "min(datediff(cast(event_ts AS date), date'1970-01-01')) a",
            "max(datediff(cast(event_ts AS date), date'1970-01-01')) b",
        ).first()
        assert rows.a == rows.b == f.partition["event_ts_day"]

    # full-topic stream over the partitioned layout replays every row
    sdf = read_clip_stream_tail(spark, t, max_files_per_trigger=4,
                                progress_dir=str(tmp_path / "prog_all"))
    _drain_to_memory(sdf, "pice_all", str(tmp_path / "ck_all"))
    assert spark.sql("SELECT count(*) c FROM pice_all").first().c == 400

    # day-pruned streamed backfill: plans strictly fewer files, replays
    # exactly that day's committed rows — a stray uncommitted file inside
    # the pruned day's dir is never planned
    day = days[1]
    flt = {"event_ts_day": day}
    planned = t.plan_files(partition_filter=flt)
    assert 0 < len(planned) < len(live)
    with open(os.path.join(t.data_dir, f"__p_event_ts_day={day}",
                           "stray.parquet"), "wb") as fh:
        fh.write(b"junk")
    sdf2 = read_clip_stream_tail(spark, t, max_files_per_trigger=2,
                                 partition_filter=flt,
                                 progress_dir=str(tmp_path / "prog_day"))
    _drain_to_memory(sdf2, "pice_day", str(tmp_path / "ck_day"))
    got = {r.clip_id for r in
           spark.sql("SELECT clip_id FROM pice_day").collect()}
    want = {r.clip_id for r in
            t.read(spark, partition_filter=flt).select("clip_id").collect()}
    assert got == want and len(got) == sum(f.record_count for f in planned)


def test_hour_partitioned_topic_streams_and_prunes(spark, tmp_path):
    """The new hour(event_ts) transform composes with the streamed path:
    an hour-partitioned topic supports an hour-pruned streamed backfill
    (finer-grained than the day lever — the replay-one-bad-hour shape)."""
    from engine.streams import read_clip_stream_tail, write_clips_iceberg

    loc = str(tmp_path / "clips_hice")
    # 300 clips x 45 s mean gap ≈ 3.75 hours from the 2024-01-01 base
    t = write_clips_iceberg(loc, 300, n_files=6, seed=9,
                            files_per_snapshot=3, mean_gap_ms=45_000,
                            jitter_ms=5_000,
                            partition_by=["hours(event_ts)"])
    live = t.plan_files()
    hours = sorted({f.partition["event_ts_hour"] for f in live})
    assert len(hours) >= 2
    flt = {"event_ts_hour": hours[1]}
    planned = t.plan_files(partition_filter=flt)
    assert 0 < len(planned) < len(live)
    sdf = read_clip_stream_tail(spark, t, max_files_per_trigger=2,
                                partition_filter=flt,
                                progress_dir=str(tmp_path / "prog_hour"))
    _drain_to_memory(sdf, "hice_hour", str(tmp_path / "ck_hour"))
    got = {r.clip_id for r in
           spark.sql("SELECT clip_id FROM hice_hour").collect()}
    want = {r.clip_id for r in
            t.read(spark, partition_filter=flt).select("clip_id").collect()}
    assert got == want and len(got) == sum(f.record_count for f in planned)


def test_overwrite_partitions_day_correction(spark, tmp_path):
    """overwrite_partitions — the REPLACE-WHERE day-correction write:
    only the target day's files are swapped, other partitions and live
    delete masks are carried untouched, rows outside the target raise,
    time travel sees the original, CDC delivers the corrected rows."""
    import datetime as dt

    import pandas as pd

    df0 = spark.range(0).selectExpr(
        "id AS k", "current_timestamp() AS event_ts", "id AS v")

    def rows(day_str, lo, hi, v_off=0):
        return spark.range(lo, hi).selectExpr(
            "id AS k",
            f"timestamp'{day_str} 06:00:00' "
            f"+ make_interval(0,0,0,0,0,0,id) AS event_ts",
            f"id + {v_off} AS v")

    t = IcebergTable(str(tmp_path / "powr"), schema=df0.schema,
                     partition_by=["days(event_ts)"])
    t.write_dataframe(rows("2024-03-01", 0, 20))
    t.write_dataframe(rows("2024-03-02", 20, 40))
    # a live equality delete against day-1 rows must survive the
    # partial overwrite of day 2 (kept partitions stay masked)
    t.delete_keys(spark, spark.createDataFrame([(0,), (1,)], "k long"),
                  ["k"])
    pre = t.current_snapshot_id
    d2 = (dt.date(2024, 3, 2) - dt.date(1970, 1, 1)).days
    d1 = d2 - 1
    pre_d1_files = {f.file_path for f in t.plan_files(
        partition_filter={"event_ts_day": d1})}
    pre_d2_files = {f.file_path for f in t.plan_files(
        partition_filter={"event_ts_day": d2})}

    # a correction frame carrying a row OUTSIDE the target day raises
    with pytest.raises(ValueError, match="outside the target"):
        t.overwrite_partitions(rows("2024-03-03", 50, 52),
                               {"event_ts_day": "2024-03-02"})

    corr = rows("2024-03-02", 100, 110, v_off=1000)
    sid = t.overwrite_partitions(corr, {"event_ts_day": "2024-03-02"})
    got = t.read(spark).toPandas().sort_values("k", ignore_index=True)
    # day 1 keeps rows 2..19 (0,1 masked); day 2 is exactly the correction
    assert list(got.k) == list(range(2, 20)) + list(range(100, 110))
    assert list(got.v[-10:]) == [k + 1000 for k in range(100, 110)]
    # only the target day's files were swapped: day 1's file set is
    # byte-identical, day 2's shares nothing with the original
    assert {f.file_path for f in t.plan_files(
        partition_filter={"event_ts_day": d1})} == pre_d1_files
    post_d2_files = {f.file_path for f in t.plan_files(
        partition_filter={"event_ts_day": d2})}
    assert post_d2_files and not (post_d2_files & pre_d2_files)
    # time travel to the pre-correction snapshot sees the original day 2
    old = t.read(spark, snapshot_id=pre).toPandas()
    assert sorted(old.k) == list(range(2, 40))
    # CDC delivers exactly the corrected day's new files
    inc = t.incremental_files(pre)
    assert inc and all(f.partition["event_ts_day"] == d2 for f in inc)
    assert sum(f.record_count for f in inc) == 10
    # compaction + plain scan still work after the partial overwrite
    before = t.read(spark).toPandas().sort_values("k", ignore_index=True)
    assert t.compact_data_files(spark, target_file_bytes=1 << 30) is not None
    pd.testing.assert_frame_equal(
        t.read(spark).toPandas().sort_values("k", ignore_index=True), before)
    # unpartitioned tables refuse
    t2 = _mktable(spark, tmp_path, "powr_flat")
    t2.write_dataframe(_df(spark, 0, 5))
    with pytest.raises(ValueError, match="needs a partitioned table"):
        t2.overwrite_partitions(_df(spark, 0, 1), {"k": 1})


def test_full_lifecycle_maintenance_sequence(spark, tmp_path):
    """Composition of every maintenance action over one table, in the
    order a long-running deployment runs them: appends → upsert →
    predicate delete → manifest rewrite → compaction (folds BOTH delete
    kinds) → snapshot expiration GC → orphan removal — visible rows
    asserted identical at every stage."""
    import pandas as pd

    t = _mktable(spark, tmp_path, "life")
    for lo in range(0, 60, 20):
        t.write_dataframe(_df(spark, lo, lo + 20).coalesce(2))
    t.upsert(spark, spark.createDataFrame(
        [(5, 9.9, "up")], "k long, v double, s string"), ["k"])
    assert t.delete_where(spark, "k >= 50") is not None

    def snap_rows():
        return t.read(spark).toPandas().sort_values(
            "k", ignore_index=True)

    expect = snap_rows()
    assert list(expect.k) == list(range(50))
    assert expect.loc[expect.k == 5, "s"].iloc[0] == "up"

    assert t.rewrite_manifests() is not None
    pd.testing.assert_frame_equal(snap_rows(), expect)
    assert t.compact_data_files(spark, target_file_bytes=1 << 30) is not None
    assert t.plan_delete_files() == []
    plan = t.read(spark)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    pd.testing.assert_frame_equal(snap_rows(), expect)
    gc = t.expire_snapshots(retain_last=1)
    assert gc["expired_snapshots"] >= 4 and gc["data_files"] >= 4
    pd.testing.assert_frame_equal(snap_rows(), expect)
    stray = os.path.join(t.data_dir, "crashed.parquet")
    with open(stray, "wb") as fh:
        fh.write(b"junk")
    import time as _time

    gone = t.remove_orphan_files(
        older_than_ms=int(_time.time() * 1000) + 60_000)
    assert gone["data_files"] == 1 and not os.path.exists(stray)
    pd.testing.assert_frame_equal(snap_rows(), expect)


def test_stream_glob_refuses_non_rectangular_prune(spark, tmp_path):
    """A stale uncommitted file in a partition dir the filter's cross
    product would cover — here the (1, y) cell of a = 1 or 2 — is never
    streamed: the tail plans from manifests, so a non-rectangular prune
    streams exactly the committed rows the batch read returns."""
    from engine.streams import read_clip_stream_tail

    df0 = spark.range(0).selectExpr(
        "id AS a", "cast(id AS string) AS b", "cast(id AS double) AS v")
    t = IcebergTable(str(tmp_path / "rect"), schema=df0.schema,
                     partition_by=["a", "b"])
    t.write_dataframe(spark.createDataFrame(
        [(1, "x", 1.0), (2, "y", 2.0)], "a long, b string, v double"))
    # stale uncommitted file in the (1, y) cell of the cross product
    stale_dir = os.path.join(t.data_dir, "__p_a=1", "__p_b=y")
    os.makedirs(stale_dir)
    spark.createDataFrame([(1, "y", 9.0)], "a long, b string, v double") \
        .coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "sp"))
    import glob as _g
    import shutil
    shutil.copy(_g.glob(str(tmp_path / "sp" / "*.parquet"))[0],
                os.path.join(stale_dir, "stale.parquet"))
    for i, flt in enumerate(({"a": [1, 2]}, {"a": 2})):
        sdf = read_clip_stream_tail(spark, t, watermark=None,
                                    partition_filter=flt,
                                    progress_dir=str(tmp_path / f"prog{i}"))
        _drain_to_memory(sdf, f"rect_{i}", str(tmp_path / f"ck{i}"))
        got = sorted(map(tuple, spark.table(f"rect_{i}")
                         .select("a", "b", "v").collect()))
        want = sorted(map(tuple, t.read(spark, partition_filter=flt)
                          .select("a", "b", "v").collect()))
        assert got == want and 9.0 not in {r[2] for r in got}
    assert len(want) == 1


# ---------------------------------------------------------------------------
# physical upsert: equality-delete files (Iceberg v2 row-level deletes)
# ---------------------------------------------------------------------------

def test_upsert_equality_deletes_read_and_time_travel(spark, tmp_path):
    """upsert() commits new rows + an equality-delete file: reads resolve
    latest-per-key in-plan, older snapshots still see pre-upsert values,
    and stacked upserts resolve newest-wins by sequence number."""
    import pandas as pd

    t = _mktable(spark, tmp_path, "up")
    t.write_dataframe(_df(spark, 0, 50).coalesce(2))
    s1 = t.current_snapshot_id

    up = spark.range(10, 20).selectExpr(
        "id AS k", "cast(id * 100.0 AS double) AS v",
        "concat('new-', id) AS s"
    ).unionByName(spark.range(50, 55).selectExpr(
        "id AS k", "cast(id * 1.5 AS double) AS v",
        "concat('row-', id) AS s"))
    t.upsert(spark, up, ["k"])

    got = t.read(spark).toPandas().sort_values("k", ignore_index=True)
    assert len(got) == 55                      # 50 base - 10 replaced + 15
    assert (got.loc[got.k.between(10, 19), "s"].str.startswith("new-")).all()
    assert (got.loc[got.k < 10, "v"] == got.loc[got.k < 10, "k"] * 1.5).all()
    # time travel: pre-upsert snapshot unaffected
    old = t.read(spark, snapshot_id=s1).toPandas()
    assert len(old) == 50 and not old["s"].str.startswith("new-").any()
    # delete file planned with the key's field id
    dels = t.plan_delete_files()
    assert len(dels) == 1 and dels[0].equality_ids == [1]
    assert t.plan_delete_files(snapshot_id=s1) == []

    # stacked upsert: newest sequence wins for overlapping keys
    up2 = spark.range(15, 25).selectExpr(
        "id AS k", "cast(id * 1000.0 AS double) AS v",
        "concat('newer-', id) AS s")
    t.upsert(spark, up2, ["k"])
    got2 = t.read(spark).toPandas().sort_values("k", ignore_index=True)
    assert len(got2) == 55
    assert (got2.loc[got2.k.between(15, 24), "s"].str.startswith("newer-")).all()
    assert (got2.loc[got2.k.between(10, 14), "s"].str.startswith("new-")).all()
    assert len(t.plan_delete_files()) == 2

    # duplicate keys within one upsert frame are rejected loudly
    dup = spark.createDataFrame(
        [(1, 1.0, "a"), (1, 2.0, "b")], "k long, v double, s string")
    with pytest.raises(ValueError, match="multiple rows"):
        t.upsert(spark, dup, ["k"])


def test_upsert_writes_one_delete_file_for_small_frames(spark, tmp_path):
    """A 1k-row upsert writes its key tuples as one equality-delete file,
    not one per shuffle partition, and reads resolve as before. AQE's
    partition coalescing is off, so the bound does not rest on it."""
    t = _mktable(spark, tmp_path, "up1k")
    t.write_dataframe(_df(spark, 0, 1500).coalesce(2))
    up = spark.range(500, 1500).selectExpr(
        "id AS k", "cast(-id AS double) AS v", "concat('up-', id) AS s")
    confs = {"spark.sql.shuffle.partitions": "64",
             "spark.sql.adaptive.coalescePartitions.enabled": "false"}
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        t.upsert(spark, up, ["k"])
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    dels = t.plan_delete_files()
    assert len(dels) == 1 and dels[0].record_count == 1000
    got = t.read(spark).toPandas().sort_values("k", ignore_index=True)
    assert got.k.tolist() == list(range(1500))
    assert (got.v[got.k < 500] == got.k[got.k < 500] * 1.5).all()
    assert (got.v[got.k >= 500] == -got.k[got.k >= 500]).all()
    assert (got.s[got.k >= 500] == "up-" + got.k[got.k >= 500].astype(str)).all()


def test_upsert_compaction_purges_deletes_plain_scan(spark, tmp_path):
    """After compact_data_files the deletes are folded into the data files:
    plan_delete_files is empty, the read is row-identical, and the plan
    carries NO resolution join (the 'no read-side window forever' fix)."""
    import pandas as pd

    t = _mktable(spark, tmp_path, "upc")
    t.write_dataframe(_df(spark, 0, 40).coalesce(2))
    up = spark.range(0, 10).selectExpr(
        "id AS k", "cast(id * 100.0 AS double) AS v",
        "concat('new-', id) AS s")
    t.upsert(spark, up, ["k"])
    before = t.read(spark).toPandas().sort_values("k", ignore_index=True)
    assert "Join" in t.read(spark)._jdf.queryExecution().executedPlan().toString()

    sid = t.compact_data_files(spark, target_file_bytes=1 << 30)
    assert sid is not None
    assert t.plan_delete_files() == []
    after_df = t.read(spark)
    after = after_df.toPandas().sort_values("k", ignore_index=True)
    pd.testing.assert_frame_equal(before, after)
    plan = after_df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan            # plain scan, no resolution window
    s = t.snapshot(sid)["summary"]
    assert s["removed-delete-files"] == "1"
    assert s["total-records"] == "40"

    # expiration GCs the masked originals AND the delete file
    res = t.expire_snapshots(retain_last=1)
    assert res["data_files"] > 0
    pd.testing.assert_frame_equal(
        t.read(spark).toPandas().sort_values("k", ignore_index=True), after)


def test_replace_refuses_unapplied_deletes(spark, tmp_path):
    """A plain rewrite on a table with live deletes must fail: rewritten
    files take a new sequence number and would escape the masking."""
    t = _mktable(spark, tmp_path, "upr")
    t.write_dataframe(_df(spark, 0, 20).coalesce(1))
    t.upsert(spark, spark.range(0, 5).selectExpr(
        "id AS k", "cast(0.0 AS double) AS v", "concat('u', id) AS s"),
        ["k"])
    live = t.plan_files()
    tmp = str(tmp_path / "upr-rewrite")
    spark.read.parquet(*[f.file_path for f in live]).coalesce(1) \
        .write.mode("overwrite").parquet(tmp)
    new_files = t._register_written_files(tmp, name_prefix="compact-")
    with pytest.raises(RuntimeError, match="not covered by this replace"):
        t.commit_replace(new_files, live)


def test_upsert_on_partitioned_table(spark, tmp_path):
    """Upserts compose with partitioning: data files land in their
    partition dirs, the (global) delete applies across partitions, and a
    pruned read resolves the same rows as a filtered full read."""
    import pandas as pd

    df0 = spark.range(0).selectExpr(
        "id AS k", "id % 3 AS grp", "cast(id AS double) AS v")
    t = IcebergTable(str(tmp_path / "upp"), schema=df0.schema,
                     partition_by=["grp"])
    t.write_dataframe(spark.range(0, 60).selectExpr(
        "id AS k", "id % 3 AS grp", "cast(id AS double) AS v"))
    up = spark.range(0, 12).selectExpr(
        "id AS k", "id % 3 AS grp", "cast(id * -1.0 AS double) AS v")
    t.upsert(spark, up, ["k"])
    full = t.read(spark).toPandas()
    assert len(full) == 60
    assert (full.loc[full.k < 12, "v"] <= 0).all()
    pruned = t.read(spark, partition_filter={"grp": 1}).toPandas()
    want = full[full.grp == 1].sort_values("k", ignore_index=True)
    pd.testing.assert_frame_equal(
        pruned.sort_values("k", ignore_index=True), want)
    # compaction folds deletes per partition and stays prunable
    assert t.compact_data_files(spark, target_file_bytes=1 << 30) is not None
    assert t.plan_delete_files() == []
    pd.testing.assert_frame_equal(
        t.read(spark, partition_filter={"grp": 1})
        .toPandas().sort_values("k", ignore_index=True), want)


# ---------------------------------------------------------------------------
# manifest column statistics: lower/upper bounds + metrics file skipping
# ---------------------------------------------------------------------------

def test_bounds_roundtrip_appendix_d():
    import datetime as dt

    from engine.iceberg import bound_from_bytes, bound_to_bytes

    for v, t in [(42, "int"), (-7, "int"), (1 << 40, "long"),
                 (2.5, "float"), (-1e12, "double"), (True, "boolean"),
                 ("abc", "string"), (b"\x00\x01", "binary"),
                 (dt.date(2024, 3, 1), "date")]:
        b = bound_to_bytes(v, t)
        got = bound_from_bytes(b, t)
        if t == "float":
            assert abs(got - v) < 1e-6
        elif t == "date":
            assert got == (v - dt.date(1970, 1, 1)).days
        else:
            assert got == v, (v, t, got)
    # spec little-endian forms
    assert bound_to_bytes(1, "int") == b"\x01\x00\x00\x00"
    assert bound_to_bytes(1, "long") == b"\x01" + b"\x00" * 7
    # timestamps serialize as epoch micros
    us = bound_from_bytes(
        bound_to_bytes(dt.datetime(2024, 1, 1), "timestamptz"), "timestamptz")
    assert us == 1704067200000000
    # >64-byte strings carry no bound (skip-safe, never wrong)
    assert bound_to_bytes("x" * 65, "string") is None


def test_stats_filter_skips_files_and_read_is_exact(spark, tmp_path):
    """Each append lands a file with a disjoint k-range; a stats_filter on
    k must plan strictly fewer files, and read(stats_filter=...) must
    return exactly the matching rows (file skip is a superset; the row
    filter re-applies the predicate)."""
    import pandas as pd

    t = _mktable(spark, tmp_path, "stats")
    for lo in range(0, 500, 100):
        t.write_dataframe(_df(spark, lo, lo + 100).coalesce(1))
    live = t.plan_files()
    assert len(live) == 5
    assert all(f.lower_bounds and f.upper_bounds for f in live)

    pruned = t.plan_files(stats_filter={"k": (150, 249)})
    assert len(pruned) == 2                       # files [100,200) + [200,300)
    got = t.read(spark, stats_filter={"k": (150, 249)}).toPandas()
    want = _df(spark, 150, 250).toPandas()
    pd.testing.assert_frame_equal(
        got.sort_values("k", ignore_index=True),
        want.sort_values("k", ignore_index=True))

    # equality + in-list conditions; string bounds work too
    assert len(t.plan_files(stats_filter={"k": 42})) == 1
    assert len(t.plan_files(stats_filter={"k": [42, 450]})) == 2
    one = t.read(spark, stats_filter={"s": "row-123"}).toPandas()
    assert list(one["k"]) == [123]
    # unknown column raises; miss-everything returns no files
    with pytest.raises(ValueError, match="not in schema"):
        t.plan_files(stats_filter={"nope": 1})
    assert t.plan_files(stats_filter={"k": 10_000}) == []


def test_stats_filter_composes_with_partitions_and_compaction(spark, tmp_path):
    import pandas as pd

    df0 = spark.range(0).selectExpr(
        "id AS k", "id % 2 AS grp", "cast(id AS double) AS v")
    t = IcebergTable(str(tmp_path / "statsp"), schema=df0.schema,
                     partition_by=["grp"])
    for lo in range(0, 400, 100):
        t.write_dataframe(spark.range(lo, lo + 100).selectExpr(
            "id AS k", "id % 2 AS grp", "cast(id AS double) AS v"))
    both = t.plan_files(partition_filter={"grp": 1},
                        stats_filter={"k": (0, 99)})
    assert both and len(both) < len(t.plan_files())
    got = t.read(spark, partition_filter={"grp": 1},
                 stats_filter={"k": (0, 99)}).toPandas()
    assert sorted(got["k"]) == list(range(1, 100, 2))
    # compaction rebuilds bounds from the rewritten footers
    assert t.compact_data_files(spark, target_file_bytes=1 << 30) is not None
    post = t.plan_files()
    assert all(f.lower_bounds for f in post)
    got2 = t.read(spark, partition_filter={"grp": 1},
                  stats_filter={"k": (0, 99)}).toPandas()
    pd.testing.assert_frame_equal(
        got2.sort_values("k", ignore_index=True),
        got.sort_values("k", ignore_index=True))


def test_producer_topic_carries_event_ts_bounds(spark, tmp_path):
    """The clip topic's manifests carry event_ts bounds — a time-range
    plan over the unpartitioned topic skips files outside the range."""
    from engine.streams import write_clips_iceberg

    t = write_clips_iceberg(str(tmp_path / "btopic"), 400, n_files=8,
                            seed=7, files_per_snapshot=4, jitter_ms=1000)
    live = t.plan_files()
    assert all(f.lower_bounds and f.upper_bounds for f in live)
    full = t.read(spark)
    lo, hi = full.selectExpr("min(event_ts)", "max(event_ts)").first()
    mid = lo + (hi - lo) / 8
    pruned = t.plan_files(stats_filter={"event_ts": (lo, mid)})
    assert 0 < len(pruned) < len(live)
    got = t.read(spark, stats_filter={"event_ts": (lo, mid)})
    want = full.filter(
        (full.event_ts >= lo) & (full.event_ts <= mid))
    assert sorted(r.clip_id for r in got.collect()) == \
        sorted(r.clip_id for r in want.collect())


def test_delete_keys_masks_then_compaction_erases(spark, tmp_path):
    """Row-level DELETE by key (equality-delete-only commit): rows vanish
    from the current snapshot, survive in time travel, and compaction +
    expiration physically erase them — the full right-to-erasure path."""
    import pandas as pd

    t = _mktable(spark, tmp_path, "del")
    t.write_dataframe(_df(spark, 0, 40).coalesce(2))
    s1 = t.current_snapshot_id
    kill = spark.createDataFrame([(3,), (17,), (39,)], "k long")
    sid = t.delete_keys(spark, kill, ["k"])
    assert t.snapshot(sid)["summary"]["operation"] == "delete"

    got = t.read(spark).toPandas()
    assert len(got) == 37 and not set(got.k) & {3, 17, 39}
    # older snapshot unaffected; delete planned as a live delete file
    assert len(t.read(spark, snapshot_id=s1).toPandas()) == 40
    assert len(t.plan_delete_files()) == 1

    # deleting then upserting one of the keys resurrects it (newer seq)
    t.upsert(spark, spark.createDataFrame(
        [(17, 9.9, "back")], "k long, v double, s string"), ["k"])
    got2 = t.read(spark).toPandas()
    assert len(got2) == 38
    assert got2.loc[got2.k == 17, "s"].iloc[0] == "back"

    # compaction folds both delete files away; physical bytes follow on GC
    before = t.read(spark).toPandas().sort_values("k", ignore_index=True)
    assert t.compact_data_files(spark, target_file_bytes=1 << 30) is not None
    assert t.plan_delete_files() == []
    pd.testing.assert_frame_equal(
        t.read(spark).toPandas().sort_values("k", ignore_index=True), before)
    res = t.expire_snapshots(retain_last=1)
    assert res["data_files"] >= 3  # originals + delete files erased
    # the erased keys are in NO live file on disk
    live_ks = set()
    for f in t.plan_files():
        live_ks |= {r.k for r in spark.read.parquet(f.file_path).collect()}
    assert 3 not in live_ks and 39 not in live_ks and 17 in live_ks


def test_delete_where_position_deletes(spark, tmp_path):
    """delete_where — predicate row-level DELETE via v2 POSITION deletes
    (content=1): masks exact (file, ordinal) pairs, leaves time travel
    intact, never touches rows appended after (<= sequence rule, where
    equality uses strictly-smaller), counts only currently-visible rows,
    stacks with equality deletes, and compaction folds both kinds into a
    plain scan."""
    import pandas as pd

    t = _mktable(spark, tmp_path, "posdel")
    s1 = t.write_dataframe(_df(spark, 0, 100).repartition(3))
    sid = t.delete_where(spark, "k % 7 = 0")
    assert sid is not None
    assert t.snapshot(sid)["summary"]["operation"] == "delete"
    assert int(t.snapshot(sid)["summary"]
               ["added-position-delete-records"]) == 15
    dels = t.plan_delete_files()
    assert [d.content for d in dels] == [1] and not dels[0].equality_ids

    want = [k for k in range(100) if k % 7 != 0]
    assert sorted(r.k for r in t.read(spark).collect()) == want
    # time travel to the pre-delete snapshot still sees every row
    assert t.read(spark, snapshot_id=s1).count() == 100

    # rows appended AFTER the position delete are NOT masked even where
    # they match the predicate (new file's sequence > the delete's)
    t.write_dataframe(_df(spark, 100, 121))  # holds 105, 112, 119
    got2 = sorted(r.k for r in t.read(spark).collect())
    assert got2 == want + list(range(100, 121))

    # nothing visible matches -> no snapshot committed
    assert t.delete_where(spark, "k < 0") is None
    # only currently-VISIBLE matches are recorded: the first delete's
    # rows are not re-counted
    sid2 = t.delete_where(spark, "k % 7 = 0")
    assert int(t.snapshot(sid2)["summary"]
               ["added-position-delete-records"]) == 3  # 105, 112, 119
    want3 = [k for k in range(121) if k % 7 != 0]
    assert sorted(r.k for r in t.read(spark).collect()) == want3

    # stack an equality delete on top — both kinds live at once
    t.delete_keys(spark, spark.createDataFrame(
        [(k,) for k in range(10)], "k long"), ["k"])
    want4 = [k for k in range(121) if k % 7 != 0 and k >= 10]
    assert sorted(r.k for r in t.read(spark).collect()) == want4
    assert sorted(d.content for d in t.plan_delete_files()) == [1, 1, 2]

    # compaction folds BOTH kinds away: rows identical, plain scan after
    before = t.read(spark).toPandas().sort_values("k", ignore_index=True)
    assert t.compact_data_files(spark, target_file_bytes=1 << 30) is not None
    assert t.plan_delete_files() == []
    after_df = t.read(spark)
    plan = after_df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, "post-compaction read must be a plain scan"
    pd.testing.assert_frame_equal(
        after_df.toPandas().sort_values("k", ignore_index=True), before)


def test_rewrite_manifests_metadata_only(spark, tmp_path):
    """rewrite_manifests — metadata-only manifest compaction: appends
    accrete one manifest per commit (planning cost at stream scale);
    the rewrite consolidates the list while keeping the live file set,
    per-file sequence numbers, delete semantics, column bounds, CDC/tail
    invisibility, and time travel bit-identical. No data file moves."""
    import os as _os

    import pandas as pd

    t = _mktable(spark, tmp_path, "rwm")
    for lo in range(0, 50, 10):        # 5 append commits → 5 manifests
        t.write_dataframe(_df(spark, lo, lo + 10).coalesce(1))
    t.delete_keys(spark, spark.createDataFrame(
        [(3,), (14,)], "k long"), ["k"])
    snap0 = t.current_snapshot_id
    before_files = {(f.file_path, f.sequence_number)
                    for f in t.plan_files()}
    before_rows = t.read(spark).toPandas().sort_values(
        "k", ignore_index=True)
    n_before = len(t._read_manifest_list(t.snapshot(snap0)["manifest-list"]))
    assert n_before >= 6
    data_mtimes = {f.file_path: _os.path.getmtime(f.file_path)
                   for f in t.plan_files()}

    sid = t.rewrite_manifests()
    assert sid is not None
    mlist = t._read_manifest_list(t.snapshot(sid)["manifest-list"])
    assert len(mlist) == 2  # one data manifest + one delete manifest
    assert t.snapshot(sid)["summary"]["operation"] == "replace"

    # live set + ORIGINAL sequence numbers identical; rows identical
    # (the equality delete still masks k=3,14 via the kept sequences)
    assert {(f.file_path, f.sequence_number)
            for f in t.plan_files()} == before_files
    pd.testing.assert_frame_equal(
        t.read(spark).toPandas().sort_values("k", ignore_index=True),
        before_rows)
    # column bounds survived: a stats-pruned plan still skips files
    assert 0 < len(t.plan_files(stats_filter={"k": (0, 9)})) < len(
        before_files)
    # no data file was touched
    assert all(_os.path.getmtime(p) == m for p, m in data_mtimes.items())
    # CDC and the tail's append log see nothing from the rewrite
    assert t.snapshot_added_files(t.snapshot(sid)) == []
    assert t.incremental_files(snap0) == []
    # time travel to the pre-rewrite snapshot unaffected; second call no-op
    # (and a target that would GROW the manifest count is also a no-op)
    assert t.read(spark, snapshot_id=snap0).count() == len(before_rows)
    assert t.rewrite_manifests() is None
    assert t.rewrite_manifests(target_entries_per_manifest=2) is None

    # chunked: on an unconsolidated table a small target bin-packs into
    # ceil(n/target) data manifests
    t2 = _mktable(spark, tmp_path, "rwm2")
    for lo in range(0, 50, 10):
        t2.write_dataframe(_df(spark, lo, lo + 10).coalesce(1))
    want2 = {(f.file_path, f.sequence_number) for f in t2.plan_files()}
    assert t2.rewrite_manifests(target_entries_per_manifest=2) is not None
    mlist2 = t2._read_manifest_list(
        t2.snapshot(t2.current_snapshot_id)["manifest-list"])
    assert len(mlist2) == 3  # ceil(5/2) data manifests, no deletes
    assert {(f.file_path, f.sequence_number)
            for f in t2.plan_files()} == want2


def test_delete_where_with_pos_and_file_path_columns(spark, tmp_path):
    """Predicates over data columns named 'pos'/'file_path' must see the
    DATA values (review regression: the writer's internal ordinal/path
    columns are __del_-prefixed so they can never shadow the schema)."""
    df0 = spark.range(0).selectExpr(
        "id AS k", "id AS pos", "concat('f', id) AS file_path")
    t = IcebergTable(str(tmp_path / "clash"), schema=df0.schema)
    t.write_dataframe(spark.range(0, 20).selectExpr(
        "id AS k", "id + 100 AS pos", "concat('f', id) AS file_path"))
    # data pos is 100..119; row ordinals are 0..19 — shadowing would
    # make this predicate match nothing (or the wrong rows)
    assert t.delete_where(
        spark, "pos >= 110 AND file_path LIKE 'f%'") is not None
    assert sorted(r.k for r in t.read(spark).collect()) == list(range(10))


def test_delete_where_composes_with_partition_pruning(spark, tmp_path):
    """Position deletes apply globally: a partition-pruned read still
    masks its partition's deleted rows (deletes are never pruned)."""
    df0 = spark.range(0).selectExpr("id AS k", "concat('s', id % 3) AS seg")
    t = IcebergTable(str(tmp_path / "pdp"), schema=df0.schema,
                     partition_by=["seg"])
    t.write_dataframe(spark.range(0, 90).selectExpr(
        "id AS k", "concat('s', id % 3) AS seg"))
    assert t.delete_where(spark, "k >= 60") is not None
    got = sorted(r.k for r in
                 t.read(spark, partition_filter={"seg": "s1"}).collect())
    assert got == [k for k in range(60) if k % 3 == 1]
    assert t.read(spark).count() == 60


# ---------------------------------------------------------------------------
# snapshot refs (tags) + additive schema evolution
# ---------------------------------------------------------------------------

def test_tag_pins_snapshot_and_survives_expiration(spark, tmp_path):
    """A named tag (the reproducible training-set pin) always plans its
    snapshot, and expiration never GCs a tagged snapshot's files."""
    t = _mktable(spark, tmp_path, "refs")
    t.write_dataframe(_df(spark, 0, 20).coalesce(1))
    t.tag_snapshot("train-v1")
    for lo in range(20, 60, 20):
        t.write_dataframe(_df(spark, lo, lo + 20).coalesce(1))
    t.write_dataframe(_df(spark, 100, 110), mode="overwrite")

    assert len(t.read(spark, ref="train-v1").toPandas()) == 20
    assert len(t.read(spark).toPandas()) == 10
    assert t.refs()["train-v1"]["type"] == "tag"

    res = t.expire_snapshots(retain_last=1)
    assert res["expired_snapshots"] == 2          # middle appends only
    # the tagged snapshot still reads in full after GC
    got = t.read(spark, ref="train-v1").toPandas()
    assert sorted(got.k) == list(range(20))
    # drop the tag -> snapshot becomes expirable; ref gone
    t.drop_ref("train-v1")
    with pytest.raises(KeyError, match="no ref"):
        t.read(spark, ref="train-v1")
    res2 = t.expire_snapshots(retain_last=1)
    assert res2["expired_snapshots"] == 1
    with pytest.raises(ValueError, match="invalid ref"):
        t.tag_snapshot("main")
    # refs survive ordinary commits (main advances, tags stay)
    t.tag_snapshot("v2")
    t.write_dataframe(_df(spark, 0, 5).coalesce(1))
    assert "v2" in t.refs() and len(t.read(spark, ref="v2").toPandas()) == 10


def test_add_columns_reads_old_files_as_null(spark, tmp_path):
    """Additive schema evolution (appendFeatures): new nullable columns get
    fresh ids, old files read as null, new writes carry values, and the
    spec round-trips through reopen."""
    import pandas as pd
    from pyspark.sql import types as T

    t = _mktable(spark, tmp_path, "evo")
    t.write_dataframe(_df(spark, 0, 10).coalesce(1))
    new_cols = T.StructType([
        T.StructField("score", T.DoubleType(), True),
        T.StructField("lang", T.StringType(), True),
    ])
    sid = t.add_columns(new_cols)
    assert sid == 1
    got = t.read(spark).toPandas()
    assert set(got.columns) == {"k", "v", "s", "score", "lang"}
    assert got["score"].isna().all() and got["lang"].isna().all()

    t2 = IcebergTable(t.location)  # reopen: evolved schema is current
    t2.write_dataframe(
        spark.range(10, 15).selectExpr(
            "id AS k", "cast(id AS double) AS v", "concat('row-', id) AS s",
            "cast(id * 0.5 AS double) AS score", "'en' AS lang").coalesce(1))
    allr = t2.read(spark).toPandas().sort_values("k", ignore_index=True)
    assert len(allr) == 15
    assert allr.loc[allr.k >= 10, "lang"].eq("en").all()
    assert allr.loc[allr.k < 10, "lang"].isna().all()
    # stats skipping works on the NEW column (only new files carry bounds)
    pruned = t2.plan_files(stats_filter={"score": (5.0, 7.0)})
    assert len(pruned) == 2  # the old file has no bounds -> kept (safe)
    got2 = t2.read(spark, stats_filter={"score": (5.0, 7.0)}).toPandas()
    assert sorted(got2.k) == [10, 11, 12, 13, 14]  # scores 5.0..7.0

    # duplicate / required columns rejected
    from pyspark.sql import types as T2
    with pytest.raises(ValueError, match="already exists"):
        t2.add_columns(T2.StructType([T2.StructField("v", T2.DoubleType())]))
    with pytest.raises(ValueError, match="must be nullable"):
        t2.add_columns(T2.StructType(
            [T2.StructField("z", T2.LongType(), False)]))
    # new field ids continue past last-column-id (no reuse)
    fields = {f["name"]: f["id"] for f in t2.schema_json()["fields"]}
    assert fields["score"] == 4 and fields["lang"] == 5


# ---------------------------------------------------------------------------
# metadata inspection tables (snapshots / history / files / refs)
# ---------------------------------------------------------------------------

def test_metadata_tables(spark, tmp_path):
    """DataFrame twins of the jar's metadata tables: snapshots carries
    lineage + summary, history flags current ancestors, files lists live
    data AND delete files with decoded bounds, refs lists tags."""
    t = _mktable(spark, tmp_path, "meta")
    s1 = t.write_dataframe(_df(spark, 0, 10).coalesce(1))
    s2 = t.write_dataframe(_df(spark, 10, 20).coalesce(1))
    t.tag_snapshot("pin", s1)
    t.upsert(spark, _df(spark, 0, 3), ["k"])

    snaps = t.snapshots_df(spark).toPandas().sort_values(
        "sequence_number", ignore_index=True)
    assert len(snaps) == 3
    assert list(snaps.operation) == ["append", "append", "overwrite"]
    # lineage via Spark rows (pandas floats 19-digit ids on nullable longs)
    by_id = {r.snapshot_id: r.parent_id
             for r in t.snapshots_df(spark).collect()}
    assert by_id[s2] == s1 and by_id[s1] is None
    assert snaps.summary[0]["total-records"] == "10"

    hist = t.history_df(spark).toPandas()
    assert len(hist) == 3 and hist.is_current_ancestor.all()
    assert list(hist.made_current_at) == sorted(hist.made_current_at)

    files = t.files_df(spark).toPandas()
    assert set(files.content) == {0, 2} and (files.content == 2).sum() == 1
    dat = files[files.content == 0]
    assert dat.record_count.sum() == 23  # 10 + 10 + 3 upsert rows
    k_bounds = [(b["k"], u["k"]) for b, u in
                zip(dat.lower_bounds, dat.upper_bounds) if b and u]
    assert ("0", "9") in k_bounds and ("10", "19") in k_bounds
    # at the pinned snapshot only the first file is live, no deletes
    f1 = t.files_df(spark, ref="pin").toPandas()
    assert len(f1) == 1 and f1.content[0] == 0 and f1.record_count[0] == 10

    refs = t.refs_df(spark).toPandas()
    assert {(r["name"], r.type) for _, r in refs.iterrows()} == {
        ("main", "branch"), ("pin", "tag")}

    # empty table -> empty frames with stable schemas
    t0 = _mktable(spark, tmp_path, "meta0")
    assert t0.snapshots_df(spark).count() == 0
    assert t0.files_df(spark).count() == 0
    assert t0.history_df(spark).count() == 0


# ---------------------------------------------------------------------------
# branches: write-audit-publish
# ---------------------------------------------------------------------------

def test_branch_write_audit_publish(spark, tmp_path):
    """Branch refs stage commits aside from main (the WAP seam): main,
    time travel, CDC and the append log see nothing until fast_forward
    publishes — then the staged snapshots deliver exactly once, in commit
    order. Non-fast-forward publishes are refused."""
    t = _mktable(spark, tmp_path, "wap")
    s1 = t.write_dataframe(_df(spark, 0, 10).coalesce(1))
    t.create_branch("audit")
    b1 = t.write_dataframe(_df(spark, 10, 20).coalesce(1), branch="audit")
    b2 = t.write_dataframe(_df(spark, 20, 25).coalesce(1), branch="audit")

    # staged: branch sees all, main sees nothing new
    assert t.read(spark, ref="audit").count() == 25
    assert t.read(spark).count() == 10
    assert t.current_snapshot_id == s1
    assert t.incremental_files(s1) == []
    assert [sid for sid, _ in t.append_log()] == [s1]
    # lineage: b1's parent is s1 (branched from main head), b2's is b1
    by_id = {s["snapshot-id"]: s.get("parent-snapshot-id")
             for s in t.snapshots()}
    assert by_id[b1] == s1 and by_id[b2] == b1

    # guards: unknown branch, commit to a tag
    with pytest.raises(KeyError, match="create_branch"):
        t.write_dataframe(_df(spark, 0, 1), branch="nope")
    t.tag_snapshot("pin", s1)
    with pytest.raises(ValueError, match="branches only"):
        t.write_dataframe(_df(spark, 0, 1), branch="pin")

    # publish: main fast-forwards to the audit head
    head = t.fast_forward("main", "audit")
    assert head == b2 and t.current_snapshot_id == b2
    assert t.read(spark).count() == 25
    inc = t.incremental_files(s1)
    assert sum(f.record_count for f in inc) == 15
    assert [sid for sid, _ in t.append_log()] == [s1, b1, b2]
    log_ids = [e["snapshot-id"] for e in t.metadata()["snapshot-log"]]
    assert log_ids == [s1, b1, b2]  # published in commit order
    assert t.fast_forward("main", "audit") == b2  # idempotent

    # diverge: a main commit after publish makes further ff non-linear
    t.write_dataframe(_df(spark, 25, 30).coalesce(1))
    t.write_dataframe(_df(spark, 30, 35).coalesce(1), branch="audit")
    with pytest.raises(ValueError, match="not a fast-forward"):
        t.fast_forward("main", "audit")


def test_expire_pins_staged_branch_ancestry(spark, tmp_path):
    """Routine expiration must NOT expire a branch's unpublished
    intermediate snapshots — that would dangle the branch's parent chain
    and make the publish impossible forever. Published history stays
    governed by the normal retain policy."""
    t = _mktable(spark, tmp_path, "wapgc")
    s1 = t.write_dataframe(_df(spark, 0, 10).coalesce(1))
    t.create_branch("audit")
    b1 = t.write_dataframe(_df(spark, 10, 20).coalesce(1), branch="audit")
    b2 = t.write_dataframe(_df(spark, 20, 25).coalesce(1), branch="audit")
    gc = t.expire_snapshots(retain_last=1)
    # nothing expirable: s1 is current main, b1 is pinned as staged
    # ancestry, b2 as the audit head
    assert gc["expired_snapshots"] == 0
    assert {s["snapshot-id"] for s in t.snapshots()} == {s1, b1, b2}
    # the publish still works after maintenance, delivering every row
    assert t.fast_forward("main", "audit") == b2
    assert t.read(spark).count() == 25
    assert sum(f.record_count for f in t.incremental_files(s1)) == 15
    # once published, the intermediates follow the normal policy again
    gc2 = t.expire_snapshots(retain_last=1)
    assert gc2["expired_snapshots"] == 2  # s1 and b1 (b2 = current+ref)


# ---------------------------------------------------------------------------
# remove_orphan_files
# ---------------------------------------------------------------------------

def test_remove_orphan_files(spark, tmp_path):
    """The third maintenance action: crashed-write leftovers (uncommitted
    parquet in data/, stale .tmp-* staging, dangling metadata avro) go;
    every referenced file — including DELETED-status entries older
    snapshots still plan — stays; young orphans (in-flight writers) stay;
    dry_run deletes nothing."""
    import time as _time

    t = _mktable(spark, tmp_path, "orph")
    t.write_dataframe(_df(spark, 0, 10).coalesce(1))
    t.write_dataframe(_df(spark, 10, 20).coalesce(1))
    t.compact_data_files(spark)  # replaced files: DELETED entries, pinned

    stray_data = os.path.join(t.data_dir, "crashed-task-output.parquet")
    with open(stray_data, "wb") as f:
        f.write(b"not really parquet")
    stray_meta = os.path.join(t.metadata_dir, "deadbeef-m9.avro")
    with open(stray_meta, "wb") as f:
        f.write(b"dangling manifest")
    tmpdir = os.path.join(t.location, ".tmp-upsert-dead")
    os.makedirs(tmpdir)
    stray_tmp = os.path.join(tmpdir, "part-0.parquet")
    with open(stray_tmp, "wb") as f:
        f.write(b"staged, never committed")

    future = int(_time.time() * 1000) + 60_000
    dr = t.remove_orphan_files(older_than_ms=future, dry_run=True)
    assert dr == {"data_files": 1, "metadata_files": 1, "tmp_files": 1,
                  "paths": sorted([stray_data, stray_meta, stray_tmp])}
    assert os.path.exists(stray_data)  # dry run deleted nothing

    # default cutoff (now - 3 days): everything here is too young — the
    # in-flight-writer guard
    assert t.remove_orphan_files() == {
        "data_files": 0, "metadata_files": 0, "tmp_files": 0}
    assert os.path.exists(stray_data)

    got = t.remove_orphan_files(older_than_ms=future)
    assert got == {"data_files": 1, "metadata_files": 1, "tmp_files": 1}
    assert not os.path.exists(stray_data)
    assert not os.path.exists(stray_meta)
    assert not os.path.exists(tmpdir)  # emptied staging dir pruned

    # table intact: current read, time travel to pre-compaction snapshots,
    # and every still-referenced file on disk
    assert t.read(spark).count() == 20
    first = t.snapshots()[0]["snapshot-id"]
    assert t.read(spark, snapshot_id=first).count() == 10
    for f in t.plan_files(snapshot_id=first):
        assert os.path.exists(f.file_path)



# ---------------------------------------------------------------------------
# commit characterization: every snapshot-building path, pinned literally
# ---------------------------------------------------------------------------

_FILE_RE = re.compile(r"^(.*?)[0-9a-f]{8}-\d+\.parquet$")


def _pdf(spark, ks, tag="a"):
    """One-task frame keyed ``k`` with identity partition ``p = k % 2``
    (so every write lands one file per touched partition)."""
    return spark.createDataFrame(
        [(k, k % 2, f"{tag}{k}") for k in ks], "k long, p long, s string"
    ).coalesce(1)


def _file_shape(files):
    """(basename prefix, rows, sequence number) per file, sorted."""
    return sorted(
        (_FILE_RE.match(os.path.basename(f.file_path)).group(1),
         f.record_count, f.sequence_number) for f in files)


def _list_shape(t):
    """Per manifest of the current snapshot's list: content, written by
    this snapshot?, added/existing/deleted (files, rows), and sequence /
    minimum sequence relative to the snapshot's."""
    snap = t.snapshot(t.current_snapshot_id)
    seq, sid = snap["sequence-number"], snap["snapshot-id"]
    return [
        (m["content"], m["added_snapshot_id"] == sid,
         m["added_data_files_count"], m["added_rows_count"],
         m["existing_data_files_count"], m["existing_rows_count"],
         m["deleted_data_files_count"], m["deleted_rows_count"],
         m["sequence_number"] - seq, m["min_sequence_number"] - seq)
        for m in t._read_manifest_list(snap["manifest-list"])]


def test_commit_paths_characterization(spark, tmp_path):
    """Every snapshot-building path on one partitioned table, pinned to
    literal summaries, manifest-list shapes, planned files and append-log
    entries — a refactor of the commit code must reproduce each exactly
    (manifest counts matter: rewrite_manifests triggers on them)."""
    t = IcebergTable(str(tmp_path / "char"), schema=_pdf(spark, []).schema,
                     partition_by=["p"])
    log = []

    def check(summary, manifests, live, dels, added, rows=None):
        assert t.snapshot(t.current_snapshot_id)["summary"] == summary
        assert _list_shape(t) == manifests
        assert _file_shape(t.plan_files()) == live
        assert _file_shape(t.plan_delete_files()) == dels
        log.append(added)
        assert [_file_shape(fs) for _, fs in t.append_log()] == log
        if rows is not None:
            assert sorted((r.k, r.s) for r in t.read(spark).collect()) == rows

    a = [(k, f"a{k}") for k in range(10)]
    b = [(k, f"b{k}") for k in range(10, 14)]

    t.write_dataframe(_pdf(spark, range(10)),
                      summary_extra={"writer": "char"})
    check({"operation": "append", "added-data-files": "2",
           "added-records": "10", "total-data-files": "2",
           "total-records": "10", "writer": "char"},
          [(0, True, 2, 10, 0, 0, 0, 0, 0, 0)],
          [("", 5, 1), ("", 5, 1)], [], [("", 5, 1), ("", 5, 1)], a)

    t.create_branch("audit")
    t.write_dataframe(_pdf(spark, range(10, 14), "b"), branch="audit")
    t.fast_forward("main", "audit")
    check({"operation": "append", "added-data-files": "2",
           "added-records": "4", "total-data-files": "4",
           "total-records": "14"},
          [(0, True, 2, 4, 0, 0, 0, 0, 0, 0),
           (0, False, 2, 10, 0, 0, 0, 0, -1, -1)],
          [("", 2, 2), ("", 2, 2), ("", 5, 1), ("", 5, 1)], [],
          [("", 2, 2), ("", 2, 2)], a + b)

    t.upsert(spark, _pdf(spark, [0, 1], "u"), ["k"])
    live3 = [("", 2, 2), ("", 2, 2), ("", 5, 1), ("", 5, 1),
             ("upsert-", 1, 3), ("upsert-", 1, 3)]
    check({"operation": "overwrite", "added-data-files": "2",
           "added-records": "2", "added-delete-files": "1",
           "added-equality-delete-records": "2",
           "total-data-files": "6", "total-records": "16"},
          [(0, True, 2, 2, 0, 0, 0, 0, 0, 0),
           (1, True, 1, 2, 0, 0, 0, 0, 0, 0),
           (0, False, 2, 4, 0, 0, 0, 0, -1, -1),
           (0, False, 2, 10, 0, 0, 0, 0, -2, -2)],
          live3, [("eqdel-", 2, 3)],
          [("upsert-", 1, 3), ("upsert-", 1, 3)],
          [(0, "u0"), (1, "u1")] + a[2:] + b)

    t.delete_keys(spark, spark.createDataFrame([(2,)], "k long"), ["k"])
    check({"operation": "delete", "added-data-files": "0",
           "added-records": "0", "added-delete-files": "1",
           "added-equality-delete-records": "1",
           "total-data-files": "6", "total-records": "16"},
          [(1, True, 1, 1, 0, 0, 0, 0, 0, 0),
           (0, False, 2, 2, 0, 0, 0, 0, -1, -1),
           (1, False, 1, 2, 0, 0, 0, 0, -1, -1),
           (0, False, 2, 4, 0, 0, 0, 0, -2, -2),
           (0, False, 2, 10, 0, 0, 0, 0, -3, -3)],
          live3, [("eqdel-", 1, 4), ("eqdel-", 2, 3)], [],
          [(0, "u0"), (1, "u1")] + a[3:] + b)

    t.delete_where(spark, "k = 5")
    check({"operation": "delete", "added-data-files": "0",
           "added-records": "0", "added-delete-files": "1",
           "added-position-delete-records": "1",
           "total-data-files": "6", "total-records": "16"},
          [(1, True, 1, 1, 0, 0, 0, 0, 0, 0),
           (1, False, 1, 1, 0, 0, 0, 0, -1, -1),
           (0, False, 2, 2, 0, 0, 0, 0, -2, -2),
           (1, False, 1, 2, 0, 0, 0, 0, -2, -2),
           (0, False, 2, 4, 0, 0, 0, 0, -3, -3),
           (0, False, 2, 10, 0, 0, 0, 0, -4, -4)],
          live3, [("eqdel-", 1, 4), ("eqdel-", 2, 3), ("posdel-", 1, 5)],
          [], [(0, "u0"), (1, "u1")] + a[3:5] + a[6:] + b)

    t.overwrite_partitions(_pdf(spark, [101, 103, 105], "o"), {"p": 1})
    after_powr = ([(0, "u0"), (4, "a4"), (6, "a6"), (8, "a8"), (10, "b10"),
                   (12, "b12")] + [(k, f"o{k}") for k in (101, 103, 105)])
    check({"operation": "overwrite", "added-data-files": "1",
           "added-records": "3", "deleted-data-files": "3",
           "deleted-records": "8", "total-data-files": "4",
           "total-records": "11"},
          [(0, True, 1, 3, 0, 0, 0, 0, 0, 0),
           (0, True, 0, 0, 3, 8, 0, 0, 0, -5),
           (0, True, 0, 0, 0, 0, 3, 8, 0, -5),
           (1, True, 0, 0, 3, 4, 0, 0, 0, -3)],
          [("", 2, 2), ("", 5, 1), ("powr-", 3, 6), ("upsert-", 1, 3)],
          [("eqdel-", 1, 4), ("eqdel-", 2, 3), ("posdel-", 1, 5)],
          [("powr-", 3, 6)], after_powr)

    t.compact_data_files(spark, target_file_bytes=1 << 30)
    compacted = [("compact-", 3, 7), ("compact-", 6, 7)]
    check({"operation": "replace", "added-data-files": "2",
           "added-records": "9", "deleted-data-files": "4",
           "deleted-records": "11", "total-data-files": "2",
           "total-records": "9", "compaction-input-files": "4",
           "removed-delete-files": "3"},
          [(0, True, 2, 9, 0, 0, 0, 0, 0, 0),
           (0, True, 0, 0, 0, 0, 4, 11, 0, -6),
           (1, True, 0, 0, 0, 0, 3, 4, 0, -4)],
          compacted, [], [], after_powr)

    t.rewrite_manifests(summary_extra={"reason": "char"})
    check({"operation": "replace", "added-data-files": "0",
           "added-records": "0", "rewritten-manifests": "3",
           "added-manifests": "1", "total-data-files": "2",
           "total-records": "9", "reason": "char"},
          [(0, True, 0, 0, 2, 9, 0, 0, 0, -1)],
          compacted, [], [], after_powr)

    t.write_dataframe(_pdf(spark, range(200, 204), "f"), mode="overwrite")
    check({"operation": "overwrite", "added-data-files": "2",
           "added-records": "4", "deleted-data-files": "2",
           "deleted-records": "9", "total-data-files": "2",
           "total-records": "4"},
          [(0, True, 2, 4, 0, 0, 0, 0, 0, 0),
           (0, True, 0, 0, 0, 0, 2, 9, 0, -2)],
          [("", 2, 9), ("", 2, 9)], [], [("", 2, 9), ("", 2, 9)],
          [(k, f"f{k}") for k in range(200, 204)])

    # a replace that keeps survivors: one big file stays, the two small
    # ones are bin-packed (EXISTING manifest between ADDED and DELETED)
    t.write_dataframe(spark.range(1000, 7000, 2).selectExpr(
        "id AS k", "id % 2 AS p", "sha2(cast(id AS string), 256) AS s"
    ).coalesce(1))
    big = [("", 3000, 10)]
    check({"operation": "append", "added-data-files": "1",
           "added-records": "3000", "total-data-files": "3",
           "total-records": "3004"},
          [(0, True, 1, 3000, 0, 0, 0, 0, 0, 0),
           (0, False, 2, 4, 0, 0, 0, 0, -1, -1),
           (0, False, 0, 0, 0, 0, 2, 9, -1, -3)],
          [("", 2, 9), ("", 2, 9)] + big, [], big)
    before = sorted(t.read(spark).collect())
    t.compact_data_files(spark, target_file_bytes=8192)
    check({"operation": "replace", "added-data-files": "2",
           "added-records": "4", "deleted-data-files": "2",
           "deleted-records": "4", "total-data-files": "3",
           "total-records": "3004", "compaction-input-files": "2"},
          [(0, True, 2, 4, 0, 0, 0, 0, 0, 0),
           (0, True, 0, 0, 1, 3000, 0, 0, 0, -1),
           (0, True, 0, 0, 0, 0, 2, 4, 0, -2)],
          big + [("compact-", 2, 11), ("compact-", 2, 11)], [], [])
    assert sorted(t.read(spark).collect()) == before


@pytest.mark.parametrize("op", ["add_columns", "tag_snapshot", "drop_ref"])
def test_metadata_commits_refuse_a_racing_commit(spark, tmp_path,
                                                 monkeypatch, op):
    """add_columns / tag_snapshot / drop_ref publish on the metadata they
    read: a commit landing right after that read must fail their CAS
    instead of being erased from the republished metadata."""
    from pyspark.sql.types import StringType, StructField, StructType

    t = _mktable(spark, tmp_path, "race")
    sid = t.write_dataframe(_df(spark, 0, 5))
    t.tag_snapshot("keep")
    other = IcebergTable(t.location)
    real = t._current_version
    raced = []

    def racing_version():
        v = real()
        if not raced:  # another writer appends right after the first read
            raced.append(other.commit_append([]))
        return v

    monkeypatch.setattr(t, "_current_version", racing_version)
    call = {
        "add_columns": lambda: t.add_columns(
            StructType([StructField("extra", StringType())])),
        "tag_snapshot": lambda: t.tag_snapshot("v1", sid),
        "drop_ref": lambda: t.drop_ref("keep"),
    }[op]
    with pytest.raises(RuntimeError, match="concurrent Iceberg commit"):
        call()
    monkeypatch.undo()
    assert raced[0] in {s["snapshot-id"] for s in t.snapshots()}
    assert t.current_snapshot_id == raced[0]


def _two_commit_table(spark, tmp_path):
    t = IcebergTable(str(tmp_path / "w"), schema=_pdf(spark, []).schema,
                     partition_by=["p"])
    t.write_dataframe(_pdf(spark, range(6)))
    t.write_dataframe(_pdf(spark, range(6, 10)))
    return t


def _files_under(path):
    return sorted(os.path.join(r, n) for r, _, ns in os.walk(path)
                  for n in ns)


def _rows(spark, t):
    return {r.k: r.s for r in t.read(spark).collect()}


_WRITERS = {
    "write_dataframe": lambda spark, t: t.write_dataframe(
        _pdf(spark, [20, 21], "w")),
    "compact_data_files": lambda spark, t: t.compact_data_files(
        spark, target_file_bytes=1 << 30),
    "upsert": lambda spark, t: t.upsert(
        spark, _pdf(spark, [0, 21], "u"), ["k"]),
    "delete_keys": lambda spark, t: t.delete_keys(
        spark, spark.createDataFrame([(2,)], "k long"), ["k"]),
    "delete_where": lambda spark, t: t.delete_where(spark, "k = 3"),
    "overwrite_partitions": lambda spark, t: t.overwrite_partitions(
        _pdf(spark, [101], "o"), {"p": 1}),
}


@pytest.mark.parametrize("writer", sorted(_WRITERS))
def test_writer_removes_its_files_when_the_commit_fails(
        spark, tmp_path, monkeypatch, writer):
    """A commit that fails before its metadata is published (here: the
    CAS publish raises) leaves no data or delete file behind in data/,
    whichever writer staged them, and the table reads as before."""
    t = _two_commit_table(spark, tmp_path)
    files, rows = _files_under(t.data_dir), _rows(spark, t)

    def refuse(meta, base_version):
        raise RuntimeError("injected publish failure")

    monkeypatch.setattr(t, "_publish", refuse)
    with pytest.raises(RuntimeError, match="injected publish failure"):
        _WRITERS[writer](spark, t)
    monkeypatch.undo()
    assert _files_under(t.data_dir) == files
    assert _rows(spark, t) == rows


@pytest.mark.parametrize("writer", ["write_dataframe", "upsert"])
@pytest.mark.parametrize("point", ["manifest", "manifest_list", "link"])
def test_commit_core_crash_points(spark, tmp_path, monkeypatch, writer,
                                  point):
    """A crash at each step of the commit core.  Before the link (after a
    manifest write, after the manifest-list write) the table is unchanged
    and ``remove_orphan_files`` deletes exactly the leftovers; after the
    link, before the version-hint update, the snapshot is committed: the
    version scan-up finds it, every file it references stays, and the
    next commit lands on the version after it."""
    import time as _time

    t = _two_commit_table(spark, tmp_path)
    rows, sid0 = _rows(spark, t), t.current_snapshot_id
    v0, files0 = t._current_version(), _files_under(t.location)
    if writer == "write_dataframe":
        want = {**rows, 20: "w20", 21: "w21"}
    else:
        want = {**rows, 0: "u0", 21: "u21"}

    def crash(what):
        raise RuntimeError(f"crash {what}")

    if point == "manifest":
        real_write_manifest = t._write_manifest

        def write_manifest(*args, **kwargs):
            real_write_manifest(*args, **kwargs)
            crash("after a manifest write")

        monkeypatch.setattr(t, "_write_manifest", write_manifest)
    elif point == "manifest_list":
        monkeypatch.setattr(t, "_publish", lambda meta, base_version: crash(
            "after the manifest-list write"))
    else:
        real_replace = os.replace

        def replace(src, dst):
            if dst.endswith("version-hint.text"):
                crash("after os.link, before the version-hint update")
            return real_replace(src, dst)

        monkeypatch.setattr(os, "replace", replace)
    with pytest.raises(RuntimeError, match="crash"):
        _WRITERS[writer](spark, t)
    monkeypatch.undo()

    if point != "link":
        assert t.current_snapshot_id == sid0
        assert _rows(spark, t) == rows
        leftovers = sorted(set(_files_under(t.location)) - set(files0))
        assert leftovers
        future = int(_time.time() * 1000) + 60_000
        got = t.remove_orphan_files(older_than_ms=future)
        assert _files_under(t.location) == files0
        assert got == {
            "data_files": sum(p.startswith(t.data_dir) for p in leftovers),
            "metadata_files": sum(p.startswith(t.metadata_dir)
                                  for p in leftovers),
            "tmp_files": 0}
    else:
        assert t._current_version() == v0 + 1
        assert t.current_snapshot_id != sid0
        assert all(os.path.exists(f.file_path)
                   for f in t.plan_files() + t.plan_delete_files())
        assert _rows(spark, t) == want
    sid = t.write_dataframe(_pdf(spark, [30], "n"))
    assert t.current_snapshot_id == sid
    assert t._current_version() == v0 + (2 if point == "link" else 1)
