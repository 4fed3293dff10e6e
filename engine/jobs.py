"""spark-submit entry points (SURVEY.md §3.1-3.2 analogues).

The reference ships two jobs in one jar (``pom.xml:250`` mainClass plus
``SimProducer``): a paced synthetic producer and the windowed-aggregate
consumer, launched on a cluster from the Hopsworks UI (``README.md:10-28``).
Our equivalents are subcommands of this module, launched either as

    python -m engine.jobs <cmd> ...                      (local dev)
    spark-submit --master ... --py-files engine.zip \
        scripts/run_job.py <cmd> ...                     (cluster)

Subcommands
-----------
producer   write the clip topic: a deterministic synthetic audio+transcript
           table as a new Iceberg v2 table whose append snapshots carry
           the shards in arrival order — SimProducer analogue.
pipeline   rate-controlled snapshot-tail stream of the clip topic →
           [decode + features] → watermark →
           keyed window aggregate → exactly-once sink —
           TransactionFraudExample analogue. The job is one call to
           ``engine.streams.run_window_pipeline``, the one builder of the
           flagship: it prunes the heavy columns the stages do not read,
           decodes payload-direct (``--features speech`` in-frame), places
           the watermark and builds the sink. ``--stateful`` switches the
           aggregation from the built-in ``window()`` operator to the custom
           applyInPandasWithState store; ``--iceberg-sink`` commits Iceberg
           snapshots instead of the parquet+ledger sink.
join       dual-stream stateful join: clip features ⋈ transcript features
           keyed by clip_id (north rule J6).

Each job prints ONE JSON line with row counts, elapsed time, throughput, and
the sink audit, so cluster runs at different parallelism can be compared
directly (scaling-efficiency evidence, BASELINE.md).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def _add_common(p: argparse.ArgumentParser) -> None:
    p.add_argument("--cores", type=int, default=None,
                   help="local[N] threads; ignored under spark-submit --master")
    p.add_argument("--shuffle-partitions", type=int, default=None)


def cmd_producer(args) -> dict:
    from engine.streams import write_clips_iceberg

    t0 = time.time()
    try:
        table = write_clips_iceberg(
            args.out, args.n_clips, n_files=args.n_files, seed=args.seed,
            files_per_snapshot=args.files_per_snapshot,
            jitter_ms=args.jitter_ms, max_dur_ms=args.max_dur_ms,
            mean_gap_ms=args.mean_gap_ms, partition_by=args.partition_by,
        )
    except ValueError as e:  # an existing topic, a bad --partition-by term
        raise SystemExit(f"producer: {e}") from None
    return {
        "job": "producer", "out": args.out, "clips": args.n_clips,
        "files": args.n_files, "iceberg_snapshots": len(table.snapshots()),
        "partitioned": bool(args.partition_by),
        "elapsed_sec": round(time.time() - t0, 3),
    }


def _open_topic(clips):
    """The clip topic at ``clips``; a path that holds no Iceberg table
    exits with a usage error before anything is created."""
    from engine.iceberg import IcebergTable

    try:
        return IcebergTable(clips)
    except ValueError as e:
        raise SystemExit(
            f"--clips: {e} (write a clip topic with `jobs producer`)"
        ) from None


def _partition_filter(table, args) -> dict | None:
    """The ``--day``/``--day-range``/``--partition`` pruning filter for the
    clip topic ``table``, validated as CLI input: each failure exits with a
    usage error, and so does a filter that matches no committed file
    (streaming zero rows would look like success)."""
    if not (args.day or args.day_range or args.partition):
        return None
    flt = {}
    if args.day or args.day_range:
        day_fields = [f["name"] for f in table.spec_fields()
                      if f.get("transform") == "day"]
        if not day_fields:
            raise SystemExit(
                f"topic {table.location!r} has no days() partition field "
                f"(spec: {[f['name'] for f in table.spec_fields()]})")
        flt[day_fields[0]] = (tuple(args.day_range) if args.day_range
                              else args.day)
    # coerce by the table's PARTITION VALUE types — a blind int() would
    # turn an identity-string value like speaker '123' into an int that
    # matches nothing
    ptypes = table._partition_col_types()
    for term in args.partition or ():
        if "=" not in term:
            raise SystemExit(f"--partition needs FIELD=VALUE, got {term!r}")
        k, v = term.split("=", 1)
        t_ = ptypes.get(k)  # unknown field → normalize raises
        if t_ in ("int", "long"):
            try:
                v = int(v)  # ordinals / identity ints
            except ValueError:
                pass  # ISO strings for time transforms
        elif t_ in ("float", "double"):
            try:
                v = float(v)
            except ValueError:
                raise SystemExit(
                    f"--partition {term!r}: {k} is a {t_} partition field, "
                    f"{v!r} is not a number") from None
        flt[k] = v
    if not table.plan_files(partition_filter=flt):
        raise SystemExit(
            f"partition filter {flt!r} matches no committed file of "
            f"{table.location!r} — nothing to stream")
    return flt


def _finish_stream_job(spark, sink, t0: float, inputs, rows_key: str) -> dict:
    """Count the input and committed rows of a drained streaming job
    started at ``t0``, audit its sink, stop the session, and return those
    fields with the throughput."""
    elapsed = time.time() - t0
    n_in = inputs.count()
    audit = sink.audit()
    try:
        out_rows = sink.read_committed(spark).count()
    except ValueError:  # legitimately empty input → zero committed batches
        out_rows = 0
    spark.stop()
    return {
        "input_clips": n_in, rows_key: out_rows,
        "elapsed_sec": round(elapsed, 3),
        "clips_per_sec": round(n_in / elapsed, 1),
        "exactly_once": audit["consistent"] and audit["unique_batch_ids"],
        "n_batches": audit["n_batches"],
    }


def cmd_pipeline(args) -> dict:
    from engine.iceberg import IcebergSink
    from engine.session import get_spark
    from engine.streams import clip_features, run_window_pipeline

    # --day / --day-range / --partition turn the run into a pruned
    # streamed backfill that plans only the matching partitions' files.
    table = _open_topic(args.clips)
    day_filter = _partition_filter(table, args)
    spark = get_spark("pipeline", cores=args.cores,
                      shuffle_partitions=args.shuffle_partitions)
    features = args.features if args.decode else None
    inputs = table.read(spark, partition_filter=day_filter)
    if features:
        # Spawn python workers + compile codegen before the clock starts, so
        # sustained throughput is measured, not JVM/worker cold start.
        clip_features(inputs.limit(256), features) \
            .write.format("noop").mode("overwrite").save()

    t0 = time.time()
    _, sink = run_window_pipeline(
        spark, table, args.out,
        args.checkpoint or os.path.join(args.out, "_checkpoint"),
        window_kind=args.window, width=args.width, slide=args.slide,
        gap=args.gap, key_col=args.key, value_col=args.value,
        watermark=args.watermark,
        max_files_per_trigger=args.max_files_per_trigger, features=features,
        stateful=args.stateful, n_buckets=args.n_buckets,
        partition_filter=day_filter,
        sink=IcebergSink(args.out) if args.iceberg_sink else None,
    )
    return {
        "job": "pipeline", "window": args.window, "stateful": args.stateful,
        "day_filter": {k: str(v) for k, v in day_filter.items()} if day_filter else None,
        "decode": args.decode,
        **_finish_stream_job(spark, sink, t0, inputs, "output_rows"),
    }


def cmd_join(args) -> dict:
    from engine.session import get_spark
    from engine.streams import run_join_pipeline

    table = _open_topic(args.clips)
    spark = get_spark("join", cores=args.cores,
                      shuffle_partitions=args.shuffle_partitions)
    ckpt = args.checkpoint or os.path.join(args.out, "_checkpoint")
    t0 = time.time()
    _, sink = run_join_pipeline(
        spark, table, args.out, ckpt, watermark=args.watermark,
        ttl=args.ttl, max_files_per_trigger=args.max_files_per_trigger,
    )
    inputs = table.read(spark)
    return {"job": "join",
            **_finish_stream_job(spark, sink, t0, inputs, "joined_rows")}


def cmd_serve(args) -> dict:
    """Online point-lookup serving (S7, ``VectorServer`` analogue) against a
    pipeline/backfill output: latest window row per key (ties broken on
    commit order, so re-backfills supersede older rows) — the CLI twin of
    ``featureView.getFeatureVector``.  A batch-written row (``jobs
    backfill``) beats a streamed row for the same key and window, because
    batch-namespace ids (``engine.sink.BATCH_ID_BASE`` up) sort above
    stream micro-batch ids.  One batch lookup serves all keys; misses are
    reported per key, not fatal."""
    from engine.serving import VectorServer
    from engine.session import get_spark
    from engine.sink import ParquetLedgerSink

    spark = get_spark("serve", cores=args.cores,
                      shuffle_partitions=args.shuffle_partitions)
    try:
        sink = ParquetLedgerSink(args.table, create=False)
        raw = [k for k in args.keys.split(",") if k != ""]
        try:
            online = sink.read_committed(spark, with_batch_id=True)
        except ValueError:
            # table exists but has no committed batches yet
            return {"job": "serve", "n_keys": len(set(raw)), "vectors": [],
                    "missing_keys": list(dict.fromkeys(raw))}

        # parse key values according to the key column's actual type
        key_type = dict(online.dtypes).get(args.key)
        cast = (int if key_type in ("tinyint", "smallint", "int", "bigint")
                else float if key_type in ("float", "double") else str)
        keys = []
        for k in raw:
            try:
                keys.append(cast(k))
            except ValueError:
                raise SystemExit(
                    f"--keys: {args.key} column has type {key_type}, {k!r} is "
                    "not a number") from None
        keys = list(dict.fromkeys(keys))  # dedupe, keep order

        # newest-row order: event/window ts when the table has one (pipeline
        # outputs), else commit order alone (e.g. the join pipeline's output)
        ts_col = getattr(args, "ts_col", None) or (
            "window_start" if "window_start" in online.columns else None
        )
        if ts_col is not None and ts_col not in online.columns:
            raise SystemExit(
                f"--ts-col {ts_col!r} not in table columns {online.columns}"
            )
        rows = {}
        if keys:
            server = VectorServer([("serve", online, [args.key])], ts_col=ts_col)
            found = server.get_feature_vectors(
                spark, [{args.key: k} for k in keys])
            cols = [c for c in online.columns if c != "batch_id"]
            rows = {r[args.key]: r.asDict()
                    for r in found.select(*cols).collect()}
    finally:
        spark.stop()
    vectors, missing = [], []
    for k in keys:
        if k in rows:
            v = rows[k]
            for kk, vv in list(v.items()):
                if hasattr(vv, "isoformat"):
                    v[kk] = vv.isoformat()
            vectors.append(v)
        else:
            missing.append(k)
    return {"job": "serve", "n_keys": len(keys), "vectors": vectors,
            "missing_keys": missing}


def cmd_backfill(args) -> dict:
    """Batch backfill of the windowed feature groups from the historical clip
    table (the reference's backfill job, ``README.md:26-28``): same aggregate
    as the streaming pipeline, committed as one exactly-once ledger batch per
    width, in the sinks' batch id namespace, so time travel and serving read
    a consistent snapshot and a stream into the same table keeps its own
    ids."""
    from engine.session import get_spark
    from engine.sink import ParquetLedgerSink
    from engine.windows import multi_width_aggs

    table = _open_topic(args.clips)
    spark = get_spark("backfill", cores=args.cores,
                      shuffle_partitions=args.shuffle_partitions)
    t0 = time.time()
    clips = table.read(spark)
    widths = tuple(w.strip() for w in args.widths.split(",") if w.strip())
    aggs = multi_width_aggs(clips, "event_ts", args.key, args.value, widths=widths)
    out_rows = {}
    for lbl, agg in aggs.items():
        sink = ParquetLedgerSink(os.path.join(args.out, lbl),
                                 event_ts_col="window_start")
        sink.write_batch(agg, sink.next_batch_id())
        out_rows[lbl] = sink.audit()["ledger_rows"]
    n_in = clips.count()
    spark.stop()
    return {
        "job": "backfill", "input_clips": n_in, "widths": list(out_rows),
        "rows_per_width": out_rows, "elapsed_sec": round(time.time() - t0, 3),
    }


def cmd_changes(args) -> dict:
    """CDC tail of a sink table's commit ledger: print one JSON line per
    committed batch (exactly-once across restarts via the checkpoint —
    ``ParquetLedgerSink.stream_committed``); the CLI twin of
    ``FeatureStore.stream_changes``."""
    from engine.session import get_spark
    from engine.sink import ParquetLedgerSink

    spark = get_spark("changes", cores=args.cores,
                      shuffle_partitions=args.shuffle_partitions)
    sink = ParquetLedgerSink(args.table, create=False)
    ckpt = getattr(args, "checkpoint", None) or os.path.join(
        args.table, "_changes_checkpoint"
    )
    delivered = []

    def on_batch(batch_df, rec):
        row = {"batch_id": rec.batch_id, "commit_ts_ms": rec.commit_ts_ms,
               "row_count": rec.row_count, "mode": rec.mode,
               "read_rows": batch_df.count()}
        delivered.append(row)
        print(json.dumps({"change": row}), flush=True)

    sink.process_commits(spark, ckpt, on_batch, await_termination=True)
    spark.stop()
    return {"job": "changes", "table": args.table,
            "n_new_commits": len(delivered),
            "rows": sum(d["read_rows"] for d in delivered)}


def cmd_maintain(args) -> dict:
    """Iceberg table maintenance: bin-pack compaction of small data files
    (REPLACE snapshot, CDC-invisible) and/or snapshot expiration with
    reference-counted file GC — the scheduled housekeeping a per-batch
    exactly-once sink needs to stay scan-efficient and disk-bounded."""
    from engine.iceberg import IcebergTable
    from engine.session import get_spark

    t = IcebergTable(args.table)
    out = {"job": "maintain", "table": args.table}
    if args.compact_target_mb:
        spark = get_spark("maintain", cores=args.cores,
                          shuffle_partitions=args.shuffle_partitions)
        pre = len(t.plan_files())
        sid = t.compact_data_files(
            spark, target_file_bytes=args.compact_target_mb * 1024 * 1024,
            min_input_files=args.min_input_files,
        )
        spark.stop()
        out["compaction"] = {
            "snapshot_id": sid, "files_before": pre,
            "files_after": len(t.plan_files()),
            "purged_delete_files": (
                int(t.snapshot(sid)["summary"].get("removed-delete-files", 0))
                if sid is not None else 0),
        }
    if args.rewrite_manifests:
        def n_manifests():
            if t.current_snapshot_id is None:
                return 0  # empty table: nothing to rewrite
            return len(t._read_manifest_list(
                t.snapshot(t.current_snapshot_id)["manifest-list"]))

        pre_m = n_manifests()
        sid = t.rewrite_manifests()
        out["manifest_rewrite"] = {
            "snapshot_id": sid, "manifests_before": pre_m,
            "manifests_after": (n_manifests() if sid is not None else pre_m),
        }
    if args.expire_older_than_ms is not None or args.retain_last is not None:
        out["expiration"] = t.expire_snapshots(
            older_than_ms=args.expire_older_than_ms,
            retain_last=args.retain_last if args.retain_last is not None else 1,
        )
    if args.remove_orphans:
        out["orphans"] = t.remove_orphan_files(
            older_than_ms=args.orphans_older_than_ms,
            dry_run=args.orphans_dry_run,
        )
    return out


def cmd_lineage(args) -> dict:
    """Per-batch provenance for a finished (or running) pipeline: the
    checkpoint offset log joined to the sink's commit records — input
    offset range (tail offsets = input-table append-log coordinates),
    plan-time watermark, output rows / output Iceberg snapshot per batch.
    Durable-metadata only: no Spark session, works after the query died."""
    from engine.iceberg import iceberg_table_at
    from engine.lineage import batch_lineage

    sink = None
    if args.sink:
        if iceberg_table_at(args.sink) is not None:
            from engine.iceberg import IcebergSink

            sink = IcebergSink(args.sink)
        else:
            from engine.sink import ParquetLedgerSink

            # create=False: a typo'd --sink path must raise, not scaffold
            # a bogus empty sink dir
            sink = ParquetLedgerSink(args.sink, create=False)
    lin = batch_lineage(args.checkpoint, sink)
    return {
        "job": "lineage", "checkpoint": args.checkpoint,
        "n_batches": len(lin),
        "completed": sum(1 for r in lin if r["completed"]),
        "batches": (lin if args.full
                    else lin[-args.last:] if args.last > 0 else []),
    }


def cmd_condition(args) -> dict:
    """Batch corpus conditioning over a documents table: quality filter ->
    exact fingerprint dedup -> deterministic sample -> overlapping token
    chunks, written as one exactly-once ledger batch so downstream training
    jobs read a consistent snapshot."""
    from pyspark.sql import functions as F

    from engine.sampling import deterministic_sample
    from engine.session import get_spark
    from engine.sink import ParquetLedgerSink
    from engine.text import chunk_documents, fingerprint, quality_score

    spark = get_spark("condition", cores=args.cores,
                      shuffle_partitions=args.shuffle_partitions)
    t0 = time.time()
    docs = spark.read.parquet(args.docs)
    n_in = docs.count()
    kept = quality_score(docs).filter(F.col("quality") >= args.min_quality)
    fp = fingerprint(kept)
    # the lowest doc_id of each fingerprint survives
    deduped = (fp.groupBy("fp")
               .agg(F.min_by(F.struct(*fp.columns), "doc_id").alias("_doc"))
               .select("_doc.*"))
    sampled = deterministic_sample(deduped, args.fraction, salt=args.salt)
    chunks = chunk_documents(sampled, args.chunk_tokens, args.overlap)
    sink = ParquetLedgerSink(args.out)
    sink.write_batch(chunks, sink.next_batch_id())
    n_out = sink.audit()["ledger_rows"]
    spark.stop()
    return {
        "job": "condition", "input_docs": n_in, "output_chunks": n_out,
        "min_quality": args.min_quality, "fraction": args.fraction,
        "chunk_tokens": args.chunk_tokens, "overlap": args.overlap,
        "elapsed_sec": round(time.time() - t0, 3),
    }


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="engine.jobs")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("producer", help="write the clip topic, a new "
                                        "Iceberg v2 table")
    p.add_argument("--out", required=True,
                   help="topic location; must not hold an Iceberg table yet")
    p.add_argument("--n-clips", type=int, default=10_000)
    p.add_argument("--n-files", type=int, default=20)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--jitter-ms", type=int, default=30_000)
    p.add_argument("--max-dur-ms", type=int, default=1000)
    p.add_argument("--partition-by", action="append", default=None,
                   metavar="TERM",
                   help="Iceberg partition terms for the topic (repeatable), "
                        "e.g. 'days(event_ts)' (the 10^12-clip deployment "
                        "shape), hours(event_ts) or 'bucket(8, speaker_id)'")
    p.add_argument("--mean-gap-ms", type=int, default=1000,
                   help="mean inter-clip gap (stretches the topic across days)")
    p.add_argument("--files-per-snapshot", type=int, default=None,
                   help="shards per append snapshot (default: all in one)")
    p.set_defaults(fn=cmd_producer)

    p = sub.add_parser("serve", help="point-lookup feature vectors from a sink table")
    p.add_argument("--table", required=True, help="sink out dir (pipeline/backfill output)")
    p.add_argument("--key", default="speaker_id")
    p.add_argument("--keys", required=True, help="comma-separated key values")
    p.add_argument("--ts-col", default=None, dest="ts_col",
                   help="event/window ts column for newest-row ordering "
                        "(default: window_start when present, else commit order)")
    _add_common(p)
    p.set_defaults(fn=cmd_serve)

    p = sub.add_parser("changes", help="CDC tail of a sink table's commit ledger")
    p.add_argument("--table", required=True, help="sink out dir to tail")
    _add_common(p)
    p.set_defaults(fn=cmd_changes)

    p = sub.add_parser("maintain", help="Iceberg maintenance: compaction + snapshot expiration")
    p.add_argument("--table", required=True, help="Iceberg table location")
    p.add_argument("--compact-target-mb", type=int, default=0,
                   help="bin-pack files below this size (0 = skip compaction)")
    p.add_argument("--min-input-files", type=int, default=2)
    p.add_argument("--expire-older-than-ms", type=int, default=None,
                   help="expire snapshots older than this epoch-ms bound")
    p.add_argument("--retain-last", type=int, default=None,
                   help="always keep the N newest snapshots (enables expiration)")
    p.add_argument("--rewrite-manifests", action="store_true",
                   help="consolidate the manifest list (metadata-only; "
                        "planning-cost lever for long-running sink topics)")
    p.add_argument("--remove-orphans", action="store_true",
                   help="delete unreferenced files (crashed-write leftovers)")
    p.add_argument("--orphans-older-than-ms", type=int, default=None,
                   help="orphan mtime cutoff (default: now - 3 days)")
    p.add_argument("--orphans-dry-run", action="store_true",
                   help="list orphans without deleting")
    p.add_argument("--cores", type=int, default=8)
    p.add_argument("--shuffle-partitions", type=int, default=None)
    p.set_defaults(fn=cmd_maintain)

    p = sub.add_parser("lineage", help="per-batch provenance: checkpoint "
                                       "offset log joined to sink commits")
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--sink", default=None,
                   help="sink location (ledger dir or Iceberg table) to "
                        "join output-side facts")
    p.add_argument("--last", type=int, default=5,
                   help="show only the last N batches (default 5)")
    p.add_argument("--full", action="store_true", help="show every batch")
    p.set_defaults(fn=cmd_lineage)

    p = sub.add_parser("condition", help="corpus conditioning: quality -> dedup -> sample -> chunk")
    p.add_argument("--docs", required=True, help="documents parquet path")
    p.add_argument("--out", required=True, help="sink dir (chunks + ledger)")
    p.add_argument("--min-quality", type=float, default=0.6)
    p.add_argument("--fraction", type=float, default=1.0)
    p.add_argument("--salt", default="cond")
    p.add_argument("--chunk-tokens", type=int, default=64)
    p.add_argument("--overlap", type=int, default=16)
    _add_common(p)
    p.set_defaults(fn=cmd_condition)

    p = sub.add_parser("backfill", help="batch backfill of windowed feature groups")
    p.add_argument("--clips", required=True, help="clip topic (producer output)")
    p.add_argument("--out", required=True)
    p.add_argument("--widths", default="10 minutes,1 hour,12 hours")
    p.add_argument("--key", default="speaker_id")
    p.add_argument("--value", default="dur_ms")
    _add_common(p)
    p.set_defaults(fn=cmd_backfill)

    for name, fn in (("pipeline", cmd_pipeline), ("join", cmd_join)):
        p = sub.add_parser(name)
        p.add_argument("--clips", required=True,
                       help="clip topic (producer output), streamed "
                            "through the snapshot tail")
        p.add_argument("--out", required=True, help="sink dir (data + ledger)")
        p.add_argument("--checkpoint", default=None)
        p.add_argument("--watermark", default="60 seconds")
        p.add_argument("--max-files-per-trigger", type=int, default=4)
        _add_common(p)
        if name == "pipeline":
            p.add_argument("--window", choices=("tumbling", "sliding", "session"),
                           default="tumbling")
            p.add_argument("--width", default="10 minutes")
            p.add_argument("--slide", default="5 minutes")
            p.add_argument("--gap", default="2 minutes")
            p.add_argument("--key", default="speaker_id")
            p.add_argument("--value", default="dur_ms")
            p.add_argument("--stateful", action="store_true",
                           help="use the custom applyInPandasWithState store")
            p.add_argument("--n-buckets", type=int, default=None,
                           help="key-coarsened state layout bucket count "
                                "(for high-cardinality keys)")
            p.add_argument("--decode", action="store_true",
                           help="decode PCM (vectorized) and aggregate rms "
                                "(f0_hz for speech) instead of --value")
            p.add_argument("--features", choices=("basic", "spectral", "speech"),
                           default="basic",
                           help="acoustic feature set computed after decode; "
                                "basic/spectral read payloads straight from "
                                "parquet (the JVM scans metadata only), "
                                "speech decodes the bytes in the frame")
            p.add_argument("--iceberg-sink", action="store_true",
                           help="commit results as Iceberg v2 snapshots "
                                "instead of the parquet+ledger sink")
            p.add_argument("--day", default=None,
                           help="day-pruned streamed backfill: replay only "
                                "this day (ISO date or epoch-day int) of a "
                                "days(event_ts)-partitioned Iceberg topic")
            p.add_argument("--day-range", nargs=2, default=None,
                           metavar=("FROM", "TO"),
                           help="inclusive day range for the streamed backfill")
            p.add_argument("--partition", action="append", default=None,
                           metavar="FIELD=VALUE",
                           help="generic pruned-backfill filter on any "
                                "partition field (repeatable; composes with "
                                "--day), e.g. event_ts_hour=2024-01-01T06:00 "
                                "or speaker_id_bucket=c42")
        else:
            p.add_argument("--ttl", default="10 minutes")
        p.set_defaults(fn=fn)
    return ap


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)
    result = args.fn(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
