"""Rate-controlled streaming read of the clip table + pipeline assembly.

Replaces the reference's Kafka source chain (``KafkaSource`` + Avro decode,
``TransactionFraudExample.java:52-57``; paced producer
``TransactionEventSimulator.java:27,55`` at 1 batch / 5 ms) with Structured
Streaming over the clip topic, an Iceberg table (:func:`write_clips_iceberg`
writes it). It has one source, the snapshot tail (engine/tail.py,
:func:`read_clip_stream_tail`; :func:`read_clip_source` is the flagship's
pruned form of it): offsets are (snapshot, position) points in the table's
commit log, files are planned from manifests, partition filters prune at
the manifest level, and commits made while the query runs keep flowing.
The checkpoint tracks those offsets, so kill/restart resumes exactly (T3).

The flagship job mirrors ``TransactionFraudExample.run`` (:33-77): source
→ optional feature stage → event-time watermark (60 s) → keyed
tumbling/sliding/session window aggregate → exactly-once sink. It is
assembled in one place, :func:`run_window_pipeline`.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from engine.sink import ParquetLedgerSink
from engine.windows import session_agg, sliding_agg, tumbling_agg

#: The clip table's columns: the one definition that the producer's
#: parquet schema and :data:`CLIP_SCHEMA_DDL` derive from.
CLIP_SCHEMA = T.StructType([
    T.StructField("clip_id", T.StringType()),
    T.StructField("bytes", T.BinaryType()),
    T.StructField("sr_hz", T.IntegerType()),
    T.StructField("dur_ms", T.IntegerType()),
    T.StructField("codec", T.StringType()),
    T.StructField("transcript", T.StringType()),
    T.StructField("event_ts", T.TimestampType()),
    T.StructField("speaker_id", T.LongType()),
])

CLIP_SCHEMA_DDL = ", ".join(
    f"{f.name} {f.dataType.simpleString()}" for f in CLIP_SCHEMA.fields)


def _partition_values(pdf, spec: list[tuple]) -> dict:
    """Partition-value columns for one shard pdf, per the table's spec
    fields. ``spec``: [(field_name, transform, source_col, param)] — the
    producer-side twin of ``IcebergTable._partition_exprs`` (numpy instead
    of Spark columns; same transforms, same values)."""
    import numpy as np

    from engine.iceberg import bucket_value, truncate_value

    out = {}
    for field, transform, source, param in spec:
        if transform in ("year", "month", "day", "hour"):
            unit = {"year": "Y", "month": "M", "day": "D", "hour": "h"}[transform]
            out[field] = (
                pdf[source].to_numpy()
                .astype(f"datetime64[{unit}]").astype("int64")
            )
        elif transform == "identity":
            out[field] = pdf[source].to_numpy()
        elif transform == "bucket":
            src = pdf[source]
            if src.dtype.kind in "iu":
                from engine.iceberg import _murmur3_32_long_np

                h = _murmur3_32_long_np(src.to_numpy().astype(np.int64))
                out[field] = (h.astype(np.int64) & 0x7FFFFFFF) % param
            else:
                out[field] = np.array([
                    bucket_value(v, "string", param) for v in src])
        elif transform == "truncate":
            src = pdf[source]
            kind = "long" if src.dtype.kind in "iu" else "string"
            out[field] = np.array([
                truncate_value(v, kind, param) for v in src])
        else:
            raise ValueError(f"unknown partition transform {transform!r}")
    return out


def _write_clip_shard(args) -> list[tuple[str, dict | None]]:
    """One producer shard: generate [start, start+n) deterministically and
    write one parquet file per partition tuple under ``__p_field=value/``
    dirs (the Iceberg partitioned layout); with no partition ``spec`` the
    shard is one file with partition None. Top-level so multiprocessing
    can pickle it. Returns [(path, partition_dict_or_None)]."""
    dir_path, i, start, n, seed, kw, spec = args
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from engine.synth import make_clips_pdf

    pdf = make_clips_pdf(n, seed=seed, start_index=start, **kw)
    schema = to_arrow_schema(CLIP_SCHEMA, timestamp_utc=False)
    groups = [((), pdf)]
    if spec:
        import pandas as _pd

        pvals = _partition_values(pdf, spec)
        key = _pd.MultiIndex.from_arrays(
            [pvals[f] for f, *_ in spec], names=[f for f, *_ in spec])
        groups = sorted(pdf.groupby(key, sort=True), key=lambda kv: str(kv[0]))
    written: list[tuple[str, dict | None]] = []
    for j, (tup, g) in enumerate(groups):
        tup = tup if isinstance(tup, tuple) else (tup,)
        part = {f: (v.item() if hasattr(v, "item") else v)
                for (f, *_), v in zip(spec, tup)} or None
        sub = os.path.join(
            dir_path, *[f"__p_{f}={v}" for f, v in (part or {}).items()])
        os.makedirs(sub, exist_ok=True)
        out = os.path.join(sub, f"part-{i:05d}-{j:03d}.parquet")
        table = pa.Table.from_pandas(
            g.reset_index(drop=True), schema=schema, preserve_index=False)
        pq.write_table(table, out)
        written.append((out, part))
    return written


def write_clips_iceberg(
    location: str, n_clips: int, n_files: int = 20, seed: int = 42,
    files_per_snapshot: int | None = None, parallelism: int | None = None,
    partition_by: list[str] | None = None,
    **kw,
):
    """The clip topic: the clip + transcript table as an Iceberg v2 table
    (north rule: "reads an Iceberg table of audio clip + transcript
    pairs"); producer job, ``SimProducer.java:24-47``.

    ``n_clips`` are generated as ``n_files`` producer shards in parallel
    processes; each shard's rng derives from ``(seed, start_index)``
    (engine.synth.make_clips_pdf), so the bytes do not depend on
    ``parallelism``. The shards land in the table's ``data/`` dir and
    metadata commits group them ``files_per_snapshot`` at a time into
    append snapshots, in arrival order (the basename order, shard then
    partition group; event order, since event_ts is monotone in the
    global clip index). Batch readers plan via manifests
    (``IcebergTable.read``); the rate-controlled stream tails the same
    commits via :func:`read_clip_stream_tail`. Returns the
    ``IcebergTable``. A ``location`` that already holds an Iceberg table
    is refused with ``ValueError``: writing shards under its snapshots
    would corrupt them.

    ``partition_by`` (e.g. ``["days(event_ts)"]`` — the 10^12-clip topic's
    deployment shape; identity/bucket/truncate terms also accepted) lays
    the topic out partitioned: producer shards split per partition tuple
    into ``__p_field=value/`` subdirs, manifests carry the typed partition
    values, and both the batch reader and the stream can day-prune
    (reference analogue: the partition-key feature flag,
    ``base/Feature.java:40-136``)."""
    import pyarrow.parquet as pq

    from engine.iceberg import (
        DataFileInfo,
        IcebergTable,
        file_column_bounds,
        iceberg_table_at,
    )

    if iceberg_table_at(location) is not None:
        raise ValueError(
            f"{location!r} already holds an Iceberg table; write the clip "
            "topic to a new location")
    table = IcebergTable(location, schema=CLIP_SCHEMA,
                         partition_by=partition_by)
    schema_fields = table.schema_json()["fields"]
    schema_by_id = {f["id"]: f for f in schema_fields}
    spec = []
    for f in table.spec_fields():
        tr = f.get("transform", "identity")
        if tr.startswith("bucket["):
            transform, param = "bucket", int(tr[len("bucket["):-1])
        elif tr.startswith("truncate["):
            transform, param = "truncate", int(tr[len("truncate["):-1])
        else:
            transform, param = tr, None
        spec.append((f["name"], transform,
                     schema_by_id[f["source-id"]]["name"], param))

    chunk = (n_clips + n_files - 1) // n_files
    tasks = [(table.data_dir, i, i * chunk, min(chunk, n_clips - i * chunk),
              seed, kw, spec)
             for i in range(n_files) if i * chunk < n_clips]
    if parallelism is None:
        parallelism = min(len(tasks), max(1, (os.cpu_count() or 4) // 2))
    if parallelism <= 1 or len(tasks) <= 1:
        shards = [_write_clip_shard(t) for t in tasks]
    else:
        import multiprocessing as mp

        with mp.Pool(parallelism) as pool:
            shards = pool.map(_write_clip_shard, tasks)
    entries = sorted((e for shard in shards for e in shard),
                     key=lambda e: os.path.basename(e[0]))

    per_snap = files_per_snapshot or len(entries) or 1
    for i in range(0, len(entries), per_snap):
        infos = []
        for p, part in entries[i:i + per_snap]:
            lower, upper = file_column_bounds(p, schema_fields)
            infos.append(DataFileInfo(
                file_path=p,
                record_count=pq.read_metadata(p).num_rows,
                file_size_in_bytes=os.path.getsize(p),
                partition=part,
                lower_bounds=lower or None,
                upper_bounds=upper or None,
            ))
        table.commit_append(infos)
    return table


def read_clip_stream_tail(
    spark: SparkSession,
    table,
    max_files_per_trigger: int = 1,
    watermark: str = "60 seconds",
    ts_col: str = "event_ts",
    partition_filter: dict | None = None,
    progress_dir: str | None = None,
    exclude_columns: list[str] | None = None,
    include_file_path: bool = False,
) -> DataFrame:
    """Clip stream over an Iceberg topic via the SNAPSHOT-TAIL source
    (engine/tail.py): plans from manifests (uncommitted files are
    invisible), follows commits made WHILE the query runs, prunes
    partitions at the manifest level, and records exact per-batch lineage
    as (snapshot, position) offsets.  ``progress_dir`` is required and
    should live with the query's checkpoint dir (restart-safety high-water
    sidecar; ``load()`` fails without it);
    ``partition_filter`` uses plan_files semantics (tuples OK — they are
    carried as JSON ranges)."""
    import json as _json

    from engine.iceberg import IcebergTable
    from engine.tail import register_tail_source

    if isinstance(table, str):
        table = IcebergTable(table)
    register_tail_source(spark)
    reader = (spark.readStream.format("iceberg_tail")
              .option("location", table.location)
              .option("max_files_per_trigger", str(max_files_per_trigger)))
    if partition_filter:
        flt = {c: ({"lo": v[0], "hi": v[1]}
                   if isinstance(v, tuple) and len(v) == 2 else
                   list(v) if isinstance(v, (set, frozenset)) else v)
               for c, v in partition_filter.items()}
        reader = reader.option("partition_filter", _json.dumps(flt))
    if progress_dir:
        reader = reader.option("progress_dir", progress_dir)
    if exclude_columns:
        reader = reader.option("exclude_columns", ",".join(exclude_columns))
    if include_file_path:
        reader = reader.option("include_file_path", "true")
    stream = reader.load()
    if watermark is not None:
        stream = stream.withWatermark(ts_col, watermark)
    return stream


def read_clip_source(
    spark: SparkSession,
    clips,
    progress_dir: str,
    max_files_per_trigger: int = 1,
    partition_filter: dict | None = None,
    reads=(),
    include_file_path: bool = False,
) -> DataFrame:
    """The un-watermarked clip stream over the clip topic ``clips`` (an
    ``IcebergTable`` or its location), through
    :func:`read_clip_stream_tail`, keeping its restart high-water sidecar in
    ``progress_dir`` (give it a dir that lives with the query's
    checkpoint).

    Of the heavy columns (``bytes``, ``transcript``) only those in ``reads``
    (the columns the downstream stage reads) are shipped: a Python data
    source gets no Catalyst column pruning. ``include_file_path`` adds the
    backing file's path as ``__file_path``, which payload-direct decode
    reads."""
    exclude = sorted({"bytes", "transcript"} - set(reads))
    return read_clip_stream_tail(
        spark, clips, max_files_per_trigger=max_files_per_trigger,
        watermark=None, partition_filter=partition_filter,
        progress_dir=progress_dir, exclude_columns=exclude or None,
        include_file_path=include_file_path)


def clip_features(df: DataFrame, features: str) -> DataFrame:
    """The flagship's feature stage over a clip frame: ``basic`` or
    ``spectral`` acoustic features decoded payload-direct (``df`` carries
    ``__file_path`` or is parquet-backed), or ``speech`` features decoded
    from the ``bytes`` in the frame."""
    from engine.audio import (
        extract_audio_features_direct,
        extract_speech_features,
    )

    if features == "speech":
        return extract_speech_features(df)
    if features not in ("basic", "spectral"):
        raise ValueError(f"unknown feature set {features!r}")
    return extract_audio_features_direct(df, spectral=features == "spectral")


def run_window_pipeline(
    spark: SparkSession,
    clips,
    out_dir: str,
    checkpoint_dir: str,
    window_kind: str = "tumbling",
    width: str = "10 minutes",
    slide: str = "5 minutes",
    gap: str = "30 seconds",
    key_col: str = "speaker_id",
    value_col: str = "dur_ms",
    watermark: str = "60 seconds",
    max_files_per_trigger: int = 1,
    features: str | None = None,
    stateful: bool = False,
    n_buckets: int | None = None,
    partition_filter: dict | None = None,
    await_termination: bool = True,
    sink=None,
):
    """The flagship streaming job (TransactionFraudExample analogue) and the
    one place it is assembled: clip source → [feature stage] → watermark →
    keyed window aggregate → exactly-once sink. ``jobs pipeline``,
    ``bench.py`` and :func:`run_multi_width_pipeline` call it.

    ``clips`` is the clip topic (see :func:`read_clip_source`;
    ``partition_filter`` prunes it).
    ``features`` (``basic``/``spectral``/``speech``) decodes each clip and
    aggregates its ``rms`` (speech: ``f0_hz``) instead of ``value_col``.
    ``stateful`` uses the applyInPandasWithState window store
    (``n_buckets`` as in :func:`engine.state.stateful_window_agg`).
    ``sink`` replaces the default ``ParquetLedgerSink`` with any object of
    the same protocol (e.g. ``engine.iceberg.IcebergSink``).

    Decided here, not by callers: the source ships ``bytes`` only to the
    speech stage and ``transcript`` to none; basic/spectral decode
    payload-direct (bytes go disk → Python, never through the JVM), speech
    in-frame; the watermark goes right before a built-in aggregate — on the
    source, or after the feature stage — and the stateful operator owns it.

    Returns (StreamingQuery, sink); with ``await_termination`` the query is
    drained and stopped.
    """
    if window_kind not in ("tumbling", "sliding", "session"):
        raise ValueError(f"unknown window kind {window_kind}")
    src = read_clip_source(
        spark, clips, os.path.join(checkpoint_dir, "_tail_progress"),
        max_files_per_trigger=max_files_per_trigger,
        partition_filter=partition_filter,
        reads={key_col, value_col} | ({"bytes"} if features == "speech"
                                      else set()),
        include_file_path=features in ("basic", "spectral"))
    if features:
        src = clip_features(src, features)
        value_col = "f0_hz" if features == "speech" else "rms"
    if stateful:
        from engine.state import stateful_session_agg, stateful_window_agg

        if window_kind == "session":
            agg = stateful_session_agg(
                src, "event_ts", key_col, value_col, gap,
                watermark=watermark, n_buckets=n_buckets)
        else:
            agg = stateful_window_agg(
                src, "event_ts", key_col, value_col, width,
                slide=slide if window_kind == "sliding" else None,
                watermark=watermark, n_buckets=n_buckets)
    else:
        src = src.withWatermark("event_ts", watermark)
        if window_kind == "tumbling":
            agg = tumbling_agg(src, "event_ts", key_col, value_col, width)
        elif window_kind == "sliding":
            agg = sliding_agg(src, "event_ts", key_col, value_col, width,
                              slide)
        else:
            agg = session_agg(src, "event_ts", key_col, value_col, gap)

    if sink is None:
        sink = ParquetLedgerSink(out_dir, event_ts_col="window_start")
    q = (
        agg.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink.foreach_batch())
        .start()
    )
    if await_termination:
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        q.awaitTermination()
    return q, sink


def run_multi_width_pipeline(
    spark: SparkSession,
    clips,
    out_root: str,
    checkpoint_root: str,
    widths: tuple[str, ...] = ("10 minutes", "1 hour", "12 hours"),
    key_col: str = "speaker_id",
    value_col: str = "dur_ms",
    watermark: str = "60 seconds",
    max_files_per_trigger: int = 4,
    await_termination: bool = True,
):
    """W4: the reference's three parallel feature groups (10m/1h/12h) fed from
    ONE clip topic — one :func:`run_window_pipeline` query per width, each
    with its own state, checkpoint and sink under ``<root>/<width label>``,
    like the three ``card_transactions_*_agg`` groups in the setup notebook
    (cells 4, 10-13). When one width fails to start or drain, every query
    already started is stopped before the error propagates.

    Returns {width_label: (query, sink)}.
    """
    from engine.windows import width_label

    out = {}
    leave_running = False
    try:
        for w in widths:
            lbl = width_label(w)
            out[lbl] = run_window_pipeline(
                spark, clips, os.path.join(out_root, lbl),
                os.path.join(checkpoint_root, lbl), width=w, key_col=key_col,
                value_col=value_col, watermark=watermark,
                max_files_per_trigger=max_files_per_trigger,
                await_termination=False)
        if await_termination:
            for q, _ in out.values():
                q.processAllAvailable()
        leave_running = not await_termination
    finally:
        if not leave_running:
            for q, _ in out.values():
                q.stop()
    return out


def transcript_features(df: DataFrame) -> DataFrame:
    """Transcript-side feature extraction — pure JVM built-ins (no Python):
    token count (whitespace split) + character count per clip."""
    return df.select(
        "clip_id",
        "event_ts",
        F.size(F.split(F.col("transcript"), r"\s+")).alias("n_tokens"),
        F.length("transcript").alias("n_chars"),
    )


def run_join_pipeline(
    spark: SparkSession,
    clips,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "60 seconds",
    ttl: str = "10 minutes",
    max_files_per_trigger: int = 1,
    await_termination: bool = True,
    n_buckets: int | None = 128,
):
    """North-rule J6 pipeline: clip-feature stream ⋈ transcript-feature stream,
    keyed by ``clip_id``, state in the custom applyInPandasWithState store
    (engine.state_join.stateful_stream_join), exactly-once ledger sink.

    Both sides replay the same clip 'topic' through independent sources: side A
    decodes PCM (vectorized mapInPandas) into acoustic features; side B derives
    transcript stats JVM-side. Scale note: the union+groupBy shuffles once on
    clip_id; per-key state is bounded by the join TTL, not stream length.

    The two sides are independent snapshot tails (own
    progress sidecars), each pruned to exactly its columns at the source:
    the clip side carries ``__file_path`` instead of bytes (payload-direct
    decode), the transcript side drops bytes entirely.
    """
    from engine.state_join import stateful_stream_join

    clip_side = read_clip_source(
        spark, clips, os.path.join(checkpoint_dir, "_tail_progress_clip"),
        max_files_per_trigger=max_files_per_trigger, include_file_path=True)
    txt_side = read_clip_source(
        spark, clips, os.path.join(checkpoint_dir, "_tail_progress_txt"),
        max_files_per_trigger=max_files_per_trigger, reads={"transcript"})
    feats = (
        clip_features(clip_side, "basic")
        .select("clip_id", "event_ts", "rms", "peak", "decoded_dur_ms")
        .withWatermark("event_ts", watermark)
    )
    txts = transcript_features(txt_side).withWatermark("event_ts", watermark)

    joined = stateful_stream_join(
        feats, txts, "clip_id", "event_ts", ttl=ttl, n_buckets=n_buckets
    )
    sink = ParquetLedgerSink(out_dir, event_ts_col="left_ts")
    q = (
        joined.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink.foreach_batch())
        .start()
    )
    if await_termination:
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
    return q, sink

