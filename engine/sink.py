"""Exactly-once foreachBatch sink with a commit ledger + per-partition lineage.

The reference's sink is a Kafka producer at AT_LEAST_ONCE
(``flink/engine/FlinkEngine.writeDataStream``, ``FlinkEngine.java:80-95``,
guarantee at :94). The north rule upgrades this to **exactly-once idempotent**
delivery: Spark's ``foreachBatch`` re-runs batches after recovery with the same
``batchId``, so exactly-once = "commit each batchId at most once, and skip
a committed one only when it is that query's own replay".

Commit protocol (SURVEY.md §4.2):

1. ``foreachBatch(df, batch_id)`` → if ``_ledger/<batch_id>.json`` exists, the
   one replay rule of both sinks (:func:`replay_committed`) decides: the
   streaming query that committed the batch replays it as a **no-op**
   (restart after a crash); any other writer raises. Commits made outside
   a stream take ids from ``next_batch_id`` (``BATCH_ID_BASE`` up).
2. Otherwise write the batch's rows to ``data/.tmp-<batch_id>`` as parquet,
   collect per-partition metrics (file, row count, event-time min/max) from the
   written files' parquet footers (no second job over the data),
3. atomically ``rename`` the temp dir to ``data/batch_id=<batch_id>/``,
4. atomically publish the ledger record (write-to-temp + ``rename``) with the
   batch's lineage: writing query, input files, per-partition metrics.

Readers (:func:`read_committed`) list the ledger first and read only data
directories with a published record, so a crash between (3) and (4) leaves at
most an invisible orphan directory that the replay overwrites.

The ledger doubles as the reference's commit log (``FeatureGroupUtils
.getCommitDetails``, ``base/engine/FeatureGroupUtils.java:148-172``) and feeds
time travel: each committed row set carries ``commit_ts`` usable by
``Query.as_of``.

Scale: on a real cluster this sink is one atomic metadata operation per
micro-batch (``IcebergSink`` in engine/iceberg.py runs this protocol with
a snapshot commit in place of the JSON record). Data volume flows
through executor-side parquet
writes, the driver only touches footers + one small JSON.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections.abc import Iterable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

#: Commits made outside any stream (``FeatureStore.insert``, ``jobs
#: backfill``, ``jobs condition``) number from here up; a streaming query
#: numbers its micro-batches from 0, so the two never meet on one id.
BATCH_ID_BASE = 1 << 40


def streaming_query_id(batch_df: DataFrame) -> str | None:
    """Id of the streaming query whose ``foreachBatch`` is writing
    ``batch_df`` — persisted in the checkpoint, so it is the same across
    restarts of one query and new for a fresh checkpoint — or None outside
    a stream. Sinks record it with each batch (see
    :func:`replay_committed`)."""
    return batch_df.sparkSession.sparkContext.getLocalProperty(
        "sql.streaming.queryId")


def next_batch_id(committed: Iterable[int]) -> int:
    """The id for a commit made outside any stream to a sink holding the
    ``committed`` batch ids: one above the highest id in the batch
    namespace (``BATCH_ID_BASE`` on a sink with none)."""
    return max((b for b in committed if b >= BATCH_ID_BASE),
               default=BATCH_ID_BASE - 1) + 1


def replay_committed(out: str, batch_id: int, recorded_query: str | None,
                     batch_df: DataFrame) -> bool:
    """The replay rule of both exactly-once sinks, for a ``batch_id`` that
    sink ``out`` already holds from ``recorded_query`` (None: written
    outside any stream).

    Only the streaming query that committed the batch replays it: it still
    runs the frame, into ``noop`` — a stateful query's state stores commit
    only when the batch's plan executes, and Spark refuses to go on from a
    batch whose stores never committed — and returns False. Every other
    writer raises, because skipping its batch would silently drop its rows:
    another query (a reused output with a fresh checkpoint restarts batch
    ids at 0), a write outside any stream, or a stream meeting a batch
    written outside one."""
    query_id = streaming_query_id(batch_df)
    if query_id is None or query_id != recorded_query:
        def writer(q):
            return (f"streaming query {q}" if q
                    else "a write outside any streaming query")

        raise RuntimeError(
            f"sink {out!r} already has batch {batch_id} from "
            f"{writer(recorded_query)}, not {writer(query_id)} — reusing an "
            "output dir with a new checkpoint? Point the query at a fresh "
            "out_dir or reuse the original checkpoint; a write outside a "
            "stream takes its id from the sink's next_batch_id().")
    batch_df.write.format("noop").mode("overwrite").save()
    return False


@dataclass
class LedgerRecord:
    batch_id: int
    commit_ts_ms: int
    row_count: int
    partitions: list[dict]
    lineage: dict
    #: "append" | "upsert" | "overwrite" (``base/SaveMode.java:20-24``;
    #: Hudi op mapping ``base/HudiOperationType.java:20-23``). Resolution is
    #: snapshot-style at read time: an overwrite commit hides earlier batches,
    #: an upsert commit makes the newest visible row per primary key win.
    mode: str = "append"

    def to_json(self) -> str:
        return json.dumps(
            {
                "batch_id": self.batch_id,
                "commit_ts_ms": self.commit_ts_ms,
                "row_count": self.row_count,
                "partitions": self.partitions,
                "lineage": self.lineage,
                "mode": self.mode,
            },
            sort_keys=True,
        )


class ParquetLedgerSink:
    """Idempotent exactly-once parquet sink (Iceberg-commit-shaped protocol)."""

    def __init__(self, out_dir: str, event_ts_col: str | None = None,
                 create: bool = True):
        self.out_dir = out_dir
        self.data_dir = os.path.join(out_dir, "data")
        self.ledger_dir = os.path.join(out_dir, "_ledger")
        self.event_ts_col = event_ts_col
        if create:
            os.makedirs(self.data_dir, exist_ok=True)
            os.makedirs(self.ledger_dir, exist_ok=True)
        elif not os.path.isdir(self.ledger_dir):
            raise FileNotFoundError(
                f"no sink table at {out_dir!r} (missing {self.ledger_dir})"
            )

    # -- commit protocol ----------------------------------------------------
    def _ledger_path(self, batch_id: int) -> str:
        return os.path.join(self.ledger_dir, f"{batch_id:020d}.json")

    def _batch_dir(self, batch_id: int) -> str:
        return os.path.join(self.data_dir, f"batch_id={batch_id}")

    def next_batch_id(self) -> int:
        """The id for a commit made outside any stream
        (:func:`next_batch_id`), read from the ledger's file names."""
        return next_batch_id(int(n[:-5]) for n in os.listdir(self.ledger_dir)
                             if n.endswith(".json"))

    def write_batch(
        self, batch_df: DataFrame, batch_id: int, mode: str = "append"
    ) -> bool:
        """The foreachBatch body. Returns False when the batch was a replay
        (:func:`replay_committed`)."""
        if mode not in ("append", "upsert", "overwrite"):
            raise ValueError(f"unknown save mode {mode!r}")
        if os.path.exists(self._ledger_path(batch_id)):
            with open(self._ledger_path(batch_id)) as fh:
                recorded = json.load(fh)["lineage"].get("query_id")
            return replay_committed(self.out_dir, batch_id, recorded, batch_df)
        tmp = os.path.join(self.data_dir, f".tmp-{batch_id}-{uuid.uuid4().hex[:8]}")
        final = self._batch_dir(batch_id)
        # input files are lineage only: a snapshot-tail batch has none
        files = sorted(batch_df.inputFiles())
        lineage = {"input_files": files, "num_input_files": len(files)}
        query_id = streaming_query_id(batch_df)
        if query_id:
            lineage["query_id"] = query_id
        batch_df.write.mode("overwrite").parquet(tmp)
        partitions = self._partition_metrics(tmp)
        row_count = sum(p["row_count"] for p in partitions)
        if os.path.exists(final):  # orphan from a crash before ledger publish
            shutil.rmtree(final)
        os.rename(tmp, final)
        rec = LedgerRecord(
            batch_id=int(batch_id),
            commit_ts_ms=int(time.time() * 1000),
            row_count=row_count,
            partitions=partitions,
            lineage=lineage,
            mode=mode,
        )
        # dot-prefixed tmp name: hidden from Spark's file listing, so the CDC
        # ledger stream (stream_committed) can never observe a half-written
        # record or double-read tmp + final for one commit
        ltmp = os.path.join(
            self.ledger_dir, f".{batch_id:020d}.json.tmp-{uuid.uuid4().hex[:8]}"
        )
        with open(ltmp, "w") as fh:
            fh.write(rec.to_json())
        os.rename(ltmp, self._ledger_path(batch_id))
        return True

    def foreach_batch(self, mode: str = "append"):
        """Callable for ``writeStream.foreachBatch``."""

        def fn(batch_df: DataFrame, batch_id: int) -> None:
            self.write_batch(batch_df, batch_id, mode=mode)

        return fn

    # -- per-partition metrics (lineage requirement, V3/T7) ------------------
    def _partition_metrics(self, written_dir: str) -> list[dict]:
        """Read row counts + event-time ranges from parquet footers only."""
        import pyarrow.parquet as pq

        out = []
        parquet_files = sorted(
            n for n in os.listdir(written_dir) if n.endswith(".parquet")
        )
        for i, name in enumerate(parquet_files):
            md = pq.read_metadata(os.path.join(written_dir, name))
            stats = {"partition_id": i, "file": name, "row_count": md.num_rows}
            if self.event_ts_col:
                lo, hi = None, None
                for rg in range(md.num_row_groups):
                    g = md.row_group(rg)
                    for ci in range(g.num_columns):
                        col = g.column(ci)
                        if col.path_in_schema == self.event_ts_col and col.statistics:
                            s = col.statistics
                            if s.has_min_max:
                                lo = s.min if lo is None else min(lo, s.min)
                                hi = s.max if hi is None else max(hi, s.max)
                if lo is not None:
                    stats["min_event_ts"] = str(lo)
                    stats["max_event_ts"] = str(hi)
            out.append(stats)
        return out

    # -- read / audit ---------------------------------------------------------
    def committed_batches(self) -> list[LedgerRecord]:
        recs = []
        for name in sorted(os.listdir(self.ledger_dir)):
            if not name.endswith(".json"):
                continue
            with open(os.path.join(self.ledger_dir, name)) as fh:
                d = json.load(fh)
            recs.append(LedgerRecord(**d))
        return recs

    def read_committed(
        self,
        spark: SparkSession,
        with_batch_id: bool = False,
        batch_ids: list[int] | None = None,
        schema=None,
    ) -> DataFrame:
        """Read exactly the committed rows (ledger-listed batch dirs).

        ``with_batch_id=True`` appends the commit's ``batch_id`` column —
        needed when later commits supersede earlier rows for the same key
        (latest-row serving must tie-break on commit order).
        ``batch_ids`` restricts the scan to those commits (save-mode
        visibility / time travel). ``schema`` pins the reader schema — batches
        written before a schema-evolution append then surface the appended
        columns as nulls without a mergeSchema scan."""
        pairs = [
            (r.batch_id, self._batch_dir(r.batch_id))
            for r in self.committed_batches()
            if batch_ids is None or r.batch_id in set(batch_ids)
        ]
        pairs = [(b, d) for b, d in pairs if os.path.exists(d)]
        if not pairs:
            raise ValueError(
                f"sink table {self.out_dir!r} has no committed batches"
            )
        dirs = [d for _, d in pairs]
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)
        if not with_batch_id:
            return reader.parquet(*dirs)
        # the layout is hive-partitioned (data/batch_id=N/); basePath makes
        # one scan yield the batch_id partition column — no per-dir unions
        if schema is not None:
            from pyspark.sql import types as T

            reader = spark.read.schema(
                T.StructType(list(schema) + [T.StructField("batch_id", T.LongType())])
            )
        return reader.option("basePath", self.data_dir).parquet(*dirs)

    #: core ledger-record schema for the CDC stream (extra JSON fields in a
    #: record — partitions, lineage — are ignored by the reader)
    LEDGER_STREAM_DDL = (
        "batch_id long, commit_ts_ms long, row_count long, mode string"
    )

    def stream_committed(self, spark: SparkSession) -> DataFrame:
        """CDC/incremental read: a STREAM of commit records
        (``readStream.json`` over the ledger directory).

        Exactly-once by construction: ledger files appear only via atomic
        rename *after* their data directory is in place (write_batch), so a
        record's batch is always fully readable the moment the stream sees
        it, each commit is one immutable file, and Spark's file source tracks
        seen files in the checkpoint. This is the ``pullChanges``/
        Iceberg-incremental-read analogue for continuous consumers.
        """
        return (
            spark.readStream.schema(self.LEDGER_STREAM_DDL)
            .json(self.ledger_dir)
        )

    def process_commits(self, spark: SparkSession, checkpoint_dir: str,
                        process_fn, await_termination: bool = False):
        """Run ``process_fn(batch_df, ledger_record_row)`` per committed
        batch, in commit order within a trigger. Resume from checkpoint picks
        up the unseen commits.

        Delivery is **at-least-once per commit record**: ``foreachBatch``
        re-runs a whole micro-batch after a mid-trigger failure, re-invoking
        ``process_fn`` for ledger records the failed attempt already handled.
        ``process_fn`` must therefore be idempotent keyed by
        ``rec.batch_id`` (e.g. upsert by batch_id, or journal processed ids
        before side effects). Exactly-once holds for the *ledger contents*
        (each commit record is observed by exactly one successful trigger);
        it is the callback's side effects that need the idempotency key."""

        def on_batch(records_df: DataFrame, _epoch: int) -> None:
            for rec in sorted(records_df.collect(), key=lambda r: r.batch_id):
                d = self._batch_dir(rec.batch_id)
                if not os.path.isdir(d):  # overwritten-orphan edge: skip
                    continue
                process_fn(records_df.sparkSession.read.parquet(d), rec)

        q = (
            self.stream_committed(spark)
            .writeStream.outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(on_batch)
            .start()
        )
        if await_termination:
            q.processAllAvailable()
            q.stop()
        return q

    def audit(self) -> dict:
        """Exactly-once audit: every batch_id committed at most once, ledger
        row counts equal data-file row counts (no dupes, no gaps)."""
        recs = self.committed_batches()
        ids = [r.batch_id for r in recs]
        import pyarrow.parquet as pq

        data_rows, missing_dirs = 0, 0
        for r in recs:
            d = self._batch_dir(r.batch_id)
            if not os.path.isdir(d):
                missing_dirs += 1
                continue
            for name in os.listdir(d):
                if name.endswith(".parquet"):
                    data_rows += pq.read_metadata(os.path.join(d, name)).num_rows
        return {
            "n_batches": len(ids),
            "unique_batch_ids": len(set(ids)) == len(ids),
            "ledger_rows": sum(r.row_count for r in recs),
            "data_rows": data_rows,
            "missing_dirs": missing_dirs,
            "consistent": (
                missing_dirs == 0
                and data_rows == sum(r.row_count for r in recs)
            ),
        }
