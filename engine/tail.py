"""Snapshot-tail streaming source: follow an Iceberg table's commit log as
a Structured Streaming source, via the public PySpark 4 Python Data Source
API (``pyspark.sql.datasource``).

This is the live streaming analogue of the reference's Hudi/offline "pull
changes since commit" seam (``base/FeatureGroupCommit.java`` pagination +
the incremental read in ``engine/store.py pull_changes``) — but as a LIVE
source: the stream keeps delivering as new snapshots commit, instead of a
one-shot batch diff.  It is the one way an Iceberg topic is streamed
(engine/streams.py ``read_clip_source``), and it

- plans from MANIFESTS, never a directory listing — uncommitted /
  half-written files are invisible, and any partition spec, any prune and
  concurrent writers mid-stream are all fine;
- follows NEW commits while running — the 10^12-clip deployment shape is
  "producer keeps committing, features keep flowing";
- carries exact per-batch lineage: offsets are ``{snapshot-id, files
  consumed within it}``, so every micro-batch maps to a provable slice of
  the table's append log (the per-partition lineage the north rule asks
  for lives in the offset log itself);
- prunes partitions at the manifest level (``partition_filter`` option),
  reusing :meth:`IcebergTable.normalize_partition_filter` — no data file
  is opened for non-matching partitions.

It takes six options (:data:`OPTIONS`) and refuses any other:
``location`` and ``progress_dir`` (both required), ``max_files_per_trigger``
(pacing, default 1), ``partition_filter``, ``exclude_columns`` and
``include_file_path``.  A stream always starts at the table's first
snapshot and is paced by file count alone.

Semantics are Iceberg's *incremental append scan* (same as
:meth:`IcebergTable.append_log` / ``incremental_files``): appends and an
upsert's NEW rows are delivered; compaction/replace snapshots deliver
nothing (rewritten bytes, not new rows); equality-delete retractions are
the downstream store's resolution concern.

Scale shape: ``latestOffset``/``partitions`` run on the driver and touch
only table METADATA (one JSON + the manifest Avro files — the same reads
batch planning does); each data file becomes one :class:`InputPartition`
read on an EXECUTOR via pyarrow and yielded as Arrow record batches, so a
micro-batch's read parallelism equals its file count and rows never pass
through per-row Python.

Exactly-once across restarts: Spark's offset log replays a pending batch
as ``partitions(start, end)`` with both offsets from the checkpoint — a
pure function of the append log, so replay is bit-identical.  The one
hole in the Python API is that a RESTARTED reader's ``latestOffset``
doesn't know the checkpointed position and could hand Spark an offset
*behind* it (Spark compares offsets only for equality), planning batches
whose end precedes their start.  The REQUIRED ``progress_dir`` option
closes it: the reader persists its high-water offset atomically BEFORE
returning it from ``latestOffset``, so a fresh reader resumes
at-or-ahead of anything Spark ever saw — at-or-ahead is safe, because
batches are planned as offset RANGES from Spark's own log (nothing is
skipped, the next batch is just larger), and a regressing range is
refused loudly by ``partitions`` as a canary.  Pass a directory that
lives and dies with the query's checkpoint dir.
"""
from __future__ import annotations

import json
import os
import uuid
from typing import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from engine.iceberg import TAIL_EXPIRY_WATERMARK_PROP

SOURCE_NAME = "iceberg_tail"

#: every option the source reads; any other is refused
OPTIONS = ("location", "max_files_per_trigger", "partition_filter",
           "progress_dir", "exclude_columns", "include_file_path")

#: offset schema: files of ancestry snapshots up to and including ``snap``
#: are consumed, except ``snap``'s files beyond the first ``pos``.
#: ``snap == 0`` means "before the first snapshot".
_ZERO = {"snap": 0, "pos": 0}


def _arrow_type(iceberg_type):
    """Iceberg type (schema-JSON form) → pyarrow type, for null-padding
    columns added by schema evolution after a data file was written."""
    import pyarrow as pa

    if isinstance(iceberg_type, dict):
        kind = iceberg_type.get("type")
        if kind == "list":
            return pa.list_(_arrow_type(iceberg_type["element"]))
        if kind == "map":
            return pa.map_(_arrow_type(iceberg_type["key"]),
                           _arrow_type(iceberg_type["value"]))
        if kind == "struct":
            return pa.struct([
                pa.field(f["name"], _arrow_type(f["type"]))
                for f in iceberg_type["fields"]])
        raise ValueError(
            f"cannot null-pad evolved column of type {iceberg_type!r}")
    scalar = {
        "boolean": pa.bool_(), "int": pa.int32(), "long": pa.int64(),
        "float": pa.float32(), "double": pa.float64(),
        "string": pa.string(), "binary": pa.binary(),
        "date": pa.date32(),
        "timestamptz": pa.timestamp("us", tz="UTC"),
        "timestamp": pa.timestamp("us"),
    }
    if iceberg_type in scalar:
        return scalar[iceberg_type]
    if iceberg_type.startswith("decimal("):
        p, s = iceberg_type[len("decimal("):-1].split(",")
        return pa.decimal128(int(p), int(s))
    raise ValueError(f"unknown iceberg type {iceberg_type!r}")


def _truthy(v) -> bool:
    return str(v).lower() in ("1", "true", "yes") if v is not None else False


def _checked_options(options) -> dict:
    """Options with lower-cased names (Spark passes a case-insensitive
    map). A name outside :data:`OPTIONS` raises, so a caller setting an
    option the source does not read fails instead of streaming with
    pacing or a start point it did not ask for; so does a missing
    ``location`` or ``progress_dir``."""
    opts = {k.lower(): v for k, v in options.items()}
    unknown = sorted(set(opts) - set(OPTIONS))
    if unknown:
        raise ValueError(
            f"iceberg_tail: unsupported option(s) {unknown}; "
            f"the supported options are {list(OPTIONS)}")
    if not opts.get("location"):
        raise ValueError("iceberg_tail requires a location option")
    if not opts.get("progress_dir"):
        # without the sidecar, a RESTARTED reader's rate-limited
        # latestOffset lands behind Spark's checkpointed position and
        # every subsequent batch plan fails the regress guard — the
        # stream can never resume. Refuse up front instead of wedging
        # at the first restart.
        raise ValueError(
            "iceberg_tail needs a progress_dir (tie it to the query's "
            "checkpoint dir)")
    return opts


def _projected_columns(schema_json: dict, options: dict) -> list:
    """(name, iceberg-type) pairs after the exclude_columns projection —
    source-level column pruning (a Python data source gets no Catalyst
    pushdown, so heavy payload columns must be dropped HERE to stay out of
    the parquet read and the Arrow hop entirely)."""
    excluded = {c.strip() for c in
                (options.get("exclude_columns") or "").split(",") if c.strip()}
    names = {f["name"] for f in schema_json["fields"]}
    bad = excluded - names
    if bad:
        raise ValueError(f"exclude_columns not in table schema: {sorted(bad)}")
    return [(f["name"], f["type"]) for f in schema_json["fields"]
            if f["name"] not in excluded]


class _FilePartition(InputPartition):
    """One committed data file = one read task. Carries the expected
    (name, iceberg-type) column list so executors can pad columns a
    pre-evolution file lacks and emit batches in schema order."""

    def __init__(self, path: str, columns: list, include_path: bool = False):
        self.path = path
        self.columns = columns
        self.include_path = include_path


def offset_index(log: list, off: dict) -> int:
    """Offset ``{"snap", "pos"}`` → global position in a flattened append
    log (``IcebergTable.append_log`` result). Public seam shared by the
    reader and lineage tooling (engine/lineage.py)."""
    snap, pos = off["snap"], off["pos"]
    if snap == 0:
        return 0
    i = 0
    for sid, files in log:
        if sid == snap:
            if pos > len(files):
                raise ValueError(
                    f"offset {off} beyond snapshot {snap}'s "
                    f"{len(files)} added files")
            return i + pos
        i += len(files)
    raise ValueError(
        f"offset snapshot {snap} not in table history — expired past "
        "the stream's position? raise the snapshot retention window")


def _parse_filter(raw: str | None) -> dict | None:
    """JSON filter option → plan_files-style filter dict: scalar =
    equality, list = in-list, {"lo":…,"hi":…} = inclusive range."""
    if not raw:
        return None
    obj = json.loads(raw)
    if not isinstance(obj, dict):
        raise ValueError("partition_filter must be a JSON object")
    out = {}
    for col, cond in obj.items():
        if isinstance(cond, dict):
            if set(cond) != {"lo", "hi"}:
                raise ValueError(
                    f"range filter for {col!r} needs exactly lo and hi")
            cond = (cond["lo"], cond["hi"])
        out[col] = cond
    return out


class IcebergTailReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        options = _checked_options(options)
        self._loc = options["location"]
        self._max_files = int(options.get("max_files_per_trigger", 1) or 1)
        if self._max_files < 1:
            raise ValueError("max_files_per_trigger must be >= 1")
        self._flt = _parse_filter(options.get("partition_filter"))
        os.makedirs(options["progress_dir"], exist_ok=True)
        self._progress = os.path.join(
            options["progress_dir"], "tail-progress.json")
        self._columns = _projected_columns(
            self._table().schema_json(), options)
        self._include_path = _truthy(options.get("include_file_path"))
        self._cur: dict | None = None  # high-water offset handed to Spark

    # -- append-log bookkeeping (driver-side, metadata-only) ---------------

    def _table(self):
        # fresh instance per refresh: IcebergTable caches metadata JSON,
        # and the whole point of a tail is seeing NEW commits
        from engine.iceberg import IcebergTable

        return IcebergTable(self._loc)

    def _log(self) -> list:
        # two-level cache: an idle poll is ONE version-hint read (cache
        # keyed by metadata version), and a commit costs only the NEW
        # snapshots' manifest reads — a committed snapshot's added-file
        # set is immutable, so per-snapshot lists are reused by id.
        # Without this, a snapshot-per-micro-batch table would pay
        # O(history) manifest I/O per trigger (quadratic over the
        # stream's lifetime).
        t = self._table()
        v = t._current_version()
        cached = getattr(self, "_log_cache", None)
        if cached is not None and cached[0] == v:
            return cached[1]
        flt = t.normalize_partition_filter(self._flt)
        old = dict(getattr(self, "_files_by_sid", {}))
        by_sid = {}
        seq_by_sid = {}
        log = []
        for s in t._ancestry():
            sid = s["snapshot-id"]
            files = old.get(sid)
            if files is None:
                files = t.snapshot_added_files(s, flt)
            by_sid[sid] = files
            seq_by_sid[sid] = s.get("sequence-number")
            log.append((sid, files))
        # rebuilt from ancestry: expired snapshots drop out of the cache
        self._files_by_sid = by_sid
        self._seq_by_sid = seq_by_sid
        wm = (t.metadata().get("properties") or {}).get(
            TAIL_EXPIRY_WATERMARK_PROP)
        self._expiry_watermark = int(wm) if wm is not None else None
        self._log_cache = (v, log)
        return log

    _index_of = staticmethod(offset_index)

    def _offset_at(self, log: list, idx: int) -> dict:
        if idx == 0:
            return dict(_ZERO)
        i = 0
        for sid, files in log:
            if idx <= i + len(files):
                pos = idx - i
                off = {"snap": sid, "pos": pos}
                seq = self._seq_by_sid.get(sid)
                if seq is not None:
                    # resume provenance: lets a future restart prove, via
                    # the table's expiry watermark, that this offset can
                    # be safely remapped after its snapshot ages out
                    off["seq"] = seq
                    off["eof"] = pos == len(files)
                return off
            i += len(files)
        raise ValueError(f"index {idx} beyond append log ({i} files)")

    def _resolve_index(self, log: list, off: dict,
                       allow_expired_remap: bool = False) -> int:
        """``offset_index`` plus the one safe recovery: an offset whose
        snapshot EXPIRED out of the retained history remaps to the start
        of the retained log iff that is provably lossless —

        - the offset sits at the END of its snapshot's added files
          (``eof``: nothing of its own snapshot was still owed),
        - its sequence number is at or past the table's expiry watermark
          (every expired data-appending snapshot was at-or-before the
          stream's position, so everything still owed is retained), and
        - every retained log snapshot is NEWER than the offset (guards a
          progress_dir pointed at a different table's history).

        ``allow_expired_remap`` is set only where remapping is sound: the
        resume base in ``latestOffset`` and a replayed batch's START.  A
        replayed batch's END stays strict — if the batch's own rows aged
        out before the sink committed them, that is real loss and must
        fail loudly, never plan as an empty range."""
        try:
            return self._index_of(log, off)
        except ValueError:
            snap = off.get("snap")
            if (not allow_expired_remap or not off.get("eof")
                    or off.get("seq") is None
                    or any(sid == snap for sid, _ in log)):
                raise
            wm = self._expiry_watermark
            seqs = [self._seq_by_sid.get(sid) for sid, _ in log]
            if (wm is not None and off["seq"] >= wm
                    and all(s is not None and s > off["seq"]
                            for s in seqs)):
                return 0
            raise ValueError(
                f"offset {off} references an expired snapshot, and the "
                f"table's expiry watermark (last expired data-appending "
                f"sequence number: {wm}) cannot prove the stream already "
                "delivered everything that aged out — appended data "
                "expired past the stream's position. Raise the snapshot "
                "retention window (expire_snapshots retain_last / "
                "older_than_ms) above the stream's worst-case downtime, "
                "or restart from a fresh checkpoint accepting the gap.")

    def _persisted(self) -> dict | None:
        if os.path.exists(self._progress):
            with open(self._progress) as f:
                return json.load(f)
        return None

    def _persist(self, off: dict) -> None:
        tmp = f"{self._progress}.{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "w") as f:
            json.dump(off, f)
        os.replace(tmp, self._progress)

    # -- DataSourceStreamReader protocol ------------------------------------

    def initialOffset(self) -> dict:
        return dict(_ZERO)

    def latestOffset(self) -> dict:
        log = self._log()
        # _cur and the sidecar advance together, so only a reader's first
        # call reads the persisted high-water offset
        base = self._cur or self._persisted() or self.initialOffset()
        cur_idx = self._resolve_index(log, base, allow_expired_remap=True)
        n_files = sum(len(files) for _, files in log)
        new_idx = min(n_files, cur_idx + self._max_files)
        off = self._offset_at(log, new_idx)
        if new_idx != cur_idx:
            self._persist(off)
        self._cur = off
        return off

    def partitions(self, start: dict, end: dict
                   ) -> Sequence[InputPartition]:
        log = self._log()
        i0 = self._resolve_index(log, start, allow_expired_remap=True)
        i1 = self._resolve_index(log, end)
        if i1 < i0:
            raise ValueError(
                f"regressing batch range: start {start} is past end {end} "
                "— the reader lost its high-water position (progress_dir "
                "wiped, reused across different checkpoints, or shared by "
                "two queries?)")
        flat = [f for _, files in log for f in files]
        return [_FilePartition(f.file_path, self._columns,
                               self._include_path)
                for f in flat[i0:i1]]

    def read(self, partition: InputPartition) -> Iterator:
        """Executor-side: one parquet data file → Arrow record batches in
        table-schema order, null-padding evolved columns — rows never pass
        through per-row Python."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(partition.path)  # one footer read for both
        file_cols = set(pf.schema_arrow.names)
        want_names = [n for n, _ in partition.columns]
        tbl = pf.read(columns=[n for n in want_names if n in file_cols])
        arrays, names = [], []
        for name, ityp in partition.columns:
            names.append(name)
            if name in tbl.column_names:
                col = tbl.column(name)
                try:
                    want = _arrow_type(ityp)
                except ValueError:
                    want = None  # nested struct/map: pass through as-read
                if want is not None and col.type != want:
                    # parquet readers surface ns timestamps / width
                    # variants; Spark's Arrow bridge wants the exact
                    # schema() types (e.g. us precision)
                    col = col.cast(want)
                arrays.append(col)
            else:
                arrays.append(pa.nulls(len(tbl), type=_arrow_type(ityp)))
        if partition.include_path:
            names.append("__file_path")
            arrays.append(pa.array([partition.path] * len(tbl),
                                   type=pa.string()))
        yield from pa.Table.from_arrays(arrays, names=names).to_batches()

    def commit(self, end: dict) -> None:
        # progress is persisted in latestOffset BEFORE Spark sees the
        # offset — by commit time it is already durable
        pass


class IcebergTailDataSource(DataSource):
    """``spark.readStream.format("iceberg_tail").option("location", path)``
    — see module docstring. Its six options, any other refused:
    ``location`` (required), ``max_files_per_trigger`` (default 1),
    ``partition_filter`` (JSON: scalar / list / {"lo","hi"}),
    ``progress_dir`` (REQUIRED restart-safety sidecar — pass a dir tied
    to the query's checkpoint), ``exclude_columns`` (CSV — source-level
    column pruning, keeps heavy payloads out of the parquet read
    entirely), ``include_file_path`` (append the backing data file's path
    as a ``__file_path`` string column — the payload-direct decode
    pattern, engine/audio.py extract_audio_features_direct)."""

    @classmethod
    def name(cls) -> str:
        return SOURCE_NAME

    def schema(self) -> str:
        from engine.iceberg import IcebergTable, iceberg_schema_to_ddl

        options = _checked_options(self.options)
        cols = _projected_columns(
            IcebergTable(options["location"]).schema_json(), options)
        ddl = iceberg_schema_to_ddl({"fields": [
            {"name": n, "type": t} for n, t in cols]})
        if _truthy(options.get("include_file_path")):
            ddl += ", __file_path string"
        return ddl

    def streamReader(self, schema) -> IcebergTailReader:
        return IcebergTailReader(dict(self.options))


def register_tail_source(spark) -> None:
    """Idempotent per-session registration of the ``iceberg_tail`` format."""
    spark.dataSource.register(IcebergTailDataSource)
