"""Pure-Python Apache Iceberg v2 table format: writer, planner, sink.

The north rule targets "Iceberg tables of audio clip + transcript pairs"
with an "exactly-once foreachBatch Iceberg sink"; the reference's lake
format is the analogous Hudi seam (``base/TimeTravelFormat.java:20-23``,
``base/HudiOperationType.java:20-23``) whose commit timeline the engine
already mirrors in :mod:`engine.sink`. The Iceberg runtime jar is absent
from this sandbox, so this module implements the PUBLIC Iceberg v2 table
spec (iceberg.apache.org/spec) directly — the same way the Avro/FLAC/PNG
codecs were built from their public specs:

- **metadata.json** (``v{N}.metadata.json`` + ``version-hint.text``,
  HadoopCatalog layout): format-version 2, schemas with assigned field
  ids, partition specs, sort orders, snapshot list + log, branch refs.
  Commits are compare-and-swap: the new version file is published with
  ``os.link`` (fails if the version already exists → true optimistic
  concurrency, not last-writer-wins).
- **manifest lists** (``snap-{id}-1-{uuid}.avro``) and **manifests**
  (``{uuid}-m{i}.avro``): Avro OCF files written with the lib-free writer
  in :mod:`engine.datafiles`, using the spec's exact record shapes and
  ``field-id`` attributes (manifest_entry 0/1/3/4/2, data_file 134/100/
  101/102/103/104, manifest_file 500-519).
- **snapshot semantics**: every commit goes through one core,
  ``IcebergTable._commit_snapshot``: it pins the base metadata once,
  writes one manifest per file group, optionally carries the parent's
  manifests forward, fills the summary counters and CAS-publishes.
  append and the row deltas (``upsert``, ``delete_keys``,
  ``delete_where``) carry the parent's manifests forward; overwrite
  rewrites live entries as DELETED (status=2) with explicit data sequence
  numbers, per the v2 sequence-number inheritance rules;
  ``overwrite_partitions`` and ``commit_replace`` (compaction) restate the
  live set as ADDED/EXISTING/DELETED groups; ``rewrite_manifests``
  restates it as EXISTING entries only.  Time travel = planning any
  snapshot's manifest list; incremental read = ADDED entries of the
  snapshots in ``(from, to]``.

Scale posture: like real Iceberg, a commit is O(manifest metadata), never
O(data). Data files are written executor-side by Spark's parquet writer;
the driver only renames files, reads footers, and writes a few KB of
metadata. Planning reads one manifest list + its manifests — no directory
listing of ``data/``. The jar-based ``spark.read.format("iceberg")`` slots
in behind the same table layout when present (tables written here are
spec-layout-compatible); :meth:`IcebergTable.read` is the in-sandbox
reader, pinning the scan to exactly the planned files.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import time
import uuid
from dataclasses import dataclass
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from engine.datafiles import read_avro_ocf_bytes, write_avro_ocf_bytes

# ---------------------------------------------------------------------------
# Spark schema → Iceberg schema JSON (field ids assigned depth-first)
# ---------------------------------------------------------------------------

_SIMPLE = {
    "boolean": "boolean", "int": "int", "smallint": "int", "tinyint": "int",
    "bigint": "long", "float": "float", "double": "double",
    "string": "string", "binary": "binary", "date": "date",
    # Spark TIMESTAMP is session-TZ-adjusted (Iceberg timestamptz);
    # TIMESTAMP_NTZ is the zone-free Iceberg timestamp
    "timestamp": "timestamptz", "timestamp_ntz": "timestamp",
}


class _IdGen:
    def __init__(self, start: int = 0):
        self.last = start

    def next(self) -> int:
        self.last += 1
        return self.last


def _iceberg_type(dt, ids: _IdGen):
    """Spark DataType → Iceberg type JSON, assigning nested field ids."""
    s = dt.simpleString()
    if s in _SIMPLE:
        return _SIMPLE[s]
    if s.startswith("decimal"):
        return s  # simpleString is already "decimal(p,s)" — Iceberg's form
    tn = dt.typeName()
    if tn == "array":
        eid = ids.next()
        return {
            "type": "list", "element-id": eid,
            "element": _iceberg_type(dt.elementType, ids),
            "element-required": not dt.containsNull,
        }
    if tn == "map":
        kid, vid = ids.next(), ids.next()
        return {
            "type": "map",
            "key-id": kid, "key": _iceberg_type(dt.keyType, ids),
            "value-id": vid, "value": _iceberg_type(dt.valueType, ids),
            "value-required": not dt.valueContainsNull,
        }
    if tn == "struct":
        return {"type": "struct", "fields": _struct_fields(dt, ids)}
    raise ValueError(f"no Iceberg mapping for Spark type {s!r}")


def _struct_fields(st, ids: _IdGen) -> list[dict]:
    out = []
    for f in st.fields:
        fid = ids.next()  # field id before nested ids: depth-first pre-order
        out.append({
            "id": fid, "name": f.name, "required": not f.nullable,
            "type": _iceberg_type(f.dataType, ids),
        })
    return out


def spark_schema_to_iceberg(schema, schema_id: int = 0) -> tuple[dict, int]:
    """(Iceberg schema JSON, last-column-id) for a Spark StructType."""
    ids = _IdGen()
    fields = _struct_fields(schema, ids)
    return (
        {"schema-id": schema_id, "type": "struct", "fields": fields},
        ids.last,
    )


def iceberg_schema_to_ddl(schema: dict) -> str:
    """Iceberg schema JSON → Spark DDL (reader-side schema pin)."""

    def typ(t):
        if isinstance(t, str):
            inv = {
                "boolean": "boolean", "int": "int", "long": "bigint",
                "float": "float", "double": "double", "string": "string",
                "binary": "binary", "date": "date",
                "timestamptz": "timestamp", "timestamp": "timestamp_ntz",
            }
            if t.startswith("decimal"):
                return t
            return inv[t]
        if t["type"] == "list":
            return f"array<{typ(t['element'])}>"
        if t["type"] == "map":
            return f"map<{typ(t['key'])},{typ(t['value'])}>"
        if t["type"] == "struct":
            inner = ",".join(f"{f['name']}:{typ(f['type'])}"
                             for f in t["fields"])
            return f"struct<{inner}>"
        raise ValueError(f"unknown iceberg type {t!r}")

    return ", ".join(f"{f['name']} {typ(f['type'])}" for f in schema["fields"])


# ---------------------------------------------------------------------------
# Manifest / manifest-list Avro schemas (spec field ids)
# ---------------------------------------------------------------------------

#: manifest_entry (v2 data manifest). Optional stats maps (column_sizes,
#: value_counts, bounds, ...) are omitted — legal per Avro schema
#: resolution; planners fall back to manifest-level counts.
MANIFEST_ENTRY_SCHEMA = {
    "type": "record", "name": "manifest_entry", "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"], "default": None,
         "field-id": 1},
        {"name": "sequence_number", "type": ["null", "long"],
         "default": None, "field-id": 3},
        {"name": "file_sequence_number", "type": ["null", "long"],
         "default": None, "field-id": 4},
        {"name": "data_file", "field-id": 2, "type": {
            "type": "record", "name": "r2", "fields": [
                {"name": "content", "type": "int", "field-id": 134},
                {"name": "file_path", "type": "string", "field-id": 100},
                {"name": "file_format", "type": "string", "field-id": 101},
                # unpartitioned spec → empty partition struct
                {"name": "partition", "field-id": 102,
                 "type": {"type": "record", "name": "r102", "fields": []}},
                {"name": "record_count", "type": "long", "field-id": 103},
                {"name": "file_size_in_bytes", "type": "long",
                 "field-id": 104},
                # equality-delete key field ids (content=2 files only)
                {"name": "equality_ids", "default": None, "field-id": 135,
                 "type": ["null", {"type": "array", "items": "int",
                                   "element-id": 136}]},
                # per-column value bounds (spec Appendix D single-value
                # serialization), the metrics data-skipping lever
                {"name": "lower_bounds", "default": None, "field-id": 125,
                 "type": ["null", {"type": "array", "logicalType": "map",
                     "items": {"type": "record", "name": "k126_v127",
                         "fields": [
                             {"name": "key", "type": "int", "field-id": 126},
                             {"name": "value", "type": "bytes",
                              "field-id": 127}]}}]},
                {"name": "upper_bounds", "default": None, "field-id": 128,
                 "type": ["null", {"type": "array", "logicalType": "map",
                     "items": {"type": "record", "name": "k129_v130",
                         "fields": [
                             {"name": "key", "type": "int", "field-id": 129},
                             {"name": "value", "type": "bytes",
                              "field-id": 130}]}}]},
            ],
        }},
    ],
}

MANIFEST_FILE_SCHEMA = {
    "type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_data_files_count", "type": "int", "field-id": 504},
        {"name": "existing_data_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_data_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
        {"name": "partitions", "default": None, "field-id": 507,
         "type": ["null", {
             "type": "array", "element-id": 508, "items": {
                 "type": "record", "name": "r508", "fields": [
                     {"name": "contains_null", "type": "boolean",
                      "field-id": 509},
                     {"name": "contains_nan", "type": ["null", "boolean"],
                      "default": None, "field-id": 518},
                     {"name": "lower_bound", "type": ["null", "bytes"],
                      "default": None, "field-id": 510},
                     {"name": "upper_bound", "type": ["null", "bytes"],
                      "default": None, "field-id": 511},
                 ]}}]},
    ],
}

_STATUS_ADDED, _STATUS_EXISTING, _STATUS_DELETED = 1, 0, 2

# Table property maintained by expire_snapshots: highest sequence-number
# of any expired main-ancestry snapshot that appended data files.  The
# snapshot-tail source (engine/tail.py) uses it to resume provably-safely
# after its offset snapshot ages out of the retained history.
TAIL_EXPIRY_WATERMARK_PROP = "tail.last-expired-append-seq"
#: key tuples per equality-delete file an upsert writes: a 1k-row upsert
#: writes one file, not one per shuffle partition
EQ_DELETE_ROWS_PER_FILE = 1_000_000


@dataclass
class DataFileInfo:
    """One parquet file as tracked by the table metadata — a data file
    (content=0), a position-delete file (content=1, spec §Position Delete
    Files: its rows are (file_path, pos) pairs that mask those exact row
    ordinals in files with sequence number <= its own), or an
    equality-delete file (content=2, spec §Row-level deletes: its rows
    are key tuples that mask any matching data row with a STRICTLY
    SMALLER data sequence number)."""
    file_path: str          # absolute path (file:// URI in manifests)
    record_count: int
    file_size_in_bytes: int
    sequence_number: int | None = None  # set when planned from a manifest
    partition: dict | None = None       # identity-partition values (or None)
    content: int = 0                    # 0 data, 1 position / 2 equality dels
    equality_ids: list[int] | None = None  # delete key field ids (content=2)
    lower_bounds: dict | None = None    # {field_id: bytes} (Appendix D)
    upper_bounds: dict | None = None


def _to_uri(path: str) -> str:
    return path if "://" in path else "file://" + os.path.abspath(path)


def _from_uri(uri: str) -> str:
    return uri[len("file://"):] if uri.startswith("file://") else uri


def _to_time_ordinal(cond, unit: str):
    """Normalize a year/month/day/hour-partition filter condition to the
    spec ordinal (years / months / days / hours since 1970-01-01 00:00 UTC):
    accepts ints, datetime.date/datetime, pandas Timestamps, ISO strings,
    and the list/tuple condition forms thereof."""
    import datetime as _dt

    def one(v):
        if isinstance(v, int):
            return v
        if isinstance(v, str):
            v = _dt.datetime.fromisoformat(v)
        if hasattr(v, "to_pydatetime"):  # pandas Timestamp
            v = v.to_pydatetime()
        if isinstance(v, _dt.datetime) and v.tzinfo is not None:
            # ordinals count UTC units: a tz-aware instant may fall on
            # another UTC day (month, year) than its local date
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        if unit == "hour":
            if isinstance(v, _dt.datetime):
                delta = v - _dt.datetime(1970, 1, 1)
                return int(delta.total_seconds() // 3600)
            raise TypeError(
                f"cannot interpret {v!r} as an hour partition value")
        if isinstance(v, _dt.datetime):
            v = v.date()
        if isinstance(v, _dt.date):
            if unit == "day":
                return (v - _dt.date(1970, 1, 1)).days
            if unit == "month":
                return (v.year - 1970) * 12 + v.month - 1
            return v.year - 1970
        raise TypeError(f"cannot interpret {v!r} as a {unit} partition value")

    if isinstance(cond, tuple) and len(cond) == 2:
        return (one(cond[0]), one(cond[1]))
    if isinstance(cond, (list, set, frozenset)):
        return [one(v) for v in cond]
    return one(cond)


def _to_epoch_days(cond):
    """Normalize a day-partition filter condition to epoch-day ints."""
    return _to_time_ordinal(cond, "day")


def murmur3_32(data: bytes, seed: int = 0) -> int:
    """MurmurHash3 x86 32-bit (public domain algorithm, Appleby 2011) —
    the hash the Iceberg spec mandates for ``bucket[N]`` partition
    transforms (spec §Appendix B: 32-bit Murmur3, seed 0).  Returns a
    SIGNED 32-bit int like the Java reference, so spec test vectors match
    exactly (e.g. bucket source 34 as a long → 2017239379)."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    n4 = len(data) // 4 * 4
    for i in range(0, n4, 4):
        k = int.from_bytes(data[i:i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    k = 0
    tail = data[n4:]
    for i, b in enumerate(tail):
        k |= b << (8 * i)
    if tail:
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= len(data)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


def _murmur3_32_long_np(arr):
    """Vectorized murmur3_x86_32 over int64 values hashed as their
    little-endian 8-byte form (the spec's encoding for int/long/date/
    timestamp bucket sources) — two 4-byte blocks, no tail.  numpy uint32
    arithmetic wraps exactly like the scalar algorithm; this is what keeps
    the bucket writer's hash column one vectorized expression per Arrow
    batch instead of a per-row Python loop."""
    import numpy as np

    c1 = np.uint32(0xCC9E2D51)
    c2 = np.uint32(0x1B873593)
    u = arr.astype(np.int64).view(np.uint64)
    h = np.zeros(len(u), dtype=np.uint32)  # seed 0
    with np.errstate(over="ignore"):
        for blk in ((u & np.uint64(0xFFFFFFFF)).astype(np.uint32),
                    (u >> np.uint64(32)).astype(np.uint32)):
            k = blk * c1
            k = (k << np.uint32(15)) | (k >> np.uint32(17))
            k = k * c2
            h ^= k
            h = (h << np.uint32(13)) | (h >> np.uint32(19))
            h = h * np.uint32(5) + np.uint32(0xE6546B64)
        h ^= np.uint32(8)  # byte length
        h ^= h >> np.uint32(16)
        h = h * np.uint32(0x85EBCA6B)
        h ^= h >> np.uint32(13)
        h = h * np.uint32(0xC2B2AE35)
        h ^= h >> np.uint32(16)
    return h.view(np.int32)


def bucket_value(v, source_type: str, n: int) -> int | None:
    """``bucket[N]`` transform of one SOURCE value, per the Iceberg spec:
    ``(murmur3(encoded) & Integer.MAX_VALUE) % N``.  Encodings: int/long/
    date/timestamp hash their 8-byte little-endian long form (dates as
    epoch days, timestamps as epoch microseconds), strings their UTF-8
    bytes, binary raw bytes.  None → None (null partition)."""
    import datetime as _dt

    if v is None:
        return None
    if source_type in ("int", "long"):
        h = murmur3_32(int(v).to_bytes(8, "little", signed=True))
    elif source_type == "date":
        days = v if isinstance(v, int) else _to_epoch_days(v)
        h = murmur3_32(int(days).to_bytes(8, "little", signed=True))
    elif source_type in ("timestamp", "timestamptz"):
        if isinstance(v, str):
            v = _dt.datetime.fromisoformat(v)
        if hasattr(v, "to_pydatetime"):
            v = v.to_pydatetime()
        if isinstance(v, _dt.datetime):
            epoch = _dt.datetime(1970, 1, 1, tzinfo=v.tzinfo)
            d = v - epoch
            # exact integer µs — total_seconds() is float64 and loses
            # up to tens of µs for far-from-epoch timestamps, which
            # would hash into the WRONG bucket
            v = (d.days * 86_400_000_000 + d.seconds * 1_000_000
                 + d.microseconds)
        h = murmur3_32(int(v).to_bytes(8, "little", signed=True))
    elif source_type == "string":
        h = murmur3_32(str(v).encode("utf-8"))
    elif source_type == "binary":
        h = murmur3_32(bytes(v))
    else:
        raise ValueError(f"bucket transform unsupported for {source_type!r}")
    return (h & 0x7FFFFFFF) % n


def truncate_value(v, source_type: str, width: int):
    """``truncate[W]`` transform of one SOURCE value, per the Iceberg
    spec: ints/longs floor to a multiple of W (``v - (((v % W) + W) % W)``
    — Python's ``%`` is already floor-mod), strings keep the first W
    CHARACTERS (not bytes)."""
    if v is None:
        return None
    if source_type in ("int", "long"):
        return int(v) - (int(v) % width)
    if source_type == "string":
        return str(v)[:width]
    raise ValueError(f"truncate transform unsupported for {source_type!r}")


def bound_to_bytes(v, ice_type: str) -> bytes | None:
    """Iceberg single-value binary serialization (spec Appendix D) of a
    column bound. None when the value/type has no bound form."""
    import datetime as _dt
    import struct

    if v is None:
        return None
    if ice_type == "boolean":
        return b"\x01" if v else b"\x00"
    if ice_type == "int":
        return struct.pack("<i", int(v))
    if ice_type == "long":
        return struct.pack("<q", int(v))
    if ice_type == "float":
        return struct.pack("<f", float(v))
    if ice_type == "double":
        return struct.pack("<d", float(v))
    if ice_type == "date":
        days = v if isinstance(v, int) else _to_epoch_days(v)
        return struct.pack("<i", int(days))
    if ice_type in ("timestamp", "timestamptz"):
        if isinstance(v, int):
            us = v
        else:
            if hasattr(v, "to_pydatetime"):
                v = v.to_pydatetime()
            epoch = _dt.datetime(1970, 1, 1, tzinfo=getattr(v, "tzinfo", None))
            us = round((v - epoch).total_seconds() * 1_000_000)
        return struct.pack("<q", int(us))
    if ice_type == "string":
        b = str(v).encode("utf-8")
        return b if len(b) <= 64 else None  # no truncation: skip long bounds
    if ice_type == "binary":
        b = bytes(v)
        return b if len(b) <= 64 else None
    return None


def bound_from_bytes(b: bytes, ice_type: str):
    """Inverse of :func:`bound_to_bytes` (comparable Python value)."""
    import struct

    if b is None:
        return None
    if ice_type == "boolean":
        return b != b"\x00"
    if ice_type in ("int", "date"):
        return struct.unpack("<i", bytes(b))[0]
    if ice_type in ("long", "timestamp", "timestamptz"):
        return struct.unpack("<q", bytes(b))[0]
    if ice_type == "float":
        return struct.unpack("<f", bytes(b))[0]
    if ice_type == "double":
        return struct.unpack("<d", bytes(b))[0]
    if ice_type == "string":
        return bytes(b).decode("utf-8")
    if ice_type == "binary":
        return bytes(b)
    return None


def file_column_bounds(path: str, schema_fields: list[dict]
                       ) -> tuple[dict, dict]:
    """(lower_bounds, upper_bounds) {field_id: bytes} for one parquet data
    file, from the footer's row-group statistics — O(footer), the file is
    never scanned. Columns without stats (or beyond the 64-byte bound cap)
    simply carry no bound: planners must treat missing as 'cannot skip'."""
    import pyarrow.parquet as pq

    by_name = {f["name"]: f for f in schema_fields}
    meta = pq.read_metadata(path)
    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    ok: dict[str, bool] = {}
    for rg in range(meta.num_row_groups):
        g = meta.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if name not in by_name or not isinstance(
                    by_name[name]["type"], str):
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                ok[name] = False
                continue
            if ok.get(name) is False:
                continue
            ok[name] = True
            mn, mx = st.min, st.max
            mins[name] = mn if name not in mins else min(mins[name], mn)
            maxs[name] = mx if name not in maxs else max(maxs[name], mx)
    lower: dict[int, bytes] = {}
    upper: dict[int, bytes] = {}
    for name, good in ok.items():
        if not good:
            continue
        fld = by_name[name]
        lo = bound_to_bytes(mins[name], fld["type"])
        hi = bound_to_bytes(maxs[name], fld["type"])
        if lo is not None and hi is not None:
            lower[fld["id"]] = lo
            upper[fld["id"]] = hi
    return lower, upper


def _bounds_to_avro(d: dict | None):
    if not d:
        return None
    return [{"key": int(k), "value": bytes(v)} for k, v in sorted(d.items())]


def _bounds_from_avro(rows) -> dict | None:
    if not rows:
        return None
    return {int(r["key"]): bytes(r["value"]) for r in rows}


def _bucket_udf(n: int, kind: str):
    """Arrow-batched pandas UDF computing ``bucket[N]`` ordinals for the
    writer's ``__p_*`` routing column.  ``kind`` is the canonical encoding
    the caller pre-casts to: "long" (int/long/date-days/timestamp-micros —
    fully numpy-vectorized, one pass per batch), "string" (UTF-8), or
    "binary".  Nulls map to null (Hive default partition)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def fn(s: pd.Series) -> pd.Series:
        if kind == "long":
            mask = s.isna()
            arr = s.fillna(0).to_numpy(dtype="int64")
            h = _murmur3_32_long_np(arr).astype("int64")
            out = pd.Series((h & 0x7FFFFFFF) % n, index=s.index,
                            dtype="Int32")
            out[mask] = pd.NA
            return out

        def one(v):
            if v is None:
                return None
            b = v.encode("utf-8") if kind == "string" else bytes(v)
            return (murmur3_32(b) & 0x7FFFFFFF) % n

        return s.map(one).astype("Int32")

    # the hints are strings (PEP 563) naming this function's local pd, which
    # pandas_udf cannot resolve from the module globals: bind them here
    fn.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(fn, "int")


_TRANSFORM_RE = re.compile(
    r"(?:(years?|months?|days?|hours?)\(\s*(\w+)\s*\))"
    r"|(?:bucket\(\s*(\d+)\s*,\s*(\w+)\s*\))"
    r"|(?:truncate\(\s*(\d+)\s*,\s*(\w+)\s*\))"
)

#: Iceberg spec §Partition Transforms: the time transforms and the source
#: types each accepts (hour is timestamp-only — a date has no hours)
_TIME_TRANSFORMS = {
    "year": ("timestamp", "timestamptz", "date"),
    "month": ("timestamp", "timestamptz", "date"),
    "day": ("timestamp", "timestamptz", "date"),
    "hour": ("timestamp", "timestamptz"),
}


def _stats_match(lower: dict | None, upper: dict | None,
                 stats_cols: dict) -> bool:
    """Can a file possibly hold a matching row, judged by its bounds?
    Missing bounds for a column → True (cannot skip)."""
    for fid, (ice_type, cond) in stats_cols.items():
        lo_b = (lower or {}).get(fid)
        hi_b = (upper or {}).get(fid)
        if lo_b is None or hi_b is None:
            continue
        lo = bound_from_bytes(lo_b, ice_type)
        hi = bound_from_bytes(hi_b, ice_type)

        def norm(v):
            b = bound_to_bytes(v, ice_type)
            if b is None:
                return None
            return bound_from_bytes(b, ice_type)

        if isinstance(cond, tuple) and len(cond) == 2:
            qlo, qhi = norm(cond[0]), norm(cond[1])
            if qlo is None or qhi is None:
                continue
            if qhi < lo or qlo > hi:
                return False
        elif isinstance(cond, (list, set, frozenset)):
            vals = [norm(v) for v in cond]
            if any(v is None for v in vals):
                continue
            if all(v < lo or v > hi for v in vals):
                return False
        else:
            v = norm(cond)
            if v is None:
                continue
            if v < lo or v > hi:
                return False
    return True


def _partition_match(part: dict, flt: dict) -> bool:
    """Does a file's identity-partition tuple satisfy the filter?
    Values: scalar equality, list/set membership, (lo, hi) inclusive range.
    A null partition value (Hive default partition) matches nothing."""
    for col, cond in flt.items():
        v = part.get(col)
        if v is None:
            return False
        if isinstance(cond, tuple) and len(cond) == 2:
            lo, hi = cond
            if not (lo <= v <= hi):
                return False
        elif isinstance(cond, (list, set, frozenset)):
            if v not in cond:
                return False
        elif v != cond:
            return False
    return True


# ---------------------------------------------------------------------------
# Table
# ---------------------------------------------------------------------------


#: identity partitioning supports exactly the types whose Hive directory
#: values round-trip losslessly through a path segment
_PARTITIONABLE = {"int": int, "long": int, "float": float, "double": float,
                  "string": str}


class _Base(NamedTuple):
    """What a commit builds on, read once: the metadata dict, its version
    (the CAS base), the target branch and that branch's head snapshot
    (None on an empty table)."""
    meta: dict
    version: int
    branch: str
    parent: dict | None


class IcebergTable:
    """One Iceberg v2 table at ``location`` (HadoopCatalog layout:
    ``metadata/`` + ``data/``). Single-schema; optional identity
    partitioning with manifest-level partition pruning; append + overwrite
    + replace snapshots; snapshot/timestamp time travel; incremental read;
    compaction + snapshot expiration maintenance."""

    def __init__(self, location: str, schema=None, properties: dict | None = None,
                 partition_by: list[str] | None = None):
        self.location = os.path.abspath(location)
        self.metadata_dir = os.path.join(self.location, "metadata")
        self.data_dir = os.path.join(self.location, "data")
        exists = self._current_version() is not None
        if not exists and schema is None:
            raise ValueError(
                f"no Iceberg table at {location!r} and no schema to create one"
            )
        if not exists:  # validated in full before any dir is created
            ice_schema, last_col = spark_schema_to_iceberg(schema)
            spec_fields = []
            for i, term in enumerate(partition_by or []):
                term = term.strip()
                m = _TRANSFORM_RE.fullmatch(term)
                if m and m.group(1):        # years/months/days/hours(col)
                    transform = m.group(1).rstrip("s")
                    param, col = None, m.group(2)
                elif m and m.group(3):      # bucket(N, col)
                    transform, param, col = "bucket", int(m.group(3)), m.group(4)
                elif m and m.group(5):      # truncate(W, col)
                    transform, param, col = "truncate", int(m.group(5)), m.group(6)
                else:                       # identity
                    transform, param, col = "identity", None, term
                src = next((f for f in ice_schema["fields"]
                            if f["name"] == col), None)
                if src is None:
                    raise ValueError(f"partition column {col!r} not in schema")
                if transform in _TIME_TRANSFORMS:
                    allowed = _TIME_TRANSFORMS[transform]
                    if src["type"] not in allowed:
                        kinds = ("timestamp" if transform == "hour"
                                 else "timestamp/date")
                        raise ValueError(
                            f"{transform}s() needs a {kinds} column, got "
                            f"{col!r}: {src['type']!r}"
                        )
                    spec_fields.append({
                        "name": f"{col}_{transform}", "transform": transform,
                        "source-id": src["id"], "field-id": 1000 + i,
                    })
                    continue
                if transform == "bucket":
                    if param <= 0:
                        raise ValueError(f"bucket(N, {col}): N must be > 0")
                    if src["type"] not in ("int", "long", "date", "timestamp",
                                           "timestamptz", "string", "binary"):
                        raise ValueError(
                            f"bucket() needs an int/long/date/timestamp/"
                            f"string/binary column, got {col!r}: "
                            f"{src['type']!r}"
                        )
                    spec_fields.append({
                        "name": f"{col}_bucket", "transform": f"bucket[{param}]",
                        "source-id": src["id"], "field-id": 1000 + i,
                    })
                    continue
                if transform == "truncate":
                    if param <= 0:
                        raise ValueError(f"truncate(W, {col}): W must be > 0")
                    if src["type"] not in ("int", "long", "string"):
                        raise ValueError(
                            f"truncate() needs an int/long/string column, "
                            f"got {col!r}: {src['type']!r}"
                        )
                    spec_fields.append({
                        "name": f"{col}_trunc", "transform": f"truncate[{param}]",
                        "source-id": src["id"], "field-id": 1000 + i,
                    })
                    continue
                if src["type"] not in _PARTITIONABLE:
                    raise ValueError(
                        f"identity partitioning supports {sorted(_PARTITIONABLE)} "
                        f"columns (or years/months/days/hours(ts) / "
                        f"bucket(N, col) / truncate(W, col)), got "
                        f"{col!r}: {src['type']!r}"
                    )
                spec_fields.append({
                    "name": col, "transform": "identity",
                    "source-id": src["id"], "field-id": 1000 + i,
                })
            meta = {
                "format-version": 2,
                "table-uuid": str(uuid.uuid4()),
                "location": _to_uri(self.location),
                "last-sequence-number": 0,
                "last-updated-ms": int(time.time() * 1000),
                "last-column-id": last_col,
                "current-schema-id": 0,
                "schemas": [ice_schema],
                "default-spec-id": 0,
                "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
                "last-partition-id": 999 + len(spec_fields),
                "default-sort-order-id": 0,
                "sort-orders": [{"order-id": 0, "fields": []}],
                "properties": dict(properties or {}),
                "current-snapshot-id": -1,
                "snapshots": [],
                "snapshot-log": [],
                "metadata-log": [],
                "refs": {},
            }
            os.makedirs(self.metadata_dir, exist_ok=True)
            self._publish(meta, base_version=None)
        os.makedirs(self.data_dir, exist_ok=True)

    # -- partition spec -----------------------------------------------------
    def _spec(self, meta: dict | None = None) -> dict:
        """The default partition spec of ``meta`` (current by default)."""
        meta = meta if meta is not None else self.metadata()
        for spec in meta.get("partition-specs", []):
            if spec["spec-id"] == meta.get("default-spec-id", 0):
                return spec
        return {"spec-id": 0, "fields": []}

    def spec_fields(self, meta: dict | None = None) -> list[dict]:
        """Default partition-spec fields (empty for unpartitioned tables)."""
        return self._spec(meta).get("fields", [])

    def _partition_col_types(self, meta: dict | None = None
                             ) -> dict[str, str]:
        """partition field → iceberg primitive type of the PARTITION VALUE
        (identity/truncate → the source column's type; day → epoch-day
        int; bucket → int ordinal)."""
        meta = meta if meta is not None else self.metadata()
        schema_fields = {f["id"]: f for f in self.schema_json(meta)["fields"]}

        def value_type(f: dict) -> str:
            tr = f.get("transform", "identity")
            if tr in _TIME_TRANSFORMS or tr.startswith("bucket["):
                return "int"
            return schema_fields[f["source-id"]]["type"]

        return {f["name"]: value_type(f) for f in self.spec_fields(meta)}

    def _partition_exprs(self):
        """[(partition field name, derivation Column)] for the writer: the
        ``__p_*`` directory columns both write paths route through.
        day/truncate/identity are pure built-in expressions (codegen);
        bucket is the spec's murmur3 — numpy-vectorized inside one pandas
        UDF per Arrow batch for long-backed sources, per-value murmur3 for
        string/binary (no JVM murmur3_x86_32-over-little-endian-long
        builtin exists — ``F.hash`` uses Spark's own seed/encoding)."""
        from pyspark.sql import functions as F

        schema_fields = {f["id"]: f for f in self.schema_json()["fields"]}
        out = []
        for f in self.spec_fields():
            src = schema_fields[f["source-id"]]
            src_name, src_type = src["name"], src["type"]
            tr = f.get("transform", "identity")
            if tr == "day":
                col = F.datediff(F.col(src_name).cast("date"),
                                 F.to_date(F.lit("1970-01-01")))
            elif tr == "year":
                col = (F.year(F.col(src_name)) - F.lit(1970)).cast("int")
            elif tr == "month":
                col = ((F.year(F.col(src_name)) - F.lit(1970)) * F.lit(12)
                       + F.month(F.col(src_name)) - F.lit(1)).cast("int")
            elif tr == "hour":
                # floor (not int-div) so pre-1970 timestamps round down
                col = F.floor(
                    F.unix_micros(F.col(src_name).cast("timestamp"))
                    / F.lit(3_600_000_000)).cast("int")
            elif tr.startswith("bucket["):
                n = int(tr[len("bucket["):-1])
                if src_type in ("int", "long"):
                    col = _bucket_udf(n, "long")(F.col(src_name).cast("long"))
                elif src_type == "date":
                    col = _bucket_udf(n, "long")(F.datediff(
                        F.col(src_name),
                        F.to_date(F.lit("1970-01-01"))).cast("long"))
                elif src_type in ("timestamp", "timestamptz"):
                    col = _bucket_udf(n, "long")(
                        F.unix_micros(F.col(src_name).cast("timestamp")))
                elif src_type == "string":
                    col = _bucket_udf(n, "string")(F.col(src_name))
                else:  # binary
                    col = _bucket_udf(n, "binary")(F.col(src_name))
            elif tr.startswith("truncate["):
                w = int(tr[len("truncate["):-1])
                if src_type == "string":
                    col = F.substring(F.col(src_name), 1, w)
                else:  # int/long: floor to a multiple of W (pmod = floor-mod)
                    col = (F.col(src_name)
                           - F.pmod(F.col(src_name), F.lit(w))).cast(
                               "int" if src_type == "int" else "long")
            else:
                col = F.col(src_name)
            out.append((f["name"], col))
        return out

    def _entry_schema(self, meta: dict) -> dict:
        """Manifest-entry Avro schema with the partition struct typed by
        the spec of ``meta`` (Iceberg embeds the spec-typed r102 record
        the same way; unpartitioned tables keep the empty struct)."""
        fields = self.spec_fields(meta)
        if not fields:
            return MANIFEST_ENTRY_SCHEMA
        avro_of = {"int": "int", "long": "long", "float": "float",
                   "double": "double", "string": "string"}
        types = self._partition_col_types(meta)
        part_fields = [
            {"name": f["name"], "field-id": f["field-id"], "default": None,
             "type": ["null", avro_of[types[f["name"]]]]}
            for f in fields
        ]
        schema = json.loads(json.dumps(MANIFEST_ENTRY_SCHEMA))  # deep copy
        for df_field in schema["fields"]:
            if df_field["name"] == "data_file":
                for f2 in df_field["type"]["fields"]:
                    if f2["name"] == "partition":
                        f2["type"]["fields"] = part_fields
        return schema

    # -- metadata versions --------------------------------------------------
    _VERSION_FILE_RE = re.compile(r"^v\d+\.metadata\.json$")

    def _version_path(self, v: int) -> str:
        return os.path.join(self.metadata_dir, f"v{v}.metadata.json")

    def _current_version(self) -> int | None:
        hint = os.path.join(self.metadata_dir, "version-hint.text")
        if os.path.exists(hint):
            with open(hint) as fh:
                v = int(fh.read().strip())
            if os.path.exists(self._version_path(v)):
                # the hint lags when a CAS won between hint updates — scan up
                while os.path.exists(self._version_path(v + 1)):
                    v += 1
                return v
        if not os.path.isdir(self.metadata_dir):
            return None
        vs = [
            int(n[1:].split(".")[0]) for n in os.listdir(self.metadata_dir)
            if n.startswith("v") and n.endswith(".metadata.json")
        ]
        return max(vs) if vs else None

    def metadata(self) -> dict:
        return self._metadata_at()[0]

    def _metadata_at(self) -> tuple[dict, int]:
        """(metadata dict, its version) as a CONSISTENT pair: the version
        resolves FIRST and the dict loads from that exact file.  Commands
        that publish must base the CAS on this pair — reading metadata()
        and _current_version() separately lets a concurrent commit land
        between the reads, pairing a stale dict with the newer version
        number, so the CAS passes and the concurrent commit's snapshot is
        silently erased from the republished metadata."""
        v = self._current_version()
        if v is None:
            raise FileNotFoundError(f"no metadata at {self.metadata_dir}")
        with open(self._version_path(v)) as fh:
            return json.load(fh), v

    def schema_json(self, meta: dict | None = None) -> dict:
        """The CURRENT schema (schema evolution appends new schemas and
        bumps ``current-schema-id`` — schemas[0] is only the original)."""
        meta = meta if meta is not None else self.metadata()
        cur = meta.get("current-schema-id", 0)
        for sch in meta["schemas"]:
            if sch.get("schema-id", 0) == cur:
                return sch
        return meta["schemas"][0]

    def _publish(self, meta: dict, base_version: int | None) -> int:
        """CAS-commit a new metadata version (os.link fails on collision)."""
        new_v = 1 if base_version is None else base_version + 1
        tmp = os.path.join(
            self.metadata_dir, f".tmp-{uuid.uuid4().hex}.metadata.json"
        )
        with open(tmp, "w") as fh:
            json.dump(meta, fh, sort_keys=True)
        final = self._version_path(new_v)
        try:
            os.link(tmp, final)  # atomic create-if-absent
        except FileExistsError:
            raise RuntimeError(
                f"concurrent Iceberg commit: version {new_v} already exists "
                f"at {self.metadata_dir} (retry from the new base)"
            ) from None
        finally:
            os.unlink(tmp)
        hint_tmp = os.path.join(self.metadata_dir, f".hint-{uuid.uuid4().hex}")
        with open(hint_tmp, "w") as fh:
            fh.write(str(new_v))
        os.replace(hint_tmp, os.path.join(self.metadata_dir, "version-hint.text"))
        return new_v

    # -- snapshots ----------------------------------------------------------
    @property
    def current_snapshot_id(self) -> int | None:
        return self._head_id(self.metadata())

    def snapshots(self) -> list[dict]:
        return self.metadata().get("snapshots", [])

    def snapshot(self, snapshot_id: int) -> dict:
        for s in self.snapshots():
            if s["snapshot-id"] == snapshot_id:
                return s
        raise KeyError(f"no snapshot {snapshot_id} in {self.location}")

    def add_columns(self, new_schema) -> int:
        """Schema evolution: append new NULLABLE columns (the reference's
        appendFeatures seam, ``FeatureGroupApi`` — P4 at the storage
        layer).  ``new_schema`` is a Spark StructType holding ONLY the
        columns to add.  Per the Iceberg evolution rules the new fields
        get fresh ids past ``last-column-id``, a new schema with a bumped
        ``schema-id`` becomes current, and data files written before the
        change simply lack the columns — the pinned-schema scan reads
        them as null.  Drops/renames/type-changes are not supported here
        (additive evolution only — the only kind the reference's feature
        groups perform).  Returns the new schema id."""
        meta, base = self._metadata_at()
        meta = dict(meta)
        cur = self.schema_json(meta)
        existing = {f["name"] for f in cur["fields"]}
        ids = _IdGen(meta["last-column-id"])
        added = _struct_fields(new_schema, ids)
        for f in added:
            if f["name"] in existing:
                raise ValueError(f"column {f['name']!r} already exists")
            if f["required"]:
                raise ValueError(
                    f"new column {f['name']!r} must be nullable — rows "
                    "written before the change have no value for it")
        new_id = max(sch.get("schema-id", 0) for sch in meta["schemas"]) + 1
        new_sch = {"schema-id": new_id, "type": "struct",
                   "fields": cur["fields"] + added}
        meta["schemas"] = meta["schemas"] + [new_sch]
        meta["current-schema-id"] = new_id
        meta["last-column-id"] = ids.last
        meta["last-updated-ms"] = int(time.time() * 1000)
        self._publish(meta, base_version=base)
        return new_id

    def tag_snapshot(self, name: str, snapshot_id: int | None = None) -> None:
        """Pin a named TAG ref to a snapshot (current by default) — the
        reproducible-training-set pin (Iceberg refs; the reference's
        versioned training datasets, ``td_version``): ``read(ref=name)``
        always plans exactly this snapshot, and ``expire_snapshots`` will
        never expire a snapshot a ref points at."""
        if not re.fullmatch(r"[A-Za-z0-9._-]+", name) or name == "main":
            raise ValueError(f"invalid ref name {name!r}")
        meta, base = self._metadata_at()
        meta = dict(meta)
        sid = self._known_snapshot_id(meta, snapshot_id, "tag")
        refs = dict(meta.get("refs") or {})
        refs[name] = {"snapshot-id": sid, "type": "tag"}
        meta["refs"] = refs
        meta["last-updated-ms"] = int(time.time() * 1000)
        self._publish(meta, base_version=base)

    def drop_ref(self, name: str) -> None:
        """Remove a named ref (its snapshot becomes expirable again)."""
        if name == "main":
            raise ValueError("cannot drop the main branch ref")
        meta, base = self._metadata_at()
        meta = dict(meta)
        refs = dict(meta.get("refs") or {})
        if name not in refs:
            raise KeyError(f"no ref {name!r}")
        del refs[name]
        meta["refs"] = refs
        meta["last-updated-ms"] = int(time.time() * 1000)
        self._publish(meta, base_version=base)

    def refs(self) -> dict:
        return dict(self.metadata().get("refs") or {})

    @staticmethod
    def _head_id(meta: dict) -> int | None:
        """Main's head snapshot id in ``meta`` (None on an empty table)."""
        sid = meta.get("current-snapshot-id")
        return None if sid in (-1, None) else sid

    def _known_snapshot_id(self, meta: dict, snapshot_id: int | None,
                           verb: str) -> int:
        """``snapshot_id`` (main's head when None), checked against the
        snapshots of the pinned ``meta``."""
        sid = snapshot_id if snapshot_id is not None else self._head_id(meta)
        if sid is None:
            raise ValueError(f"cannot {verb} an empty table")
        if not any(s["snapshot-id"] == sid
                   for s in meta.get("snapshots", [])):
            raise KeyError(f"no snapshot {sid} in {self.location}")
        return sid

    @staticmethod
    def _ancestry_from(meta: dict, head_id: int | None) -> list[dict]:
        """Parent-chain walk over one pinned metadata dict (oldest→newest).
        The walk ENDS at a snapshot whose parent is no longer retained —
        the normal state after expire_snapshots trims old main history;
        readers that must not tolerate a trimmed tail (the tail source's
        offset resolution) fail loudly on their own when an offset's
        snapshot is gone."""
        by_id = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
        sid = head_id
        chain: list[dict] = []
        while sid is not None and sid in by_id:
            chain.append(by_id[sid])
            sid = by_id[sid].get("parent-snapshot-id")
        chain.reverse()
        return chain

    def _ancestry(self, head_id: int | None = None) -> list[dict]:
        """Snapshots on the parent chain of ``head_id`` (current main head
        by default), oldest→newest.  With branches in play this — not the
        flat snapshots list — is a ref's commit history: side-branch
        snapshots live in the same list but are NOT ancestors until a
        fast-forward publishes them."""
        meta = self.metadata()
        if head_id is None:
            head_id = self._head_id(meta)
        return self._ancestry_from(meta, head_id)

    def create_branch(self, name: str,
                      from_snapshot_id: int | None = None) -> None:
        """Create a named BRANCH ref (Iceberg refs, type=branch) at a
        snapshot (current main head by default).  Branch commits
        (``write_dataframe(..., branch=name)``) advance the branch only;
        ``main`` — and every tail/CDC follower of it — never sees them
        until :meth:`fast_forward` publishes the branch.  This is the
        write-audit-publish staging seam."""
        if not re.fullmatch(r"[A-Za-z0-9._-]+", name) or name == "main":
            raise ValueError(f"invalid branch name {name!r}")
        meta, base = self._metadata_at()
        meta = dict(meta)
        sid = self._known_snapshot_id(meta, from_snapshot_id, "branch")
        refs = dict(meta.get("refs") or {})
        if name in refs:
            raise ValueError(f"ref {name!r} already exists "
                             f"(type {refs[name]['type']})")
        refs[name] = {"snapshot-id": sid, "type": "branch"}
        meta["refs"] = refs
        meta["last-updated-ms"] = int(time.time() * 1000)
        self._publish(meta, base_version=base)

    def fast_forward(self, branch: str, from_ref: str) -> int:
        """Fast-forward ``branch`` to ``from_ref``'s head — the PUBLISH
        step of write-audit-publish: stage commits on an audit branch,
        validate ``read(ref=audit)``, then atomically move ``main``.
        Requires ``branch``'s current head to be an ANCESTOR of the new
        head (true fast-forward — published history is never rewritten;
        anything else raises).  Fast-forwarding ``main`` also advances
        ``current-snapshot-id`` and the snapshot-log, so time travel,
        CDC (``incremental_files``) and a live snapshot-tail all see the
        published snapshots exactly once, in commit order.  Returns the
        new head snapshot id."""
        meta, base = self._metadata_at()
        meta = dict(meta)
        refs = dict(meta.get("refs") or {})
        if from_ref not in refs:
            raise KeyError(f"no ref {from_ref!r} (refs: {sorted(refs)})")
        head = refs[from_ref]["snapshot-id"]
        if branch != "main":
            if branch not in refs:
                raise KeyError(f"no branch {branch!r}")
            if refs[branch]["type"] != "branch":
                raise ValueError(f"ref {branch!r} is a "
                                 f"{refs[branch]['type']}, not a branch")
        cur = (refs.get(branch, {}).get("snapshot-id") if branch != "main"
               else self._head_id(meta))
        # ONE ancestry walk over the pinned meta serves both the
        # fast-forward check and the snapshot-log splice
        chain = self._ancestry_from(meta, head)
        ancestors = {s["snapshot-id"] for s in chain}
        if cur is not None and cur not in ancestors:
            raise ValueError(
                f"{branch!r} head {cur} is not an ancestor of "
                f"{from_ref!r} head {head} — not a fast-forward")
        if cur == head:
            return head
        now_ms = int(time.time() * 1000)
        refs[branch] = {"snapshot-id": head, "type": "branch"}
        meta["refs"] = refs
        if branch == "main":
            meta["current-snapshot-id"] = head
            # every newly-published ancestor becomes current in order —
            # as-of time travel lands inside the published range correctly
            known = {e["snapshot-id"]
                     for e in meta.get("snapshot-log", [])}
            meta["snapshot-log"] = meta.get("snapshot-log", []) + [
                {"timestamp-ms": now_ms, "snapshot-id": s["snapshot-id"]}
                for s in chain
                if s["snapshot-id"] not in known
            ]
        meta["last-updated-ms"] = now_ms
        self._publish(meta, base_version=base)
        return head

    # -- metadata inspection tables ------------------------------------------
    # DataFrame twins of the Iceberg jar's `<table>.snapshots` / `.history`
    # / `.files` / `.refs` metadata tables — the commit-log inspection
    # surface (V3; reference analogue: feature-group commit listing,
    # `base/FeatureGroupCommit.java` + commit pagination in
    # `FeatureGroupApi`).  All are driver-assembled from table metadata
    # (O(#snapshots) / O(#files) — the same JSON/manifest reads planning
    # already does; no data file is ever opened).

    def snapshots_df(self, spark: SparkSession) -> DataFrame:
        """One row per retained snapshot: commit time, lineage, operation,
        and the summary counters written at commit."""
        rows = [
            (s["timestamp-ms"], s["snapshot-id"], s.get("parent-snapshot-id"),
             s.get("sequence-number"), s["summary"].get("operation"),
             s["manifest-list"],
             {k: str(v) for k, v in s["summary"].items() if k != "operation"})
            for s in self.snapshots()
        ]
        df = spark.createDataFrame(
            rows,
            "committed_at_ms long, snapshot_id long, parent_id long, "
            "sequence_number long, operation string, manifest_list string, "
            "summary map<string,string>")
        from pyspark.sql import functions as F
        return df.withColumn(
            "committed_at", F.timestamp_millis("committed_at_ms"))

    def history_df(self, spark: SparkSession) -> DataFrame:
        """The snapshot-log: when each snapshot became current, and whether
        it is an ancestor of the CURRENT snapshot (rollbacks/expired
        branches show is_current_ancestor=false)."""
        ancestors = {s["snapshot-id"] for s in self._ancestry()}
        rows = [
            (e["timestamp-ms"], e["snapshot-id"],
             e["snapshot-id"] in ancestors)
            for e in self.metadata().get("snapshot-log", [])
        ]
        df = spark.createDataFrame(
            rows, "made_current_at_ms long, snapshot_id long, "
                  "is_current_ancestor boolean")
        from pyspark.sql import functions as F
        return df.withColumn(
            "made_current_at", F.timestamp_millis("made_current_at_ms"))

    def files_df(self, spark: SparkSession, snapshot_id: int | None = None,
                 as_of_ms: int | None = None,
                 ref: str | None = None) -> DataFrame:
        """Live data AND delete files at a snapshot (current by default):
        content (0=data, 2=equality deletes), size/row counters, partition
        tuple, and human-readable column bounds decoded per Appendix D."""
        id_to_field = {f["id"]: f for f in self.schema_json()["fields"]}

        def decode(bounds: dict | None) -> dict | None:
            if not bounds:
                return None
            out = {}
            for fid, raw in bounds.items():
                fld = id_to_field.get(int(fid))
                if fld is None or not isinstance(fld["type"], str):
                    continue
                out[fld["name"]] = str(bound_from_bytes(raw, fld["type"]))
            return out or None

        rows = [
            (f.content, f.file_path, f.record_count, f.file_size_in_bytes,
             f.sequence_number,
             {k: str(v) for k, v in f.partition.items()} if f.partition
             else None,
             decode(f.lower_bounds), decode(f.upper_bounds))
            for f in (self.plan_files(snapshot_id, as_of_ms, ref=ref)
                      + self.plan_delete_files(snapshot_id, as_of_ms, ref=ref))
        ]
        return spark.createDataFrame(
            rows,
            "content int, file_path string, record_count long, "
            "file_size_in_bytes long, sequence_number long, "
            "partition map<string,string>, lower_bounds map<string,string>, "
            "upper_bounds map<string,string>")

    def refs_df(self, spark: SparkSession) -> DataFrame:
        rows = [(name, r["type"], r["snapshot-id"])
                for name, r in sorted(self.refs().items())]
        return spark.createDataFrame(
            rows, "name string, type string, snapshot_id long")

    def _resolve_snapshot(self, snapshot_id: int | None,
                          as_of_ms: int | None,
                          ref: str | None = None) -> dict | None:
        if ref is not None:
            refs = self.metadata().get("refs") or {}
            if ref not in refs:
                raise KeyError(
                    f"no ref {ref!r} on table {self.location} "
                    f"(refs: {sorted(refs)})")
            return self.snapshot(refs[ref]["snapshot-id"])
        if snapshot_id is not None:
            return self.snapshot(snapshot_id)
        if as_of_ms is not None:
            log = [e for e in self.metadata().get("snapshot-log", [])
                   if e["timestamp-ms"] <= as_of_ms]
            if not log:
                return None
            return self.snapshot(log[-1]["snapshot-id"])
        cur = self.current_snapshot_id
        return None if cur is None else self.snapshot(cur)

    # -- manifest IO --------------------------------------------------------
    def _write_manifest(self, entries: list[dict], meta: dict,
                        content: int) -> tuple[str, int]:
        name = f"{uuid.uuid4().hex}-m0.avro"
        path = os.path.join(self.metadata_dir, name)
        buf = write_avro_ocf_bytes(
            entries, self._entry_schema(meta),
            extra_meta={
                "schema": json.dumps(
                    self.schema_json(meta), sort_keys=True).encode(),
                "partition-spec": json.dumps(
                    self._spec(meta), sort_keys=True).encode(),
                "partition-spec-id": b"0",
                "format-version": b"2",
                "content": b"deletes" if content else b"data",
            },
        )
        with open(path, "wb") as fh:
            fh.write(buf)
        return path, len(buf)

    def _read_manifest(self, path: str) -> list[dict]:
        with open(_from_uri(path), "rb") as fh:
            rows, _ = read_avro_ocf_bytes(fh.read())
        return rows

    # manifests and manifest lists are both plain Avro OCF record files
    _read_manifest_list = _read_manifest

    def _manifest_list_entry(self, manifest_path: str, length: int, seq: int,
                             snapshot_id: int, files: list[DataFileInfo],
                             status: int, content: int) -> dict:
        """The manifest-list row for one manifest holding ``files``, all
        with entry ``status``: counts and row totals come from the files;
        ADDED entries inherit ``seq``, other entries keep their own."""
        n, rows = len(files), sum(f.record_count for f in files)
        added, existing, deleted = (
            (n, rows) if status == s else (0, 0)
            for s in (_STATUS_ADDED, _STATUS_EXISTING, _STATUS_DELETED))
        return {
            "manifest_path": _to_uri(manifest_path),
            "manifest_length": length,
            "partition_spec_id": 0,
            "content": content,
            "sequence_number": seq,
            "min_sequence_number": (
                seq if status == _STATUS_ADDED
                else min(f.sequence_number for f in files)),
            "added_snapshot_id": snapshot_id,
            "added_data_files_count": added[0],
            "existing_data_files_count": existing[0],
            "deleted_data_files_count": deleted[0],
            "added_rows_count": added[1],
            "existing_rows_count": existing[1],
            "deleted_rows_count": deleted[1],
            "partitions": [],
        }

    def _manifest_entry(self, f: DataFileInfo, status: int,
                        snapshot_id: int, esq: int | None) -> dict:
        """One manifest entry for ``f`` — the single builder every commit
        path shares (a schema change here reaches them all).  ADDED
        entries pass ``esq=None`` to inherit the snapshot's sequence
        number (v2 inheritance); EXISTING/DELETED entries carry their
        original data sequence number.  :meth:`_entry_file` reads it
        back."""
        return {
            "status": status, "snapshot_id": snapshot_id,
            "sequence_number": esq, "file_sequence_number": esq,
            "data_file": {
                "content": int(f.content),
                "file_path": _to_uri(f.file_path),
                "file_format": "PARQUET",
                "partition": dict(f.partition or {}),
                "record_count": int(f.record_count),
                "file_size_in_bytes": int(f.file_size_in_bytes),
                "equality_ids": (list(f.equality_ids)
                                 if f.equality_ids else None),
                "lower_bounds": _bounds_to_avro(f.lower_bounds),
                "upper_bounds": _bounds_to_avro(f.upper_bounds),
            },
        }

    @staticmethod
    def _entry_file(e: dict, m: dict) -> DataFileInfo:
        """A manifest entry ``e`` (of manifest-list row ``m``) back as a
        :class:`DataFileInfo` — the one reader of :meth:`_manifest_entry`'s
        format."""
        df = e["data_file"]
        return DataFileInfo(
            file_path=_from_uri(df["file_path"]),
            record_count=df["record_count"],
            file_size_in_bytes=df["file_size_in_bytes"],
            # v2 inheritance: null entry seq → manifest's seq
            sequence_number=(e["sequence_number"]
                             if e["sequence_number"] is not None
                             else m["sequence_number"]),
            partition=df.get("partition") or None,
            content=int(df.get("content") or 0),
            equality_ids=list(df.get("equality_ids") or []) or None,
            lower_bounds=_bounds_from_avro(df.get("lower_bounds")),
            upper_bounds=_bounds_from_avro(df.get("upper_bounds")),
        )

    def _live_files(self, snap: dict | None,
                    content: int) -> list[DataFileInfo]:
        """Live (non-DELETED) entries of ``snap``'s data (``content=0``)
        or delete (``content=1``) manifests."""
        if snap is None:
            return []
        return [self._entry_file(e, m)
                for m in self._read_manifest_list(snap["manifest-list"])
                if m.get("content", 0) == content
                for e in self._read_manifest(m["manifest_path"])
                if e["status"] != _STATUS_DELETED]

    # -- commits ------------------------------------------------------------
    def _base(self, branch: str = "main") -> _Base:
        """Pin a commit's base: ONE ``_metadata_at`` read, and the head of
        ``branch`` resolved from that dict (commits target branches only,
        and a named branch must exist — :meth:`create_branch`)."""
        meta, version = self._metadata_at()
        head = self._head_id(meta)
        if branch != "main":
            refs = meta.get("refs") or {}
            if branch not in refs:
                raise KeyError(
                    f"no branch {branch!r} — create_branch() first "
                    f"(refs: {sorted(refs)})")
            if refs[branch]["type"] != "branch":
                raise ValueError(
                    f"ref {branch!r} is a {refs[branch]['type']}; "
                    "commits target branches only")
            head = refs[branch]["snapshot-id"]
        parent = next((s for s in meta.get("snapshots", [])
                       if s["snapshot-id"] == head), None)
        return _Base(meta, version, branch, parent)

    def _commit_snapshot(self, base: _Base, operation: str,
                         groups: list[tuple[list[DataFileInfo], int, int]],
                         summary: dict | None = None,
                         summary_extra: dict | None = None,
                         carry: bool = False) -> int:
        """The one snapshot commit every write path shares.

        ``groups`` are ``(files, status, content)`` triples: one manifest
        each (content 0 data, 1 deletes), listed in order.  An empty group
        writes no manifest — except an ADDED data group, which Iceberg
        writes even for an empty append.  ``carry`` lists the parent's
        manifests after the new ones (append, row delta).  The summary
        counters come from the groups: added data files and records,
        deleted ones when a DELETED data group is given (even empty), and
        totals = the parent's totals + added − deleted.  ``summary`` adds
        the operation's own keys, then ``summary_extra`` merges.  The
        manifest list is written last, then the metadata is CAS-published
        on ``base.version``; a branch commit moves only its ref."""
        meta, parent = base.meta, base.parent
        seq = meta["last-sequence-number"] + 1
        snapshot_id = uuid.uuid4().int & ((1 << 62) - 1)  # positive long
        now_ms = int(time.time() * 1000)
        manifests = []
        for files, status, content in groups:
            if not files and (status, content) != (_STATUS_ADDED, 0):
                continue
            path, length = self._write_manifest(
                [self._manifest_entry(
                    f, status, snapshot_id,
                    None if status == _STATUS_ADDED else f.sequence_number)
                 for f in files], meta, content)
            manifests.append(self._manifest_list_entry(
                path, length, seq, snapshot_id, files, status, content))
        if carry and parent is not None:
            manifests.extend(self._read_manifest_list(parent["manifest-list"]))

        def data(status: int) -> list[DataFileInfo]:
            return [f for files, st, content in groups
                    if st == status and content == 0 for f in files]

        added, deleted = data(_STATUS_ADDED), data(_STATUS_DELETED)
        prev = parent["summary"] if parent is not None else {}
        out = {
            "operation": operation,
            "added-data-files": len(added),
            "added-records": sum(f.record_count for f in added),
            "total-data-files": (int(prev.get("total-data-files", 0))
                                 + len(added) - len(deleted)),
            "total-records": (int(prev.get("total-records", 0))
                              + sum(f.record_count for f in added)
                              - sum(f.record_count for f in deleted)),
        }
        if any(st == _STATUS_DELETED and content == 0
               for _, st, content in groups):
            out["deleted-data-files"] = len(deleted)
            out["deleted-records"] = sum(f.record_count for f in deleted)
        out.update(summary or {})
        out.update(summary_extra or {})

        list_name = f"snap-{snapshot_id}-1-{uuid.uuid4().hex}.avro"
        list_path = os.path.join(self.metadata_dir, list_name)
        buf = write_avro_ocf_bytes(
            manifests, MANIFEST_FILE_SCHEMA,
            extra_meta={"format-version": b"2"},
        )
        with open(list_path, "wb") as fh:
            fh.write(buf)
        snap = {
            "snapshot-id": snapshot_id,
            "parent-snapshot-id": parent["snapshot-id"] if parent else None,
            "sequence-number": seq,
            "timestamp-ms": now_ms,
            "manifest-list": _to_uri(list_path),
            "summary": {k: str(v) for k, v in out.items()},
            "schema-id": meta["current-schema-id"],
        }
        meta = dict(meta)
        meta["last-sequence-number"] = seq
        meta["last-updated-ms"] = now_ms
        meta["snapshots"] = meta["snapshots"] + [snap]
        if base.branch == "main":
            # branch commits stage aside: current-snapshot-id and the
            # snapshot-log (= main's became-current history) move only on
            # main commits and fast_forward publishes
            meta["current-snapshot-id"] = snapshot_id
            meta["snapshot-log"] = meta["snapshot-log"] + [
                {"timestamp-ms": now_ms, "snapshot-id": snapshot_id}
            ]
        meta["metadata-log"] = meta["metadata-log"] + [
            {"timestamp-ms": now_ms,
             "metadata-file": _to_uri(self._version_path(base.version))}
        ]
        refs = dict(meta.get("refs") or {})
        refs[base.branch] = {"snapshot-id": snapshot_id, "type": "branch"}
        meta["refs"] = refs
        self._publish(meta, base_version=base.version)
        return snapshot_id

    @contextlib.contextmanager
    def _staged(self):
        """The failure path every writer shares.  Yields ``stage(files)``,
        which records files the writer moved into ``data/`` (and returns
        them).  If the block raises, the staged files are removed while
        no metadata version references them; once ``_publish``'s link
        has succeeded the snapshot is committed, and a later error (a
        failed version-hint update, an interrupt) leaves them in place."""
        since_ms = int(time.time() * 1000)
        staged: list[DataFileInfo] = []

        def stage(files: list[DataFileInfo]) -> list[DataFileInfo]:
            staged.extend(files)
            return files

        try:
            yield stage
        except BaseException:
            if staged and not self._committed_since(since_ms, staged):
                for f in staged:
                    try:
                        os.remove(f.file_path)
                    except OSError:
                        pass
            raise

    def _committed_since(self, since_ms: int,
                         files: list[DataFileInfo]) -> bool:
        """Does a snapshot committed at or after ``since_ms`` add any of
        ``files``?  Only the newest metadata's recent snapshots are read."""
        uris = {_to_uri(f.file_path) for f in files}
        for s in self.snapshots():
            if s["timestamp-ms"] < since_ms:
                continue
            for m in self._read_manifest_list(s["manifest-list"]):
                if m["added_snapshot_id"] == s["snapshot-id"] and any(
                        e["data_file"]["file_path"] in uris
                        for e in self._read_manifest(m["manifest_path"])):
                    return True
        return False

    def commit_append(self, files: list[DataFileInfo],
                      summary_extra: dict | None = None,
                      branch: str = "main") -> int:
        return self._commit_snapshot(
            self._base(branch), "append", [(files, _STATUS_ADDED, 0)],
            summary_extra=summary_extra, carry=True)

    def commit_overwrite(self, files: list[DataFileInfo],
                         summary_extra: dict | None = None,
                         branch: str = "main") -> int:
        base = self._base(branch)
        return self._commit_snapshot(
            base, "overwrite",
            [(files, _STATUS_ADDED, 0),
             (self._live_files(base.parent, 0), _STATUS_DELETED, 0)],
            summary_extra=summary_extra)

    def commit_replace(self, new_files: list[DataFileInfo],
                       replaced: list[DataFileInfo],
                       summary_extra: dict | None = None,
                       purged_deletes: list[DataFileInfo] | None = None,
                       expected_rows: int | None = None) -> int:
        """Commit a REPLACE snapshot (the ``rewrite_data_files`` /
        compaction commit): ``replaced`` live files are swapped for
        ``new_files`` holding the same rows; every other live file is
        rewritten as an EXISTING entry carrying its original data sequence
        number so time travel and sequence-based reasoning are unchanged.
        Row counts must match exactly — a compaction that changes the row
        count is corrupt and is rejected before any metadata is written.

        Concurrent-writer validation (Iceberg's rewrite validation): the
        live file set is re-planned at commit time from the metadata this
        commit builds on.  ``replaced`` files no longer live (a concurrent
        overwrite/expire removed one) fail the commit — the rewrite's
        inputs are gone, its outputs would resurrect deleted rows.  Files
        that appeared since the rewrite planned (e.g. the streaming sink's
        micro-batch append landing mid-compaction) are carried forward as
        EXISTING survivors instead of being silently dropped from the
        replace snapshot's live view (and then GC'd by
        ``expire_snapshots``).

        Equality deletes: new files take this snapshot's sequence number,
        so pre-existing delete files would stop masking the rewritten rows
        — a replace on a table with live deletes must APPLY them during
        the rewrite and pass them as ``purged_deletes`` (removed in the
        same commit, with ``expected_rows`` = the post-delete row count).
        A live delete file neither purged nor expected fails the commit,
        and so does a delete file committed concurrently since the rewrite
        planned (its masking would be lost)."""
        new_rows = sum(f.record_count for f in new_files)
        old_rows = sum(f.record_count for f in replaced)
        want_rows = expected_rows if expected_rows is not None else old_rows
        if new_rows != want_rows:
            raise ValueError(
                f"replace row-count mismatch: new files hold {new_rows} rows, "
                f"expected {want_rows}"
            )
        if expected_rows is not None and new_rows > old_rows:
            raise ValueError(
                f"replace with delete application grew the row count "
                f"({old_rows} -> {new_rows})"
            )
        base = self._base()
        if base.parent is None:
            raise ValueError("cannot replace files in an empty table")
        live_now = self._live_files(base.parent, 0)
        live_paths = {f.file_path for f in live_now}
        replaced_paths = {f.file_path for f in replaced}
        gone = replaced_paths - live_paths
        if gone:
            raise RuntimeError(
                f"concurrent commit invalidated this replace: {len(gone)} "
                f"input file(s) are no longer live (e.g. {sorted(gone)[:2]}) "
                "— re-plan the rewrite from current metadata"
            )
        live_dels = {f.file_path: f
                     for f in self._live_files(base.parent, 1)}
        purged_paths = {f.file_path for f in (purged_deletes or [])}
        if purged_paths - set(live_dels):
            raise RuntimeError(
                "concurrent commit invalidated this replace: a purged "
                "delete file is no longer live — re-plan the rewrite"
            )
        unexpected = set(live_dels) - purged_paths
        if unexpected:
            raise RuntimeError(
                f"live delete file(s) not covered by this replace "
                f"({sorted(unexpected)[:2]}) — rewritten files take a new "
                "sequence number, which would stop these deletes from "
                "masking their rows; re-plan the rewrite applying them"
            )
        # authoritative survivors: every currently-live file not being
        # replaced (includes files committed after the rewrite planned)
        survivors = [f for f in live_now if f.file_path not in replaced_paths]
        if purged_paths:
            # purging a delete resurrects the rows it masked in any file
            # kept with an older sequence number — every maskable file must
            # have been rewritten (strictly-smaller for equality deletes,
            # <= for position deletes)
            max_eq = max((live_dels[p].sequence_number for p in purged_paths
                          if live_dels[p].content == 2), default=None)
            max_pos = max((live_dels[p].sequence_number for p in purged_paths
                           if live_dels[p].content == 1), default=None)
            masked_kept = [
                f for f in survivors
                if (max_eq is not None and f.sequence_number < max_eq)
                or (max_pos is not None and f.sequence_number <= max_pos)]
            if masked_kept:
                raise RuntimeError(
                    f"replace purges deletes but keeps {len(masked_kept)} "
                    f"older file(s) they may mask (e.g. "
                    f"{masked_kept[0].file_path}) — rewrite those too"
                )
        purged = [live_dels[p] for p in sorted(purged_paths)]
        return self._commit_snapshot(
            base, "replace",
            [(new_files, _STATUS_ADDED, 0), (survivors, _STATUS_EXISTING, 0),
             (replaced, _STATUS_DELETED, 0), (purged, _STATUS_DELETED, 1)],
            summary={"removed-delete-files": len(purged)} if purged else None,
            summary_extra=summary_extra)

    def compact_data_files(self, spark: SparkSession,
                           target_file_bytes: int = 128 * 1024 * 1024,
                           min_input_files: int = 2) -> int | None:
        """Bin-pack small-file compaction — the ``rewrite_data_files``
        maintenance action the exactly-once sink needs at scale.

        Each streaming micro-batch commit adds one file per sink partition,
        so a long-running job on many executors accretes thousands of small
        files; scan cost becomes file-open-bound.  This action bin-packs
        live files smaller than ``target_file_bytes`` into
        ``ceil(total/target)`` outputs with ONE distributed Spark job (read
        pinned to the input file list, ``repartition`` to the output count
        — no driver-side row movement), verifies row-count invariance
        against the parquet footers, and commits a REPLACE snapshot: the
        logical table is bit-identical, time travel to pre-compaction
        snapshots still plans the original files, and incremental/CDC reads
        skip the replace snapshot entirely (no row is ever re-delivered).

        When the table carries live delete files (uncompacted upserts —
        equality deletes; or ``delete_where`` position deletes), the
        rewrite APPLIES them: every maskable file (sequence number below
        an equality delete's, or <= a position delete's) joins the input
        set regardless of size, the rewrite scan is the delete-resolved
        read, and the REPLACE commit purges the delete files — afterwards
        :meth:`read` plans a plain scan with no resolution join.

        Returns the new snapshot id, or None when fewer than
        ``min_input_files`` live files are below the target (no-op;
        with live deletes, maskable files always trigger a rewrite).
        """
        import math

        live = self.plan_files()
        dels = self.plan_delete_files()
        # equality deletes mask files with STRICTLY SMALLER sequence
        # numbers; position deletes mask <= theirs (spec §Scan Planning)
        max_eq = max((d.sequence_number for d in dels if d.content == 2),
                     default=None)
        max_pos = max((d.sequence_number for d in dels if d.content == 1),
                      default=None)

        def maskable(f: DataFileInfo) -> bool:
            return ((max_eq is not None and f.sequence_number < max_eq)
                    or (max_pos is not None and f.sequence_number <= max_pos))

        inputs = [f for f in live
                  if f.file_size_in_bytes < target_file_bytes or maskable(f)]
        if not dels and len(inputs) < min_input_files:
            return None
        if dels and not inputs:
            if not live:
                return None  # deletes mask nothing (no data files)
            inputs = live  # nothing maskable/small: still fold deletes away
        total_bytes = sum(f.file_size_in_bytes for f in inputs)
        n_out = max(1, math.ceil(total_bytes / target_file_bytes))

        ddl = iceberg_schema_to_ddl(self.schema_json())
        tmp = os.path.join(self.location, f".tmp-compact-{uuid.uuid4().hex[:8]}")
        scan = spark.read.schema(ddl).parquet(*[f.file_path for f in inputs])
        expected_rows = None
        if dels:
            scan = self._apply_deletes(spark, scan, inputs, dels)
            expected_rows = scan.count()
        spec = self.spec_fields()
        if spec:
            # partitioned table: cluster the rewrite by partition columns so
            # each output file holds one partition tuple (the partitionBy
            # dirs re-derive the manifest partition values), bin-packing
            # within partitions like Iceberg's binpack rewrite
            exprs = self._partition_exprs()
            dup = [f"__p_{name}" for name, _ in exprs]
            for d, (_, col) in zip(dup, exprs):
                scan = scan.withColumn(d, col)
            (scan.repartition(n_out, *dup)
             .write.partitionBy(*dup).mode("overwrite").parquet(tmp))
        else:
            scan.repartition(n_out).write.mode("overwrite").parquet(tmp)
        import shutil

        with self._staged() as stage:
            infos = stage(
                self._register_written_files(tmp, name_prefix="compact-"))
            shutil.rmtree(tmp, ignore_errors=True)
            return self.commit_replace(
                infos, inputs,
                summary_extra={"compaction-input-files": len(inputs)},
                purged_deletes=dels or None,
                expected_rows=expected_rows,
            )

    def rewrite_manifests(self, target_entries_per_manifest: int = 100_000,
                          summary_extra: dict | None = None) -> int | None:
        """Metadata-only manifest compaction — Iceberg's
        ``rewrite_manifests`` maintenance action, the PLANNING-cost lever
        at stream scale: every micro-batch append prepends one manifest
        to the list, so a year-long sink topic makes ``plan_files`` /
        ``append_log`` pay one manifest open per historical commit.  This
        reads the current snapshot's live entries once and commits a
        'replace' snapshot whose manifest list holds
        ``ceil(n / target_entries_per_manifest)`` consolidated data
        manifests (+ one delete manifest when delete files are live),
        every entry EXISTING with its ORIGINAL data sequence number and
        column bounds — the live file set, delete-sequence semantics,
        time travel, CDC and tail offsets are all unchanged (a 'replace'
        snapshot contributes nothing to the append log), and no data
        file is opened or moved.  Concurrency-safe like every commit
        here: the metadata version CAS fails if another writer lands
        first.  Returns the new snapshot id, or None when the manifest
        list is already consolidated."""
        import math

        base = self._base()
        if base.parent is None:
            return None
        old_manifests = self._read_manifest_list(base.parent["manifest-list"])
        live = sorted(self._live_files(base.parent, 0),
                      key=lambda f: f.file_path)
        dels = sorted(self._live_files(base.parent, 1),
                      key=lambda f: f.file_path)
        want = (math.ceil(len(live) / target_entries_per_manifest)
                + (1 if dels else 0)) or 1
        if len(old_manifests) <= max(want, 2):
            return None
        step = target_entries_per_manifest
        groups = [(live[i:i + step], _STATUS_EXISTING, 0)
                  for i in range(0, len(live), step)]
        if dels:
            groups.append((dels, _STATUS_EXISTING, 1))
        return self._commit_snapshot(
            base, "replace", groups,
            summary={"rewritten-manifests": len(old_manifests),
                     "added-manifests": len(groups)},
            summary_extra=summary_extra)

    def expire_snapshots(self, older_than_ms: int | None = None,
                         retain_last: int = 1) -> dict:
        """Expire snapshot history + garbage-collect unreachable files —
        the ``expire_snapshots`` maintenance action.

        A per-micro-batch exactly-once sink accretes one snapshot per
        trigger forever, and compaction's replaced files stay on disk as
        long as any pre-compaction snapshot can still plan them.  This
        expires every snapshot older than ``older_than_ms`` (no age bound
        when None) while always retaining the ``retain_last`` newest plus
        the current snapshot, then deletes manifest lists, manifests, and
        data files reachable ONLY from expired snapshots.

        GC is reference-counted against the retained set, at two levels:

        - a MANIFEST file survives if any retained snapshot's manifest list
          references it (append commits share manifests with ancestors, and
          ``plan_files`` must be able to open every manifest in a retained
          list — including one holding only DELETED entries);
        - a DATA file survives only if some retained snapshot references it
          as LIVE (a non-DELETED entry).  A file a replace/overwrite
          snapshot marked DELETED is never opened when reading that
          snapshot, so once every snapshot where it was live expires, it is
          deleted — Iceberg's rule, and what lets compaction's replaced
          small files actually leave the disk.

        Time travel to an expired snapshot raises KeyError afterwards; the
        retained history is unchanged.  Returns counts:
        ``{"expired_snapshots", "data_files", "manifests",
        "manifest_lists"}``.
        """
        meta, base_version = self._metadata_at()
        snaps = meta.get("snapshots", [])
        keep_ids = {s["snapshot-id"] for s in snaps[-max(retain_last, 1):]}
        cur = self._head_id(meta)
        if cur is not None:
            keep_ids.add(cur)
        # refs pin their snapshots: a tagged training set never expires
        for r in (meta.get("refs") or {}).values():
            keep_ids.add(r["snapshot-id"])
        # a BRANCH additionally pins its UNPUBLISHED ancestry (staged
        # commits not yet on main): expiring an intermediate staged
        # snapshot would dangle the branch's parent chain, making
        # fast_forward refuse the publish forever and losing the staged
        # rows from the published append log.  Published (main-ancestor)
        # history stays governed by the normal retain policy.
        main_anc = {s["snapshot-id"] for s in self._ancestry_from(meta, cur)}
        by_id = {s["snapshot-id"]: s for s in snaps}
        for name, r in (meta.get("refs") or {}).items():
            if r["type"] != "branch" or name == "main":
                continue
            sid = r["snapshot-id"]
            while (sid is not None and sid in by_id
                   and sid not in main_anc):
                keep_ids.add(sid)
                sid = by_id[sid].get("parent-snapshot-id")
        retained, expired = [], []
        for s in snaps:
            if (s["snapshot-id"] in keep_ids
                    or (older_than_ms is not None
                        and s["timestamp-ms"] >= older_than_ms)):
                retained.append(s)
            else:
                expired.append(s)
        if not expired:
            return {"expired_snapshots": 0, "data_files": 0,
                    "manifests": 0, "manifest_lists": 0}

        keep_manifests: set[str] = set()
        keep_paths: set[str] = set()
        for s in retained:
            for m in self._read_manifest_list(s["manifest-list"]):
                mp = _from_uri(m["manifest_path"])
                keep_manifests.add(mp)
                for e in self._read_manifest(mp):
                    if e["status"] != _STATUS_DELETED:
                        keep_paths.add(_from_uri(e["data_file"]["file_path"]))
        drop_lists: set[str] = set()
        drop_manifests: set[str] = set()
        drop_data: set[str] = set()
        for s in expired:
            drop_lists.add(_from_uri(s["manifest-list"]))
            for m in self._read_manifest_list(s["manifest-list"]):
                mp = _from_uri(m["manifest_path"])
                if mp in keep_manifests:
                    continue
                drop_manifests.add(mp)
                for e in self._read_manifest(mp):
                    p = _from_uri(e["data_file"]["file_path"])
                    if p not in keep_paths:
                        drop_data.add(p)

        expired_ids = {s["snapshot-id"] for s in expired}
        meta = dict(meta)
        meta["snapshots"] = retained
        meta["snapshot-log"] = [
            e for e in meta.get("snapshot-log", [])
            if e["snapshot-id"] not in expired_ids
        ]
        # Record the tail-resume watermark BEFORE history is forgotten:
        # the highest sequence-number among expired MAIN-ancestry
        # snapshots that appended data files (replace/compaction rewrites
        # and delete-only commits deliver nothing to a tail, so they
        # never move it).  A snapshot-tail whose checkpointed offset
        # snapshot has expired can prove "nothing I still owed was lost"
        # iff its own sequence number is at or past this watermark — see
        # IcebergTailReader._resolve_index (engine/tail.py).  Written on
        # every expiry (even an append-free one) so the tail can
        # distinguish "retention ran and provably lost you nothing" from
        # "no expiry record at all" (mismatched table / pre-feature
        # metadata), where it must stay strict.
        gone_append_seqs = [
            s.get("sequence-number") or 0 for s in expired
            if s["snapshot-id"] in main_anc
            and s["summary"].get("operation") != "replace"
            and int(s["summary"].get("added-data-files") or 0) > 0
        ]
        props = dict(meta.get("properties") or {})
        prev_wm = int(props.get(TAIL_EXPIRY_WATERMARK_PROP) or 0)
        props[TAIL_EXPIRY_WATERMARK_PROP] = str(
            max([prev_wm] + gone_append_seqs))
        meta["properties"] = props
        meta["last-updated-ms"] = int(time.time() * 1000)
        self._publish(meta, base_version=base_version)
        # physical deletes AFTER the metadata publish: a reader pinned to
        # the new version never sees the dropped paths; readers of older
        # metadata versions race the GC exactly as in Iceberg proper
        for p in drop_lists | drop_manifests | drop_data:
            try:
                os.remove(p)
            except OSError:
                pass
        # prune partition dirs the GC emptied (bottom-up; non-empty rmdir
        # fails harmlessly if a racing writer landed a file)
        for root, _dirs, _names in os.walk(self.data_dir, topdown=False):
            if root != self.data_dir:
                try:
                    os.rmdir(root)
                except OSError:
                    pass
        return {"expired_snapshots": len(expired),
                "data_files": len(drop_data),
                "manifests": len(drop_manifests),
                "manifest_lists": len(drop_lists)}

    def remove_orphan_files(self, older_than_ms: int | None = None,
                            dry_run: bool = False) -> dict:
        """Delete files under the table location that NO metadata
        references — the third maintenance action (compact → expire →
        remove-orphans), covering what the other two cannot: leftovers of
        crashed/killed write jobs (a Spark task's parquet output whose
        commit never happened, half-built ``.tmp-*`` staging dirs, an
        interrupted compaction's rewrite output).  Mirrors Iceberg's
        ``remove_orphan_files`` procedure semantics:

        - REFERENCED = every data/delete file in every manifest entry
          (any status — DELETED entries still pin bytes for older
          snapshots) of every retained snapshot, plus manifests, manifest
          lists, ``v*.metadata.json`` and ``version-hint.text``;
        - only files whose mtime is older than ``older_than_ms`` are
          removed (default: now − 3 days, Iceberg's default guard) — an
          IN-FLIGHT writer's staged-but-uncommitted output is younger
          than any sane cutoff, so the race against active writers is
          closed by time, exactly as in the reference procedure;
        - ``dry_run`` lists what would go without deleting.

        Returns ``{"data_files", "metadata_files", "tmp_files",
        "paths"(dry_run only)}``."""
        cutoff = (older_than_ms if older_than_ms is not None
                  else int(time.time() * 1000) - 3 * 86_400_000)
        meta = self.metadata()
        keep: set[str] = set()
        for s in meta.get("snapshots", []):
            ml = _from_uri(s["manifest-list"])
            keep.add(ml)
            for m in self._read_manifest_list(ml):
                mp = _from_uri(m["manifest_path"])
                keep.add(mp)
                for e in self._read_manifest(mp):
                    keep.add(_from_uri(e["data_file"]["file_path"]))

        def old(p: str) -> bool:
            try:
                return os.path.getmtime(p) * 1000 < cutoff
            except OSError:
                return False

        orphan_data: list[str] = []
        for root, _dirs, names in os.walk(self.data_dir):
            for n in names:
                p = os.path.join(root, n)
                if p not in keep and old(p):
                    orphan_data.append(p)
        orphan_meta: list[str] = []
        for n in os.listdir(self.metadata_dir):
            p = os.path.join(self.metadata_dir, n)
            if not os.path.isfile(p):
                continue
            if n == "version-hint.text" or self._VERSION_FILE_RE.match(n):
                continue
            if p not in keep and old(p):
                orphan_meta.append(p)
        orphan_tmp: list[str] = []
        for n in os.listdir(self.location):
            if not n.startswith(".tmp-"):
                continue
            d = os.path.join(self.location, n)
            for root, _dirs, names in os.walk(d):
                for fn in names:
                    p = os.path.join(root, fn)
                    if old(p):
                        orphan_tmp.append(p)
        out = {"data_files": len(orphan_data),
               "metadata_files": len(orphan_meta),
               "tmp_files": len(orphan_tmp)}
        if dry_run:
            out["paths"] = sorted(orphan_data + orphan_meta + orphan_tmp)
            return out
        for p in orphan_data + orphan_meta + orphan_tmp:
            try:
                os.remove(p)
            except OSError:
                pass
        # prune dirs the removal emptied (.tmp-* staging + partition dirs)
        for base in (self.location, self.data_dir):
            for root, _dirs, _names in os.walk(base, topdown=False):
                if root not in (self.location, self.data_dir,
                                self.metadata_dir):
                    try:
                        os.rmdir(root)
                    except OSError:
                        pass
        return out

    # -- planning / reading -------------------------------------------------
    def normalize_partition_filter(self, partition_filter: dict | None
                                   ) -> dict | None:
        """User-facing filter (SOURCE-column values) → transformed
        partition-tuple space, as stored in manifests: day → epoch-day,
        bucket[N] → murmur3 ordinal (equality/in-list only — hash ordinals
        carry no order), truncate[W] → truncated value.  Unknown columns
        raise (a typo would silently scan everything otherwise).  The
        result matches file partition dicts via :func:`_partition_match`."""
        if not partition_filter:
            return partition_filter
        fields = {f["name"]: f for f in self.spec_fields()}
        bad = set(partition_filter) - set(fields)
        if bad:
            raise ValueError(
                f"not partition columns of this table: {sorted(bad)} "
                f"(spec: {sorted(fields)})")
        schema_fields = {
            f["id"]: f for f in self.schema_json()["fields"]}

        def norm(fld: dict, cond):
            tr = fld.get("transform", "identity")
            if tr in _TIME_TRANSFORMS:
                return _to_time_ordinal(cond, tr)
            if tr.startswith("bucket["):
                nb = int(tr[len("bucket["):-1])
                st = schema_fields[fld["source-id"]]["type"]
                if isinstance(cond, tuple) and len(cond) == 2:
                    raise ValueError(
                        f"range filter on bucket partition "
                        f"{fld['name']!r} — hash ordinals carry no "
                        "order; use equality or an in-list of source "
                        "values")
                if isinstance(cond, (list, set, frozenset)):
                    return [bucket_value(v, st, nb) for v in cond]
                return bucket_value(cond, st, nb)
            if tr.startswith("truncate["):
                w = int(tr[len("truncate["):-1])
                st = schema_fields[fld["source-id"]]["type"]
                if isinstance(cond, tuple) and len(cond) == 2:
                    return (truncate_value(cond[0], st, w),
                            truncate_value(cond[1], st, w))
                if isinstance(cond, (list, set, frozenset)):
                    return [truncate_value(v, st, w) for v in cond]
                return truncate_value(cond, st, w)
            return cond

        return {col: norm(fields[col], cond)
                for col, cond in partition_filter.items()}

    def plan_files(self, snapshot_id: int | None = None,
                   as_of_ms: int | None = None,
                   partition_filter: dict | None = None,
                   stats_filter: dict | None = None,
                   ref: str | None = None) -> list[DataFileInfo]:
        """Live data files at a snapshot (current by default): one manifest
        list + its manifests, no ``data/`` directory listing.

        ``partition_filter`` prunes partitioned tables at the MANIFEST
        level (no data file is opened): ``{col: value}`` keeps files whose
        partition equals the value, ``{col: [v1, v2]}`` an in-list,
        ``{col: (lo, hi)}`` an inclusive range.  Filter VALUES are always
        SOURCE-column values; transform fields normalize them (day →
        epoch-day, bucket[N] → murmur3 ordinal, truncate[W] → truncated
        value — ranges are valid on day/truncate, which preserve order,
        and rejected on bucket, which doesn't).  Unknown columns raise (a
        typo would silently scan everything otherwise).

        ``stats_filter`` skips files by the manifest's per-column value
        bounds (spec metrics evaluation) — ``{col: value | [in-list] |
        (lo, hi)}`` on any top-level scalar column, partitioned or not.
        Files without bounds for a column are KEPT (missing metrics can
        never wrongly skip), so the result is a SUPERSET of the matching
        rows' files: :meth:`read` re-applies the predicate row-level."""
        partition_filter = self.normalize_partition_filter(partition_filter)
        stats_cols: dict[int, tuple[str, object]] = {}
        if stats_filter:
            by_name = {f["name"]: f
                       for f in self.schema_json()["fields"]}
            bad = set(stats_filter) - set(by_name)
            if bad:
                raise ValueError(
                    f"stats_filter columns not in schema: {sorted(bad)}")
            for col, cond in stats_filter.items():
                fld = by_name[col]
                if not isinstance(fld["type"], str):
                    raise ValueError(
                        f"stats_filter on non-scalar column {col!r}")
                stats_cols[fld["id"]] = (fld["type"], cond)
        snap = self._resolve_snapshot(snapshot_id, as_of_ms, ref)
        return [f for f in self._live_files(snap, 0)
                if (not partition_filter
                    or _partition_match(f.partition or {}, partition_filter))
                and (not stats_cols or _stats_match(
                    f.lower_bounds, f.upper_bounds, stats_cols))]

    def plan_delete_files(self, snapshot_id: int | None = None,
                          as_of_ms: int | None = None,
                          ref: str | None = None) -> list[DataFileInfo]:
        """Live delete files at a snapshot (content=1 manifests), both
        kinds: equality deletes (``content=2`` — mask rows matching their
        key tuples in files with a STRICTLY SMALLER data sequence number)
        and position deletes (``content=1`` — mask the exact (file, row
        ordinal) pairs they record, in files with sequence number <=
        theirs).  Global (unpartitioned) application — partition pruning
        never skips a delete, so pruned reads stay correct."""
        return self._live_files(
            self._resolve_snapshot(snapshot_id, as_of_ms, ref), 1)

    def incremental_files(self, from_snapshot_id: int | None,
                          to_snapshot_id: int | None = None
                          ) -> list[DataFileInfo]:
        """Files ADDED by snapshots in ``(from, to]`` — the pullChanges /
        incremental-scan analogue (``engine/store.py pull_changes``).
        Walks MAIN's ancestry: staged side-branch commits are invisible
        here until a fast-forward publishes them."""
        snaps = self._ancestry()
        if from_snapshot_id is not None and not any(
            s["snapshot-id"] == from_snapshot_id for s in snaps
        ):
            # mirror snapshot()'s behavior: a stale/unknown snapshot id is
            # an error, not "no changes" — silently returning [] would be a
            # data-miss path for the pullChanges analogue
            raise KeyError(
                f"from_snapshot_id {from_snapshot_id} not found in table "
                f"snapshot history"
            )
        started = from_snapshot_id is None
        out: list[DataFileInfo] = []
        for s in snaps:
            if not started:
                started = s["snapshot-id"] == from_snapshot_id
                continue
            # replace-skip + delete-manifest-skip + ADDED-only semantics
            # live in snapshot_added_files (one definition for CDC and
            # the tail source's append log)
            out.extend(self.snapshot_added_files(s))
            if to_snapshot_id is not None and s["snapshot-id"] == to_snapshot_id:
                break
        return out

    def append_log(self, partition_filter: dict | None = None
                   ) -> list[tuple[int, list[DataFileInfo]]]:
        """The table's APPEND LOG: ``[(snapshot_id, added_data_files)]`` in
        commit order, files sorted by path within each snapshot — the
        deterministic, replayable sequence a snapshot-tail streaming
        source consumes (engine/tail.py).  Same row semantics as
        :meth:`incremental_files` (Iceberg's incremental append scan):
        replace/compaction snapshots contribute nothing (rewritten bytes,
        not new rows), delete manifests are skipped (an upsert's NEW rows
        are delivered; retractions are the reader's resolution concern).
        Snapshots that add no data files (delete-only commits, tags) still
        appear with an empty list, so offsets can land on any snapshot.
        ``partition_filter`` takes SOURCE-column values (normalized via
        :meth:`normalize_partition_filter`) and drops non-matching files
        at the manifest level — no data file is opened here at all.
        Walks MAIN's ancestry: a tail following main never delivers a
        staged side-branch commit — a fast-forward publish splices the
        branch snapshots INTO main's ancestry, where they then deliver
        exactly once, in commit order."""
        flt = self.normalize_partition_filter(partition_filter)
        return [(s["snapshot-id"], self.snapshot_added_files(s, flt))
                for s in self._ancestry()]

    def snapshot_added_files(self, snap: dict,
                             normalized_filter: dict | None = None
                             ) -> list[DataFileInfo]:
        """ONE snapshot's entry in the append log (see :meth:`append_log`),
        path-sorted. A committed snapshot's added-file set is immutable,
        so callers that poll (the tail source) can cache per snapshot id
        and pay only the NEW snapshot's manifest reads per refresh instead
        of O(history). ``normalized_filter`` must already be in
        transformed partition space (:meth:`normalize_partition_filter`)."""
        sid = snap["snapshot-id"]
        if snap["summary"].get("operation") == "replace":
            return []
        files = [
            self._entry_file(e, m)
            for m in self._read_manifest_list(snap["manifest-list"])
            if m["added_snapshot_id"] == sid and m.get("content", 0) == 0
            for e in self._read_manifest(m["manifest_path"])
            if e["status"] == _STATUS_ADDED and e["snapshot_id"] == sid]
        if normalized_filter:
            files = [f for f in files if _partition_match(
                f.partition or {}, normalized_filter)]
        return sorted(files, key=lambda f: f.file_path)

    def read(self, spark: SparkSession, snapshot_id: int | None = None,
             as_of_ms: int | None = None,
             partition_filter: dict | None = None,
             stats_filter: dict | None = None,
             ref: str | None = None) -> DataFrame:
        """Scan pinned to exactly the planned files, schema pinned from
        table metadata (no inference / no extra listing job).  With
        ``partition_filter`` the scan reads ONLY the matching partitions'
        files (manifest-level pruning — the reader never lists or opens
        non-matching files).

        ``stats_filter`` prunes files by the manifest's per-column value
        bounds (a superset of the matching rows' files) and then re-applies
        the SAME predicate row-level inside the scan, so the result is
        exact — bounds only decide which files are never opened.

        When the snapshot carries live equality-delete files (an upsert
        not yet compacted away), they are applied in-plan: one broadcast
        basename→sequence attach on the data scan, then one broadcast
        LEFT ANTI join per distinct delete-key set with the spec's
        strictly-smaller-sequence predicate.  After
        ``compact_data_files`` purges the deletes, this method plans a
        PLAIN scan again — no resolution join survives compaction."""
        files = self.plan_files(snapshot_id, as_of_ms, partition_filter,
                                stats_filter, ref)
        ddl = iceberg_schema_to_ddl(self.schema_json())
        if not files:
            return spark.createDataFrame([], ddl)
        df = spark.read.schema(ddl).parquet(*[f.file_path for f in files])
        if stats_filter:
            from pyspark.sql import functions as F

            for col, cond in stats_filter.items():
                if isinstance(cond, tuple) and len(cond) == 2:
                    df = df.filter(F.col(col).between(cond[0], cond[1]))
                elif isinstance(cond, (list, set, frozenset)):
                    df = df.filter(F.col(col).isin(list(cond)))
                else:
                    df = df.filter(F.col(col) == F.lit(cond))
        dels = self.plan_delete_files(snapshot_id, as_of_ms, ref)
        if not dels:
            return df
        return self._apply_deletes(spark, df, files, dels)

    def _apply_deletes(self, spark: SparkSession, df: DataFrame,
                       files: list[DataFileInfo],
                       dels: list[DataFileInfo]) -> DataFrame:
        """Apply live delete files of both v2 kinds to a pinned data scan.

        File identity (basename) + row ordinal (``_metadata.row_index``)
        + data sequence number are attached ONCE here, while ``df`` is
        still the raw file scan — metadata columns and
        ``input_file_name`` don't survive a shuffle, so attachment must
        precede every join.  Then equality deletes (content=2) and
        position deletes (content=1) each subtract via anti-joins; order
        doesn't affect the result."""
        from pyspark.sql import functions as F

        cols = df.columns
        base_seq = [(os.path.basename(f.file_path), f.sequence_number)
                    for f in files]
        if len({b for b, _ in base_seq}) != len(base_seq):
            raise RuntimeError(
                "data file basenames are not unique — cannot attach "
                "sequence numbers for delete application")
        seq_df = spark.createDataFrame(
            base_seq, "__file_base string, __seq bigint")
        df = (
            df.withColumn(
                "__file_base",
                F.regexp_extract(F.col("_metadata.file_path"), "[^/]*$", 0))
            .withColumn("__pos", F.col("_metadata.row_index"))
            .join(F.broadcast(seq_df), "__file_base")
        )
        eq = [d for d in dels if d.content == 2]
        pos = [d for d in dels if d.content == 1]
        if eq:
            df = self._apply_equality_deletes(spark, df, eq)
        if pos:
            df = self._apply_position_deletes(spark, df, pos)
        return df.select(*cols)

    def _apply_position_deletes(self, spark: SparkSession, df: DataFrame,
                                dels: list[DataFileInfo]) -> DataFrame:
        """Mask data rows per the v2 position-delete rule: a row is deleted
        iff some live position-delete file records (its file, its row
        ordinal) with a data sequence number >= the row's file's —
        position deletes may target rows committed in their own snapshot,
        hence >= where equality deletes use strictly-greater.  ``df``
        must already carry ``__file_base``/``__pos``/``__seq``
        (:meth:`_apply_deletes`).  The join is a plain equi-join on
        (file basename, position) with the sequence rule as a residual,
        so the delete set stays distributed (no driver materialization,
        no forced broadcast) however large the deletion."""
        from pyspark.sql import functions as F

        dseq = [(os.path.basename(d.file_path), d.sequence_number)
                for d in dels]
        dseq_df = spark.createDataFrame(
            dseq, "__dfile_base string, __dseq bigint")
        del_df = (
            spark.read.schema("file_path string, pos long")
            .parquet(*[d.file_path for d in dels])
            .withColumn(
                "__dfile_base",
                F.regexp_extract(F.col("_metadata.file_path"), "[^/]*$", 0))
            .join(F.broadcast(dseq_df), "__dfile_base")
            .select(
                F.regexp_extract("file_path", "[^/]*$", 0).alias("__t_base"),
                F.col("pos").alias("__t_pos"),
                F.col("__dseq").alias("__t_dseq"))
        )
        cond = ((F.col("__file_base") == F.col("__t_base"))
                & (F.col("__pos") == F.col("__t_pos"))
                & (F.col("__t_dseq") >= F.col("__seq")))
        return df.join(del_df, on=cond, how="left_anti")

    def _apply_equality_deletes(self, spark: SparkSession, df: DataFrame,
                                dels: list[DataFileInfo]) -> DataFrame:
        """Mask data rows per the v2 equality-delete rule: a row is deleted
        iff some live delete file has a matching key tuple AND a data
        sequence number strictly greater than the row's file's.  ``df``
        must already carry ``__file_base``/``__seq``
        (:meth:`_apply_deletes`)."""
        from pyspark.sql import functions as F

        schema_fields = self.schema_json()["fields"]
        id_to_name = {f["id"]: f["name"] for f in schema_fields}

        def key_ddl(keys: list[str]) -> str:
            by_name = {f["name"]: f for f in schema_fields}
            return iceberg_schema_to_ddl(
                {"fields": [by_name[k] for k in keys]})

        by_ids: dict[tuple, list[DataFileInfo]] = {}
        for d in dels:
            by_ids.setdefault(tuple(d.equality_ids or ()), []).append(d)
        for ids, group in sorted(by_ids.items()):
            if not ids:
                raise RuntimeError("equality-delete file without key ids")
            keys = [id_to_name[i] for i in ids]
            dseq = [(os.path.basename(d.file_path), d.sequence_number)
                    for d in group]
            dseq_df = spark.createDataFrame(
                dseq, "__dfile_base string, __dseq bigint")
            del_df = (
                spark.read.schema(key_ddl(keys))
                .parquet(*[d.file_path for d in group])
                .withColumn("__dfile_base",
                            F.regexp_extract(F.input_file_name(), "[^/]*$", 0))
                .join(F.broadcast(dseq_df), "__dfile_base")
                .select(*[F.col(k).alias(f"__d_{k}") for k in keys], "__dseq")
            )
            # broadcast only when the manifests say the key set is small;
            # a 10^9-key delete must plan a shuffled join, not an
            # executor-OOM broadcast. Gate on exact FILE BYTES (footer
            # metadata) rather than record count — wide string keys can
            # make a modest row count broadcast-huge
            if sum(d.file_size_in_bytes for d in group) <= 32 << 20:
                del_df = F.broadcast(del_df)
            cond = F.col("__dseq") > F.col("__seq")
            for k in keys:
                cond = cond & F.col(k).eqNullSafe(F.col(f"__d_{k}"))
            df = df.join(del_df, on=cond, how="left_anti")
        return df

    # -- writing DataFrames -------------------------------------------------
    def write_dataframe(self, df: DataFrame, mode: str = "append",
                        summary_extra: dict | None = None,
                        branch: str = "main") -> int:
        """Write ``df`` as parquet data files + one snapshot commit.

        Executors write the data (standard parquet job into a temp dir);
        the driver renames files into ``data/`` under collision-free names
        and reads row counts from footers — O(#files) driver work.

        ``branch`` targets a named branch ref (:meth:`create_branch`)
        instead of main — the write-audit-publish staging write; main and
        its followers see nothing until :meth:`fast_forward`."""
        if mode not in ("append", "overwrite"):
            raise ValueError(f"iceberg save mode must be append/overwrite, got {mode!r}")
        commit = (self.commit_append if mode == "append"
                  else self.commit_overwrite)
        with self._staged() as stage:
            infos = stage(self._write_partitioned_tmp(df, "write", ""))
            return commit(infos, summary_extra, branch=branch)

    def _write_partitioned_tmp(self, df: DataFrame, job_prefix: str,
                               name_prefix: str) -> list[DataFileInfo]:
        """One parquet write job into a temp dir + file registration — the
        shared data-file writer every write path uses.  Iceberg keeps
        partition columns IN the data files (unlike the Hive layout);
        ``partitionBy`` would drop them, so partitioned tables write
        through duplicated ``__p_*`` columns — the dirs carry the values
        for the manifests, the files keep the full row."""
        import shutil

        tmp = os.path.join(
            self.location, f".tmp-{job_prefix}-{uuid.uuid4().hex[:8]}")
        spec = self.spec_fields()
        if spec:
            exprs = self._partition_exprs()
            dup = [f"__p_{name}" for name, _ in exprs]
            clash = set(dup) & set(df.columns)
            if clash:
                raise ValueError(
                    f"column names reserved for the writer: {clash}")
            for d, (_, col) in zip(dup, exprs):
                df = df.withColumn(d, col)
            df.write.partitionBy(*dup).mode("overwrite").parquet(tmp)
        else:
            df.write.mode("overwrite").parquet(tmp)
        try:
            return self._register_written_files(tmp, name_prefix=name_prefix)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def overwrite_partitions(self, df: DataFrame, partition_filter: dict,
                             summary_extra: dict | None = None) -> int:
        """Partition-level overwrite — Iceberg ``REPLACE WHERE`` / Hive
        ``INSERT OVERWRITE ... PARTITION`` parity, the day-correction
        write for a partitioned topic: exactly the files whose partition
        tuples match ``partition_filter`` (SOURCE-column values, any
        transform) are swapped for ``df``'s rows; every other partition's
        entries are carried as EXISTING with their original sequence
        numbers, and live delete files of both kinds are carried too (a
        partial overwrite that dropped them would resurrect masked rows
        in the KEPT partitions).  Every row of ``df`` must fall inside
        the target partitions — a row outside raises before any metadata
        is written (a correction that silently leaked rows into other
        partitions would be a data bug).  Time travel to older snapshots
        still plans the replaced files; CDC and tails deliver the NEW
        rows (a corrected day re-delivers — the intended backfill
        semantic).  Returns the new snapshot id."""
        if not self.spec_fields():
            raise ValueError(
                "overwrite_partitions needs a partitioned table — use "
                "write_dataframe(mode='overwrite') for a full replace")
        flt = self.normalize_partition_filter(partition_filter)
        if not flt:
            raise ValueError(
                "partition_filter must name at least one partition column")

        with self._staged() as stage:
            new_files = stage(
                self._write_partitioned_tmp(df, "powr", "powr-"))
            # validate on the WRITTEN files' partition tuples — exact even
            # for non-deterministic frames (a pre-write scan could pass
            # while the write job re-computes different rows), and no
            # extra Spark job.  A null partition value matches nothing in
            # _partition_match, so null-partition rows count as outside.
            stray = [f for f in new_files
                     if not _partition_match(f.partition or {}, flt)]
            if stray:
                raise ValueError(
                    f"overwrite_partitions: {len(stray)} written file(s) "
                    f"fall outside the target partitions {sorted(flt)} "
                    f"(e.g. {stray[0].partition}) — filter the frame or "
                    "widen the partition_filter")
            base = self._base()
            if base.parent is None:
                raise ValueError(
                    "cannot overwrite partitions of an empty table")
            # the added files, the non-matching live files as EXISTING,
            # the matching ones as DELETED, and the live delete files
            # (both kinds) as EXISTING
            live = self._live_files(base.parent, 0)
            groups = [(new_files, _STATUS_ADDED, 0)] if new_files else []
            groups += [
                ([f for f in live
                  if not _partition_match(f.partition or {}, flt)],
                 _STATUS_EXISTING, 0),
                ([f for f in live
                  if _partition_match(f.partition or {}, flt)],
                 _STATUS_DELETED, 0),
                (self._live_files(base.parent, 1), _STATUS_EXISTING, 1)]
            return self._commit_snapshot(base, "overwrite", groups,
                                         summary_extra=summary_extra)

    def upsert(self, spark: SparkSession, df: DataFrame,
               key_cols: list[str],
               summary_extra: dict | None = None) -> int:
        """PHYSICAL upsert — one row-delta snapshot (Iceberg v2 row-level
        deletes; the reference's Hudi UPSERT seam,
        ``base/HudiOperationType.java:20-23``): ``df``'s rows are written
        as new data files AND one equality-delete file holding ``df``'s
        key tuples is committed alongside.  Both carry this snapshot's
        sequence number, so the delete masks matching rows in every OLDER
        file while never touching the upsert's own rows (strictly-smaller
        rule).  Readers resolve in-plan (:meth:`read`) until
        :meth:`compact_data_files` folds the deletes into the data files —
        after which reads plan a plain scan with no resolution window.

        ``df`` must be unique per key (two rows with one key in a single
        upsert would both survive — rejected loudly instead)."""
        from pyspark.sql import functions as F

        missing = [k for k in key_cols if k not in df.columns]
        if missing:
            raise ValueError(f"upsert key columns not in frame: {missing}")
        per_key = df.groupBy(*key_cols).count()
        rows, most = per_key.agg(F.sum("count"), F.max("count")).first()
        if (most or 0) > 1:
            dup = per_key.filter(F.col("count") > 1).limit(1).collect()
            raise ValueError(
                f"upsert frame has multiple rows for key "
                f"{[dup[0][k] for k in key_cols]} — resolve to one row per "
                "key before upserting")
        name_to_id = {f["name"]: f["id"]
                      for f in self.schema_json()["fields"]}
        eq_ids = [name_to_id[k] for k in key_cols]

        with self._staged() as stage:
            # data files (partition-aware, same writer as write_dataframe)
            data_infos = stage(
                self._write_partitioned_tmp(df, "upsert", "upsert-"))
            # the equality-delete files: just the key tuples, hash-sharded
            # so a huge upsert's key write stays parallel, at most one
            # shard per EQ_DELETE_ROWS_PER_FILE rows
            shards = max(1, min(
                -(-(rows or 0) // EQ_DELETE_ROWS_PER_FILE),  # ceil
                int(spark.conf.get("spark.sql.shuffle.partitions"))))
            tmp2 = os.path.join(
                self.location, f".tmp-eqdel-{uuid.uuid4().hex[:8]}")
            df.select(*key_cols).repartition(shards, *key_cols) \
                .write.mode("overwrite").parquet(tmp2)
            del_infos = stage(self._harvest_delete_files(
                tmp2, "eqdel", content=2, eq_ids=eq_ids))
            return self._commit_row_delta(data_infos, del_infos,
                                          summary_extra)

    def delete_keys(self, spark: SparkSession, keys_df: DataFrame,
                    key_cols: list[str],
                    summary_extra: dict | None = None) -> int | None:
        """Row-level DELETE by key — an equality-delete-only commit (the
        GDPR/right-to-erasure shape a feature store needs): every existing
        row matching a key tuple in ``keys_df`` is masked from this
        snapshot on, with no new data files.  Time travel to older
        snapshots still sees the rows; ``compact_data_files`` folds the
        deletion into the data files (physically removing the bytes) and
        ``expire_snapshots`` then GCs the originals — the full erasure
        path.  ``keys_df`` needs exactly the key columns (extra columns
        are dropped).  Returns the new snapshot id, or None when
        ``keys_df`` is empty."""
        missing = [k for k in key_cols if k not in keys_df.columns]
        if missing:
            raise ValueError(f"delete key columns not in frame: {missing}")
        name_to_id = {f["name"]: f["id"]
                      for f in self.schema_json()["fields"]}
        bad = [k for k in key_cols if k not in name_to_id]
        if bad:
            raise ValueError(f"delete key columns not in table schema: {bad}")
        eq_ids = [name_to_id[k] for k in key_cols]
        tmp = os.path.join(self.location, f".tmp-eqdel-{uuid.uuid4().hex[:8]}")
        # distinct() already hash-distributes the key tuples — the write
        # stays parallel (one delete file per non-empty partition) instead
        # of funneling a huge erasure batch through one task
        keys_df.select(*key_cols).distinct() \
            .write.mode("overwrite").parquet(tmp)
        with self._staged() as stage:
            del_infos = stage(self._harvest_delete_files(
                tmp, "eqdel", content=2, eq_ids=eq_ids))
            if not del_infos:
                return None
            return self._commit_row_delta([], del_infos, summary_extra,
                                          operation="delete")

    def _harvest_delete_files(self, tmp: str, prefix: str, content: int,
                              eq_ids: list[int] | None = None
                              ) -> list[DataFileInfo]:
        """Move a delete-write job's non-empty parquet outputs from ``tmp``
        into ``data/`` under collision-free names; returns their infos."""
        import glob as _glob
        import shutil

        import pyarrow.parquet as pq

        token = uuid.uuid4().hex[:8]
        out: list[DataFileInfo] = []
        try:
            for i, src in enumerate(
                    sorted(_glob.glob(os.path.join(tmp, "*.parquet")))):
                n = pq.read_metadata(src).num_rows
                if n == 0:
                    continue
                del_path = os.path.join(
                    self.data_dir, f"{prefix}-{token}-{i}.parquet")
                os.rename(src, del_path)
                out.append(DataFileInfo(
                    file_path=del_path,
                    record_count=n,
                    file_size_in_bytes=os.path.getsize(del_path),
                    content=content, equality_ids=eq_ids,
                ))
        except BaseException:
            # a mid-loop failure must not leak already-renamed files into
            # data/ — nothing references them yet
            for f in out:
                try:
                    os.remove(f.file_path)
                except OSError:
                    pass
            raise
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        return out

    def delete_where(self, spark: SparkSession, condition,
                     summary_extra: dict | None = None) -> int | None:
        """Row-level DELETE by arbitrary predicate — a POSITION-delete-only
        commit (Iceberg v2 content=1, spec §Position Delete Files): the
        rows currently matching ``condition`` (a SQL string or Column)
        are recorded as (data file path, row ordinal) pairs — ordinals
        from the parquet scan's ``_metadata.row_index``, the file sorted
        by (file_path, pos) per the spec — and masked from this snapshot
        on, with no data rewritten.  Complements :meth:`delete_keys`
        (equality deletes): a predicate needs no key column, and the
        position mask applies only to files with sequence number <= the
        delete's, so rows appended AFTER this commit are never affected
        even if they match the predicate.  Rows already masked by live
        deletes are filtered out first, so the recorded count is exact.
        Time travel to older snapshots still sees the rows;
        ``compact_data_files`` folds the mask into the data files and
        purges the delete file, after which reads plan a plain scan.
        Returns the new snapshot id, or None when no visible row
        matches."""
        from pyspark.sql import functions as F

        files = self.plan_files()
        if not files:
            return None
        # internal columns are __del_-prefixed so a predicate over data
        # columns named 'pos'/'file_path' still sees the DATA values;
        # only the final delete-file projection takes the spec names
        clash = {"__del_base", "__del_pos", "__del_uri"} & {
            f["name"] for f in self.schema_json()["fields"]}
        if clash:
            raise ValueError(f"column names reserved for delete_where: "
                             f"{sorted(clash)}")
        base_to_uri = [(os.path.basename(f.file_path), _to_uri(f.file_path))
                       for f in files]
        if len({b for b, _ in base_to_uri}) != len(base_to_uri):
            raise RuntimeError(
                "data file basenames are not unique — cannot attribute "
                "row positions for delete_where")
        cond = F.expr(condition) if isinstance(condition, str) else condition
        ddl = iceberg_schema_to_ddl(self.schema_json())
        raw = (
            spark.read.schema(ddl).parquet(*[f.file_path for f in files])
            .withColumn(
                "__del_base",
                F.regexp_extract(F.col("_metadata.file_path"), "[^/]*$", 0))
            .withColumn("__del_pos",
                        F.col("_metadata.row_index").cast("long"))
        )
        dels = self.plan_delete_files()
        if dels:
            # only currently-VISIBLE rows count as matches; __del_* cols
            # ride through (_apply_deletes keeps every entry column)
            raw = self._apply_deletes(spark, raw, files, dels)
        mapping = spark.createDataFrame(
            base_to_uri, "__del_base string, __del_uri string")
        # shard by source file so a huge deletion writes in parallel
        # (bounded by shuffle partitions; each delete FILE is sorted by
        # (file_path, pos) per the spec — cross-file order is not required)
        matches = (
            raw.filter(cond)
            .join(F.broadcast(mapping), "__del_base")
            .select(F.col("__del_uri").alias("file_path"),
                    F.col("__del_pos").alias("pos"))
            .repartition(F.col("file_path"))
            .sortWithinPartitions("file_path", "pos")
        )
        tmp = os.path.join(self.location, f".tmp-posdel-{uuid.uuid4().hex[:8]}")
        matches.write.mode("overwrite").parquet(tmp)
        with self._staged() as stage:
            del_infos = stage(
                self._harvest_delete_files(tmp, "posdel", content=1))
            if not del_infos:
                return None
            return self._commit_row_delta([], del_infos, summary_extra,
                                          operation="delete")

    def _commit_row_delta(self, data_files: list[DataFileInfo],
                          delete_files: list[DataFileInfo],
                          summary_extra: dict | None = None,
                          operation: str = "overwrite") -> int:
        """Commit new data files + delete files (either v2 kind) as a
        single row-delta snapshot: an added data manifest (content=0), an
        added delete manifest (content=1), and the previous snapshot's
        manifests carried forward.  Totals stay metadata-level
        (pre-delete-application), like Iceberg's total-records on
        row-delta snapshots."""
        kind = ("position" if delete_files and delete_files[0].content == 1
                else "equality")
        groups = [(data_files, _STATUS_ADDED, 0)] if data_files else []
        groups.append((delete_files, _STATUS_ADDED, 1))
        return self._commit_snapshot(
            self._base(), operation, groups,
            summary={"added-delete-files": len(delete_files),
                     f"added-{kind}-delete-records":
                         sum(f.record_count for f in delete_files)},
            summary_extra=summary_extra, carry=True)

    def _register_written_files(self, tmp: str,
                                name_prefix: str = "") -> list[DataFileInfo]:
        """Move a parquet job's output tree into ``data/`` under
        collision-free names, parsing partition values from the
        ``__p_col=value`` directory segments (Spark URL-encodes them;
        ``__HIVE_DEFAULT_PARTITION__`` means null).  Partitioned files KEEP
        their ``__p_*`` directory placement under ``data/`` — the Iceberg
        on-disk layout."""
        from urllib.parse import unquote

        import pyarrow.parquet as pq

        types = self._partition_col_types()
        caster = {c: _PARTITIONABLE[t] for c, t in types.items()}
        infos: list[DataFileInfo] = []
        token = uuid.uuid4().hex[:8]
        i = 0
        for root, _dirs, names in sorted(os.walk(tmp)):
            part: dict = {}
            rel = os.path.relpath(root, tmp)
            ok = True
            for seg in ([] if rel == "." else rel.split(os.sep)):
                if "=" not in seg or not seg.startswith("__p_"):
                    ok = False
                    break
                col, raw = seg.split("=", 1)
                col = col[len("__p_"):]
                raw = unquote(raw)
                part[col] = (None if raw == "__HIVE_DEFAULT_PARTITION__"
                             else caster[col](raw))
            if not ok:
                continue
            dst_dir = (self.data_dir if rel == "."
                       else os.path.join(self.data_dir, rel))
            for name in sorted(names):
                if not name.endswith(".parquet"):
                    continue
                src = os.path.join(root, name)
                os.makedirs(dst_dir, exist_ok=True)
                dst = os.path.join(
                    dst_dir, f"{name_prefix}{token}-{i:05d}.parquet")
                i += 1
                os.rename(src, dst)
                lower, upper = file_column_bounds(
                    dst, self.schema_json()["fields"])
                infos.append(DataFileInfo(
                    file_path=dst,
                    record_count=pq.read_metadata(dst).num_rows,
                    file_size_in_bytes=os.path.getsize(dst),
                    partition=part or None,
                    lower_bounds=lower or None,
                    upper_bounds=upper or None,
                ))
        return infos


def iceberg_table_at(location) -> IcebergTable | None:
    """The Iceberg table ``location`` names — an ``IcebergTable`` passes
    through, a path holding ``metadata/version-hint.text`` opens — or None
    when the path is not an Iceberg table (e.g. a ledger sink dir)."""
    if isinstance(location, IcebergTable):
        return location
    if os.path.exists(os.path.join(location, "metadata", "version-hint.text")):
        return IcebergTable(location)
    return None


# ---------------------------------------------------------------------------
# Exactly-once streaming sink (foreachBatch → Iceberg snapshot per batch)
# ---------------------------------------------------------------------------


class IcebergSink:
    """Exactly-once ``foreachBatch`` sink committing one Iceberg snapshot
    per micro-batch: ``ParquetLedgerSink``'s protocol (engine/sink.py) with
    Iceberg metadata instead of the JSON ledger. Each snapshot's summary
    carries ``streaming-batch-id`` and, from a stream,
    ``streaming-query-id``. A batch id already in main's ancestry goes to
    the sinks' one replay rule, ``engine.sink.replay_committed``: the query
    that committed it replays it as a no-op (restarts never double-commit,
    T7), and any other writer raises. A batch id staged on an unpublished
    branch is not committed to main, so it does not count. Commits made
    outside a stream take their id from :meth:`next_batch_id`."""

    BATCH_KEY = "streaming-batch-id"
    QUERY_KEY = "streaming-query-id"

    def __init__(self, location: str, schema=None,
                 partition_by: list[str] | None = None):
        """``partition_by`` (identity columns and/or ``days(ts)`` terms —
        ``days(window_start)`` is the canonical sink layout) partitions the
        sink table on first creation; an existing table keeps its spec."""
        self.location = location
        self.schema = schema
        self.partition_by = partition_by
        self._table: IcebergTable | None = None

    def table(self, df: DataFrame | None = None) -> IcebergTable:
        if self._table is None:
            schema = self.schema if self.schema is not None else (
                df.schema if df is not None else None)
            self._table = IcebergTable(self.location, schema=schema,
                                       partition_by=self.partition_by)
        return self._table

    def _batch_ids(self) -> dict[int, str | None]:
        """batch id → recording query id, over main's ancestry."""
        return {int(s["summary"][self.BATCH_KEY]): s["summary"].get(
                    self.QUERY_KEY)
                for s in self.table()._ancestry()
                if self.BATCH_KEY in s["summary"]}

    def next_batch_id(self) -> int:
        """The id for a commit made outside any stream
        (``engine.sink.next_batch_id``)."""
        from engine.sink import next_batch_id

        return next_batch_id(self._batch_ids())

    def write_batch(self, batch_df: DataFrame, batch_id: int,
                    mode: str = "append") -> bool:
        from engine.sink import replay_committed, streaming_query_id

        table = self.table(batch_df)  # created from the first frame's schema
        committed = self._batch_ids()
        if batch_id in committed:
            return replay_committed(self.location, batch_id,
                                    committed[batch_id], batch_df)
        extra = {self.BATCH_KEY: int(batch_id)}
        query_id = streaming_query_id(batch_df)
        if query_id:
            extra[self.QUERY_KEY] = query_id
        table.write_dataframe(batch_df, mode=mode, summary_extra=extra)
        return True

    def foreach_batch(self, mode: str = "append"):
        def fn(batch_df: DataFrame, batch_id: int) -> None:
            self.write_batch(batch_df, batch_id, mode=mode)

        return fn

    def read_committed(self, spark: SparkSession,
                       partition_filter: dict | None = None,
                       stats_filter: dict | None = None) -> DataFrame:
        return self.table().read(spark, partition_filter=partition_filter,
                                 stats_filter=stats_filter)

    def audit(self) -> dict:
        """Exactly-once audit mirroring ``ParquetLedgerSink.audit``:
        unique batch ids, metadata row counts == parquet footer counts."""
        import pyarrow.parquet as pq

        t = self.table()
        ids = [s["summary"][self.BATCH_KEY] for s in t._ancestry()
               if self.BATCH_KEY in s["summary"]]
        files = t.plan_files()
        footer_rows = sum(
            pq.read_metadata(f.file_path).num_rows for f in files
        )
        meta_rows = sum(f.record_count for f in files)
        cur = t._resolve_snapshot(None, None)
        total_claim = int(cur["summary"]["total-records"]) if cur else 0
        return {
            "n_batches": len(ids),
            "unique_batch_ids": len(set(ids)) == len(ids),
            "ledger_rows": total_claim,
            "data_rows": footer_rows,
            "missing_dirs": sum(
                0 if os.path.exists(f.file_path) else 1 for f in files),
            "consistent": (
                footer_rows == meta_rows == total_claim
                and all(os.path.exists(f.file_path) for f in files)),
        }
