"""Lib-free training-dataset file writers: Avro OCF + TFRecord (r3).

The reference's training datasets materialize in the formats of
``base/DataFormat.java:5-22``; two of them normally need runtime jars that
are absent from this sandbox (spark-avro, spark-tensorflow-connector). Both
wire formats are public and simple, so this module implements them directly:

- **Avro Object Container File** (avro.apache.org spec "Object Container
  Files"): ``Obj\\x01`` magic, file-metadata map carrying ``avro.schema`` +
  ``avro.codec``, 16-byte sync marker, then blocks of
  ``(record-count, byte-size, records..., sync)``. Records are encoded with
  the spec-vector-verified pure-Python Avro BINARY codec in
  :mod:`engine.complexio` — the same bytes Java's ``DataFileWriter`` +
  ``GenericDatumWriter`` emit for ``null`` codec.
- **TFRecord** (TensorFlow public framing): each record is
  ``len(u64 LE) + masked_crc32c(len) + payload + masked_crc32c(payload)``
  where the payload is a hand-encoded ``tf.train.Example`` protobuf
  (``Features`` map of ``Int64List``/``FloatList``/``BytesList``). CRC32C is
  the Castagnoli polynomial, table-driven below.

Distribution model: one output file per Spark partition (standard
``part-NNNNN`` layout), written executor-side inside ``mapInPandas`` — the
driver only collects (path, row-count) manifests. Readers for both formats
are included for verification; they are exact inverses on the supported
type set (long/string/binary/bool + arrays thereof) EXCEPT doubles: the
tf.train.Example wire format only has a 32-bit ``FloatList``, so double
columns are truncated to float32 on write and ``parse_example`` returns
float32-precision values — a lossy boundary inherent to the format, not
to this implementation.
"""

from __future__ import annotations

import json
import os
import struct
from typing import TYPE_CHECKING

import numpy as np
from pyspark.sql import DataFrame

from engine.complexio import _read_zigzag  # shared Avro varint codec
from engine.complexio import _zigzag as _zigzag_long
from engine.complexio import avro_decode_datum, avro_encode_datum

if TYPE_CHECKING:  # imported where used, so engine.tail starts without it
    import pandas as pd

# ---------------------------------------------------------------------------
# Schema mapping (Spark → Avro record of union[null, T] fields)
# ---------------------------------------------------------------------------

_SPARK_TO_AVRO = {
    "string": "string", "int": "int", "bigint": "long", "smallint": "int",
    "tinyint": "int", "float": "float", "double": "double",
    "boolean": "boolean", "binary": "bytes", "timestamp": "long",
    "timestamp_ntz": "long", "date": "int",
}


def _avro_type_of(simple: str):
    if simple.startswith("array<"):
        return {"type": "array", "items": _avro_type_of(simple[6:-1])}
    if simple.startswith("map<string,"):
        return {"type": "map", "values": _avro_type_of(simple[11:-1].strip())}
    if simple not in _SPARK_TO_AVRO:
        raise ValueError(f"no avro mapping for spark type {simple!r}")
    return _SPARK_TO_AVRO[simple]


def dataframe_avro_schema(df: DataFrame, name: str = "training_row") -> dict:
    """Avro record schema for a DataFrame (every field union[null, T],
    matching ``FeatureGroupUtils.getEncodedAvroSchema``'s nullable-field
    convention, ``base/engine/FeatureGroupUtils.java:191-200``)."""
    return {
        "type": "record",
        "name": name,
        "namespace": "pyspark_online_fs",
        "fields": [
            {"name": f.name, "type": ["null", _avro_type_of(f.dataType.simpleString())]}
            for f in df.schema.fields
        ],
    }


def _scalarize(v):
    """pandas/numpy cell → plain-Python Avro datum."""
    if isinstance(v, np.ndarray):
        return [_scalarize(x) for x in v.tolist()]
    if isinstance(v, (list, tuple)):
        return [_scalarize(x) for x in v]
    if isinstance(v, dict):
        return {k: _scalarize(x) for k, x in v.items()}
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    import pandas as pd

    # v is a scalar here (containers handled above): one isna covers
    # None, float NaN, and pd.NaT — NaT is NOT a pd.Timestamp instance,
    # so it must be caught before the timestamp branch
    if v is None or pd.isna(v):
        return None
    if isinstance(v, pd.Timestamp):
        return v.value // 1000  # ns → µs (timestamp-micros convention)
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        return int(v.timestamp() * 1_000_000)
    if isinstance(v, _dt.date):
        return (v - _dt.date(1970, 1, 1)).days
    if isinstance(v, np.generic):
        return v.item()
    return v


# ---------------------------------------------------------------------------
# Avro Object Container File
# ---------------------------------------------------------------------------

_AVRO_MAGIC = b"Obj\x01"


def write_avro_ocf_bytes(rows: list[dict], schema: dict | str,
                         sync: bytes | None = None,
                         extra_meta: dict[str, bytes] | None = None) -> bytes:
    """Serialize rows to one Avro OCF (codec ``null``), spec layout.

    ``extra_meta`` adds file-metadata entries beyond ``avro.schema``/
    ``avro.codec`` — Iceberg manifest files carry ``schema``,
    ``partition-spec``, ``format-version``, ``content`` there."""
    schema_obj = json.loads(schema) if isinstance(schema, str) else schema
    schema_json = json.dumps(schema_obj).encode()
    if sync is None:
        import hashlib

        sync = hashlib.blake2b(schema_json, digest_size=16).digest()
    assert len(sync) == 16
    out = bytearray(_AVRO_MAGIC)
    # file metadata: map<bytes> — one block of entries, then end marker 0
    meta = [(b"avro.schema", schema_json), (b"avro.codec", b"null")]
    for k, v in (extra_meta or {}).items():
        meta.append((k.encode(), v))
    out += _zigzag_long(len(meta))
    for k, v in meta:
        out += _zigzag_long(len(k)) + k + _zigzag_long(len(v)) + v
    out += _zigzag_long(0)
    out += sync
    if rows:
        body = bytearray()
        for r in rows:
            body += avro_encode_datum(r, schema_obj)
        out += _zigzag_long(len(rows)) + _zigzag_long(len(body)) + body + sync
    return bytes(out)


def read_avro_ocf_bytes(buf: bytes) -> tuple[list[dict], dict]:
    """Inverse of :func:`write_avro_ocf_bytes` → (rows, schema)."""
    if buf[:4] != _AVRO_MAGIC:
        raise ValueError("not an Avro object container file")
    pos = 4
    meta: dict[bytes, bytes] = {}
    while True:
        n, pos = _read_zigzag(buf, pos)
        if n == 0:
            break
        if n < 0:  # negative count form: followed by byte size
            _, pos = _read_zigzag(buf, pos)
            n = -n
        for _ in range(n):
            kl, pos = _read_zigzag(buf, pos)
            k = buf[pos:pos + kl]
            pos += kl
            vl, pos = _read_zigzag(buf, pos)
            meta[k] = buf[pos:pos + vl]
            pos += vl
    codec = meta.get(b"avro.codec", b"null")
    if codec != b"null":
        raise NotImplementedError(f"avro codec {codec!r} not supported")
    schema = json.loads(meta[b"avro.schema"])
    sync = buf[pos:pos + 16]
    pos += 16
    rows: list[dict] = []
    while pos < len(buf):
        cnt, pos = _read_zigzag(buf, pos)
        size, pos = _read_zigzag(buf, pos)
        block = buf[pos:pos + size]
        pos += size
        bpos = 0
        for _ in range(cnt):
            # avro_decode_datum insists on exact consumption; decode
            # incrementally via the low-level reader
            from engine.complexio import _avro_read

            val, bpos = _avro_read(block, bpos, schema)
            rows.append(val)
        if buf[pos:pos + 16] != sync:
            raise ValueError("avro block sync marker mismatch")
        pos += 16
    return rows, schema


# ---------------------------------------------------------------------------
# TFRecord (tf.train.Example) — hand-encoded protobuf + CRC32C framing
# ---------------------------------------------------------------------------

def _crc32c_table() -> np.ndarray:
    poly = 0x82F63B78  # Castagnoli, reflected
    tab = np.empty(256, dtype=np.uint32)
    for i in range(256):
        c = i
        for _ in range(8):
            c = (c >> 1) ^ poly if c & 1 else c >> 1
        tab[i] = c
    return tab


_CRC32C_TAB = _crc32c_table()


def crc32c(data: bytes) -> int:
    crc = 0xFFFFFFFF
    tab = _CRC32C_TAB
    for b in data:
        crc = (crc >> 8) ^ int(tab[(crc ^ b) & 0xFF])
    return crc ^ 0xFFFFFFFF


def _masked_crc(data: bytes) -> int:
    c = crc32c(data)
    return ((c >> 15) | ((c << 17) & 0xFFFFFFFF)) + 0xA282EAD8 & 0xFFFFFFFF


def _pb_key(field: int, wire: int) -> bytes:
    return _pb_varint((field << 3) | wire)


def _pb_varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _pb_len_delim(field: int, payload: bytes) -> bytes:
    return _pb_key(field, 2) + _pb_varint(len(payload)) + payload


def _feature_bytes(vals) -> bytes:
    """tf.train.Feature for one cell: Int64List(3)/FloatList(2)/BytesList(1)."""
    if not isinstance(vals, (list, tuple)):
        vals = [vals]
    vals = [v for v in vals if v is not None]
    if not vals:
        return b""  # empty Feature message (all-defaults) = null cell
    v0 = vals[0]
    if isinstance(v0, (bytes, bytearray, str)):
        items = b"".join(
            _pb_len_delim(1, v if isinstance(v, bytes) else str(v).encode())
            for v in vals
        )
        return _pb_len_delim(1, items)  # BytesList in Feature field 1
    if isinstance(v0, (bool, int, np.integer)):
        packed = b"".join(_pb_varint(int(v) & 0xFFFFFFFFFFFFFFFF) for v in vals)
        return _pb_len_delim(3, _pb_len_delim(1, packed))  # Int64List packed
    if isinstance(v0, (float, np.floating)):
        packed = struct.pack(f"<{len(vals)}f", *[float(v) for v in vals])
        return _pb_len_delim(2, _pb_len_delim(1, packed))  # FloatList packed
    raise ValueError(f"unsupported tfrecord value type {type(v0)}")


def example_bytes(row: dict) -> bytes:
    """Serialized ``tf.train.Example`` for one row dict."""
    entries = b""
    for name in sorted(row):
        feat = _feature_bytes(_scalarize(row[name]))
        entry = _pb_len_delim(1, name.encode()) + _pb_len_delim(2, feat)
        entries += _pb_len_delim(1, entry)  # Features.feature map entry
    return _pb_len_delim(1, entries)  # Example.features


def tfrecord_frame(payload: bytes) -> bytes:
    ln = struct.pack("<Q", len(payload))
    return (
        ln + struct.pack("<I", _masked_crc(ln))
        + payload + struct.pack("<I", _masked_crc(payload))
    )


def read_tfrecord_frames(buf: bytes, verify: bool = True) -> list[bytes]:
    out, pos = [], 0
    while pos < len(buf):
        (ln,) = struct.unpack_from("<Q", buf, pos)
        (lcrc,) = struct.unpack_from("<I", buf, pos + 8)
        if verify and _masked_crc(buf[pos:pos + 8]) != lcrc:
            raise ValueError("tfrecord length crc mismatch")
        payload = buf[pos + 12 : pos + 12 + ln]
        (dcrc,) = struct.unpack_from("<I", buf, pos + 12 + ln)
        if verify and _masked_crc(payload) != dcrc:
            raise ValueError("tfrecord data crc mismatch")
        out.append(payload)
        pos += 16 + ln
    return out


def _pb_read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = acc = 0
    while True:
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            return acc, pos
        shift += 7


def parse_example(payload: bytes) -> dict:
    """Minimal inverse of :func:`example_bytes` (for verification)."""

    def fields(buf):
        pos = 0
        while pos < len(buf):
            key, pos = _pb_read_varint(buf, pos)
            fno, wire = key >> 3, key & 7
            if wire == 2:
                ln, pos = _pb_read_varint(buf, pos)
                yield fno, buf[pos:pos + ln]
                pos += ln
            elif wire == 0:
                v, pos = _pb_read_varint(buf, pos)
                yield fno, v
            else:
                raise ValueError(f"unexpected wire type {wire}")

    out: dict = {}
    for fno, feats in fields(payload):  # Example.features
        assert fno == 1
        for eno, entry in fields(feats):  # Features.feature entries
            assert eno == 1
            name, feat = None, b""
            for kno, val in fields(entry):
                if kno == 1:
                    name = val.decode()
                else:
                    feat = val
            vals: list = []
            for tno, lst in fields(feat):
                for lno, inner in fields(lst):
                    assert lno == 1
                    if tno == 1:  # BytesList: inner is one bytes value
                        vals.append(inner)
                    elif tno == 2:  # FloatList packed
                        vals.extend(struct.unpack(f"<{len(inner)//4}f", inner))
                    elif tno == 3:  # Int64List packed varints
                        p = 0
                        while p < len(inner):
                            v, p = _pb_read_varint(inner, p)
                            if v >= 1 << 63:
                                v -= 1 << 64
                            vals.append(v)
            out[name] = vals if vals else None
    return out


# ---------------------------------------------------------------------------
# Distributed writers (one file per partition, executor-side)
# ---------------------------------------------------------------------------

def _write_partitioned(df: DataFrame, path: str, ext: str,
                       header_fn, chunk_fn) -> int:
    """Stream each partition's Arrow batches into ``part-NNNNN.<ext>`` on the
    executor: ``header_fn() -> bytes`` once per file, then
    ``chunk_fn(pdf) -> bytes`` per batch — bounded memory regardless of
    partition size (no whole-partition concat). Returns total rows; the
    driver sees only the (file, rows) manifest."""
    os.makedirs(path, exist_ok=True)

    def op(batches):
        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        fname = os.path.join(path, f"part-{pid:05d}.{ext}")
        n, fh = 0, None
        try:
            for pdf in batches:
                if not len(pdf):
                    continue
                if fh is None:
                    fh = open(fname, "wb")
                    fh.write(header_fn())
                fh.write(chunk_fn(pdf))
                n += len(pdf)
        finally:
            if fh is not None:
                fh.close()
        yield pd.DataFrame({"file": [fname if n else None], "rows": [n]})

    manifest = df.mapInPandas(op, "file string, rows long").collect()
    return int(sum(r.rows for r in manifest))


def write_avro_dataset(df: DataFrame, path: str) -> int:
    """Avro OCF training-dataset writer (``DataFormat.AVRO``): one OCF per
    partition, one container block per Arrow batch (the spec's intended
    streaming layout)."""
    import hashlib

    schema = dataframe_avro_schema(df)
    schema_json = json.dumps(schema).encode()
    sync = hashlib.blake2b(schema_json, digest_size=16).digest()

    def header() -> bytes:
        out = bytearray(_AVRO_MAGIC)
        meta = [(b"avro.schema", schema_json), (b"avro.codec", b"null")]
        out += _zigzag_long(len(meta))
        for k, v in meta:
            out += _zigzag_long(len(k)) + k + _zigzag_long(len(v)) + v
        out += _zigzag_long(0)
        out += sync
        return bytes(out)

    def chunk(pdf: pd.DataFrame) -> bytes:
        body = bytearray()
        for rec in pdf.to_dict("records"):
            body += avro_encode_datum(
                {k: _scalarize(v) for k, v in rec.items()}, schema
            )
        return bytes(
            _zigzag_long(len(pdf)) + _zigzag_long(len(body)) + body + sync
        )

    return _write_partitioned(df, path, "avro", header, chunk)


def read_avro_dataset(path: str) -> pd.DataFrame:
    import pandas as pd

    rows: list[dict] = []
    for name in sorted(os.listdir(path)):
        if name.endswith(".avro"):
            with open(os.path.join(path, name), "rb") as fh:
                part, _ = read_avro_ocf_bytes(fh.read())
            rows.extend(part)
    return pd.DataFrame(rows)


def write_tfrecord_dataset(df: DataFrame, path: str) -> int:
    """TFRecord training-dataset writer (``DataFormat.TFRECORD``): frames
    append per Arrow batch (the format has no header)."""

    def chunk(pdf: pd.DataFrame) -> bytes:
        out = bytearray()
        for rec in pdf.to_dict("records"):
            out += tfrecord_frame(example_bytes(rec))
        return bytes(out)

    return _write_partitioned(df, path, "tfrecord", lambda: b"", chunk)


def read_tfrecord_dataset(path: str) -> list[dict]:
    rows: list[dict] = []
    for name in sorted(os.listdir(path)):
        if name.endswith(".tfrecord"):
            with open(os.path.join(path, name), "rb") as fh:
                for payload in read_tfrecord_frames(fh.read()):
                    rows.append(parse_example(payload))
    return rows
