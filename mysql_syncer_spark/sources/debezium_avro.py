"""Debezium-envelope CDC source + sink (Avro / schema-registry wire
format).

Production Debezium topics are commonly Avro-serialized with the
Confluent schema-registry framing: each Kafka message value is

    0x00 (magic) | 4-byte big-endian schema id | Avro binary body

and the schema id resolves against an external registry. This module
implements that public wire format end-to-end for the same envelope the
JSON module handles (``sources/debezium.py``): data-change messages
(before/after/source/op/ts_ms/transaction) and schema-history messages
(source/databaseName/ddl) — op codes and image pairing mirror the
reference's WRITE/UPDATE/DELETE_ROWS events and P5 pairing
(/root/reference/src/slave/rs_binlog_row.c:510-514,604-612), and
``source.file``/``source.pos`` is the reference's ``"<file>,<pos>"``
checkpoint prefix (/root/reference/src/master/rs_filter_binlog.c:39-49).

The Avro binary codec here is a minimal pure-Python implementation of
the public Avro 1.x binary encoding (zigzag varints, length-prefixed
bytes/strings, union-index prefix, record field order) covering exactly
the types the envelope uses. It runs inside ``mapInPandas`` — the
Arrow-batched ingest edge, the same place the raw binlog byte decoders
live — because this environment ships no ``spark-avro`` jar; on a
cluster with ``org.apache.spark:spark-avro`` loaded, the decode body is
swappable for JVM ``from_avro`` with the same registry-resolved schema.
The registry itself is modeled as what users actually archive next to a
topic dump: a ``{schema_id: avro_schema_json}`` map (``_registry.json``
in the topic dir).

Scale notes (100 TB): decode is a map-only transformation (no shuffle),
batched through Arrow; the topic archive is one parquet file per source
binlog file (``sources/topic_archive.py``), so replay prunes per-batch
reads by FILENAME — O(files) total bytes over a replay, never an
O(files²) archive rescan.
"""

from __future__ import annotations

import json
import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..xxhash import chain_hash
from . import topic_archive
from .debezium import DEBEZIUM_PAYLOAD_STRUCT
from .wire_log import parse_ddl_query

# ---------------------------------------------------------------------------
# minimal Avro binary codec (public Avro spec, envelope-subset of types)
# ---------------------------------------------------------------------------

_PRIMITIVES = {"null", "boolean", "int", "long", "float", "double",
               "bytes", "string"}


class AvroSchema:
    """Parsed Avro schema with named-type resolution (records referenced
    by name, e.g. ``after: ["null", "Value"]`` reusing ``before``'s
    record). Supports the envelope subset: primitives, records, and
    ``["null", X]`` unions."""

    def __init__(self, schema: str | dict):
        self._names: dict[str, dict] = {}
        self.root = self._norm(json.loads(schema) if isinstance(schema, str)
                               else schema)

    def _norm(self, s):
        if isinstance(s, str):
            if s in _PRIMITIVES:
                return s
            if s in self._names:
                return self._names[s]
            raise ValueError(f"unknown type reference: {s!r}")
        if isinstance(s, list):
            return [self._norm(x) for x in s]
        t = s.get("type")
        if t == "record":
            rec = {"type": "record", "name": s["name"], "fields": []}
            self._names[s["name"]] = rec  # register BEFORE fields (self-ref)
            for f in s["fields"]:
                rec["fields"].append(
                    {"name": f["name"], "type": self._norm(f["type"])}
                )
            return rec
        if t in _PRIMITIVES:  # {"type": "long", "logicalType": ...}
            return dict(s)
        raise ValueError(f"unsupported Avro type: {s!r}")


def _zz64(v: int) -> int:
    return (v << 1) ^ (v >> 63)


def _write_varint(out: bytearray, u: int) -> None:
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def _write_long(out: bytearray, v: int) -> None:
    _write_varint(out, _zz64(int(v)))


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    acc = 0
    shift = 0
    n = len(buf)
    while True:
        if pos >= n:
            raise ValueError("truncated varint")
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not (b & 0x80):
            return acc, pos
        shift += 7
        if shift > 70:
            raise ValueError("varint too long")


def _read_long(buf: bytes, pos: int) -> tuple[int, int]:
    u, pos = _read_varint(buf, pos)
    return (u >> 1) ^ -(u & 1), pos


def avro_encode(node, value, out: bytearray) -> None:
    """Schema-driven binary encode (record field order, union index
    prefix, zigzag varints, length-prefixed bytes/strings)."""
    if isinstance(node, list):  # union: index then value
        if value is None:
            idx = next(
                i for i, b in enumerate(node)
                if (b == "null" or (isinstance(b, dict) and b.get("type") == "null"))
            )
            _write_long(out, idx)
            return
        idx, branch = next(
            (i, b) for i, b in enumerate(node)
            if not (b == "null" or (isinstance(b, dict) and b.get("type") == "null"))
        )
        _write_long(out, idx)
        avro_encode(branch, value, out)
        return
    t = node if isinstance(node, str) else node["type"]
    if t == "record":
        for f in node["fields"]:
            avro_encode(f["type"], None if value is None else value.get(f["name"]),
                        out)
    elif t == "null":
        pass
    elif t == "boolean":
        out.append(1 if value else 0)
    elif t in ("int", "long"):
        _write_long(out, int(value))
    elif t == "double":
        import struct as _s
        out.extend(_s.pack("<d", float(value)))
    elif t == "float":
        import struct as _s
        out.extend(_s.pack("<f", float(value)))
    elif t == "bytes":
        b = bytes(value)
        _write_long(out, len(b))
        out.extend(b)
    elif t == "string":
        b = str(value).encode("utf-8")
        _write_long(out, len(b))
        out.extend(b)
    else:
        raise ValueError(f"unsupported Avro type: {t!r}")


def avro_decode(node, buf: bytes, pos: int):
    """Schema-driven binary decode; returns ``(value, new_pos)``."""
    if isinstance(node, list):
        idx, pos = _read_long(buf, pos)
        if idx < 0 or idx >= len(node):
            raise ValueError(f"union index {idx} out of range")
        return avro_decode(node[idx], buf, pos)
    t = node if isinstance(node, str) else node["type"]
    if t == "record":
        rec = {}
        for f in node["fields"]:
            rec[f["name"]], pos = avro_decode(f["type"], buf, pos)
        return rec, pos
    if t == "null":
        return None, pos
    if t == "boolean":
        if pos >= len(buf):
            raise ValueError("truncated boolean")
        return buf[pos] != 0, pos + 1
    if t in ("int", "long"):
        return _read_long(buf, pos)
    if t == "double":
        import struct as _s
        if pos + 8 > len(buf):
            raise ValueError("truncated double")
        return _s.unpack_from("<d", buf, pos)[0], pos + 8
    if t == "float":
        import struct as _s
        if pos + 4 > len(buf):
            raise ValueError("truncated float")
        return _s.unpack_from("<f", buf, pos)[0], pos + 4
    if t == "bytes":
        n, pos = _read_long(buf, pos)
        if n < 0 or pos + n > len(buf):
            raise ValueError("truncated bytes")
        return bytes(buf[pos:pos + n]), pos + n
    if t == "string":
        n, pos = _read_long(buf, pos)
        if n < 0 or pos + n > len(buf):
            raise ValueError("truncated string")
        return buf[pos:pos + n].decode("utf-8"), pos + n
    raise ValueError(f"unsupported Avro type: {t!r}")


# ---------------------------------------------------------------------------
# Confluent schema-registry framing
# ---------------------------------------------------------------------------

_MAGIC = 0x00
ENVELOPE_SCHEMA_ID = 1
SCHEMA_CHANGE_SCHEMA_ID = 2
KEY_SCHEMA_ID = 3


def frame(schema_id: int, body: bytes) -> bytes:
    """``0x00 | 4-byte BE schema id | avro body`` — the Confluent wire
    format every registry-aware producer emits."""
    return bytes([_MAGIC]) + schema_id.to_bytes(4, "big") + body


def unframe(msg: bytes) -> tuple[int, bytes]:
    if len(msg) < 5:
        raise ValueError("message shorter than registry header")
    if msg[0] != _MAGIC:
        raise ValueError(f"bad magic byte: {msg[0]:#x}")
    return int.from_bytes(msg[1:5], "big"), msg[5:]


# ---------------------------------------------------------------------------
# envelope schemas (derived from the typed payload struct)
# ---------------------------------------------------------------------------

_SOURCE_FIELDS = [
    {"name": "name", "type": ["null", "string"], "default": None},
    {"name": "ts_ms", "type": ["null", "long"], "default": None},
    {"name": "snapshot", "type": ["null", "string"], "default": None},
    {"name": "db", "type": ["null", "string"], "default": None},
    {"name": "table", "type": ["null", "string"], "default": None},
    {"name": "server_id", "type": ["null", "long"], "default": None},
    {"name": "gtid", "type": ["null", "string"], "default": None},
    {"name": "file", "type": "string"},
    {"name": "pos", "type": "long"},
    {"name": "row", "type": ["null", "int"], "default": None},
]


def _avro_type_for(dt: T.DataType):
    if isinstance(dt, T.TimestampType):
        # io.debezium.time.MicroTimestamp rides as long epoch-micros
        return {"type": "long", "logicalType": "timestamp-micros"}
    if isinstance(dt, T.BinaryType):
        return "bytes"
    if isinstance(dt, (T.LongType,)):
        return "long"
    if isinstance(dt, (T.IntegerType, T.ShortType)):
        return "int"
    if isinstance(dt, T.DoubleType):
        return "double"
    if isinstance(dt, T.FloatType):
        return "float"
    if isinstance(dt, T.BooleanType):
        return "boolean"
    return "string"


def envelope_avro_schema(
    payload_struct: T.StructType = DEBEZIUM_PAYLOAD_STRUCT,
    namespace: str = "mysql1.web.pages",
) -> dict:
    """The data-change Envelope record, payload (``Value``) fields derived
    from the typed struct the same way the JSON sibling derives its
    ``from_json`` schema."""
    value_rec = {
        "type": "record",
        "name": "Value",
        "fields": [
            {"name": f.name, "type": ["null", _avro_type_for(f.dataType)],
             "default": None}
            for f in payload_struct.fields
        ],
    }
    return {
        "type": "record",
        "name": "Envelope",
        "namespace": namespace,
        "fields": [
            {"name": "before", "type": ["null", value_rec], "default": None},
            {"name": "after", "type": ["null", "Value"], "default": None},
            {"name": "source",
             "type": {"type": "record", "name": "Source",
                      "fields": _SOURCE_FIELDS}},
            {"name": "op", "type": "string"},
            {"name": "ts_ms", "type": ["null", "long"], "default": None},
            {"name": "transaction",
             "type": ["null", {
                 "type": "record", "name": "Tx",
                 "fields": [
                     {"name": "id", "type": "string"},
                     {"name": "total_order", "type": ["null", "long"],
                      "default": None},
                     {"name": "data_collection_order", "type": ["null", "long"],
                      "default": None},
                 ]}],
             "default": None},
        ],
    }


def schema_change_avro_schema(namespace: str = "mysql1") -> dict:
    """The schema-history message (Debezium SchemaChangeValue subset)."""
    return {
        "type": "record",
        "name": "SchemaChangeValue",
        "namespace": namespace,
        "fields": [
            {"name": "source",
             "type": {"type": "record", "name": "HistorySource",
                      "fields": _SOURCE_FIELDS}},
            {"name": "databaseName", "type": "string"},
            {"name": "ddl", "type": "string"},
        ],
    }


def key_avro_schema() -> dict:
    return {
        "type": "record",
        "name": "Key",
        "fields": [{"name": "url", "type": ["null", "string"],
                    "default": None}],
    }


def default_registry(
    payload_struct: T.StructType = DEBEZIUM_PAYLOAD_STRUCT,
) -> dict[int, dict]:
    """``{schema_id: schema_json}`` — the shape users archive from a
    registry next to a topic dump."""
    return {
        ENVELOPE_SCHEMA_ID: envelope_avro_schema(payload_struct),
        SCHEMA_CHANGE_SCHEMA_ID: schema_change_avro_schema(),
        KEY_SCHEMA_ID: key_avro_schema(),
    }


# ---------------------------------------------------------------------------
# typed events -> Avro messages (CDC OUT / fixture side)
# ---------------------------------------------------------------------------

def _ts_to_us(v) -> int | None:
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, pd.Timestamp):
        return int(v.value // 1000)  # ns -> us
    import datetime as _dt
    if isinstance(v, _dt.datetime):
        epoch = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
        t = v if v.tzinfo else v.replace(tzinfo=_dt.timezone.utc)
        d = t - epoch
        return d.days * 86_400_000_000 + d.seconds * 1_000_000 + d.microseconds
    return int(v)


def _payload_to_avro(p, payload_struct: T.StructType):
    if p is None:
        return None
    d = p if isinstance(p, dict) else p.asDict()
    out = {}
    for f in payload_struct.fields:
        v = d.get(f.name)
        if isinstance(f.dataType, T.TimestampType):
            v = _ts_to_us(v)
        elif isinstance(f.dataType, T.BinaryType) and v is not None:
            v = bytes(v)
        elif v is not None and pd.isna(v):
            v = None
        out[f.name] = v
    return out


_DDL_SQL_BUILDERS = {
    "add_column": lambda d, t: (
        f"ALTER TABLE {t} ADD COLUMN `{d['col']}` {d['dtype']}"
    ),
    "rename_column": lambda d, t: (
        f"ALTER TABLE {t} RENAME COLUMN `{d['col']}` TO `{d['new_name']}`"
    ),
    "drop_column": lambda d, t: f"ALTER TABLE {t} DROP COLUMN `{d['col']}`",
    "widen_column": lambda d, t: (
        f"ALTER TABLE {t} MODIFY COLUMN `{d['col']}` {d['dtype']}"
    ),
}


def encode_debezium_avro(
    events: DataFrame,
    server_name: str = "mysql1",
    payload_struct: T.StructType | None = None,
) -> DataFrame:
    """Typed CDC events → registry-framed Avro ``(key, value)`` messages.
    Same envelope semantics as ``encode_debezium`` (op mapping, DELETE
    image framed as ``before``, (file,pos) checkpoint in ``source``);
    map-only mapInPandas, streaming-safe."""
    if payload_struct is None:
        payload_struct = events.schema["after"].dataType
    env_schema = AvroSchema(envelope_avro_schema(payload_struct)).root
    chg_schema = AvroSchema(schema_change_avro_schema()).root
    key_schema = AvroSchema(key_avro_schema()).root
    ps = payload_struct

    out_schema = T.StructType([
        T.StructField("file_seq", T.IntegerType(), True),
        T.StructField("log_pos", T.LongType(), True),
        T.StructField("key", T.BinaryType(), True),
        T.StructField("value", T.BinaryType(), True),
    ])

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keys, values = [], []
            for before, after, op, table, tx_id, server_id, file_seq, \
                    log_pos, ddl in zip(
                        pdf["before"], pdf["after"], pdf["op"], pdf["table"],
                        pdf["tx_id"], pdf["server_id"], pdf["file_seq"],
                        pdf["log_pos"], pdf["ddl"]):
                db, _, tbl = str(table).partition(".")
                src = {
                    "name": server_name, "snapshot": "false", "db": db,
                    "table": tbl, "server_id": int(server_id),
                    "gtid": None,
                    "file": f"mysql-bin.{int(file_seq):06d}",
                    "pos": int(log_pos), "row": 0, "ts_ms": None,
                }
                if op == "DDL":
                    d = ddl if isinstance(ddl, dict) else ddl.asDict()
                    stmt = _DDL_SQL_BUILDERS[d["kind"]](d, tbl)
                    body = bytearray()
                    avro_encode(chg_schema,
                                {"source": src, "databaseName": db,
                                 "ddl": stmt},
                                body)
                    keys.append(None)
                    values.append(frame(SCHEMA_CHANGE_SCHEMA_ID, bytes(body)))
                    continue
                a = _payload_to_avro(after, ps)
                b = _payload_to_avro(before, ps)
                ts_ms = None
                if a is not None and a.get("warc_ts") is not None:
                    ts_ms = a["warc_ts"] // 1000
                src["ts_ms"] = ts_ms
                # typed model places I/D single images in `after`;
                # Debezium frames a DELETE's image as `before`
                env = {
                    "before": b if op == "U" else (a if op == "D" else None),
                    "after": a if op != "D" else None,
                    "source": src,
                    "op": {"I": "c", "U": "u", "D": "d"}[op],
                    "ts_ms": ts_ms,
                    "transaction": (
                        None if tx_id is None or pd.isna(tx_id)
                        else {"id": str(int(tx_id)), "total_order": None,
                              "data_collection_order": None}
                    ),
                }
                body = bytearray()
                avro_encode(env_schema, env, body)
                values.append(frame(ENVELOPE_SCHEMA_ID, bytes(body)))
                url = (a or b or {}).get("url")
                kb = bytearray()
                avro_encode(key_schema, {"url": url}, kb)
                keys.append(frame(KEY_SCHEMA_ID, bytes(kb)))
            yield pd.DataFrame({
                "file_seq": pdf["file_seq"].astype("int32"),
                "log_pos": pdf["log_pos"].astype("int64"),
                "key": keys,
                "value": values,
            })

    return events.mapInPandas(mapper, schema=out_schema)


# ---------------------------------------------------------------------------
# Avro messages -> typed events (the source path)
# ---------------------------------------------------------------------------

_DDL_TBL_PY_RE = re.compile(r"ALTER TABLE (?:`?\w+`?\.)?`?(\w+)`?", re.I)

DECODED_SCHEMA_TEMPLATE = [
    ("log_pos", T.LongType()),
    ("file_seq", T.IntegerType()),
    ("server_id", T.IntegerType()),
    ("op", T.StringType()),
    ("table", T.StringType()),
    ("tx_id", T.LongType()),
]

_DDL_STRUCT = T.StructType([
    T.StructField("kind", T.StringType(), True),
    T.StructField("col", T.StringType(), True),
    T.StructField("new_name", T.StringType(), True),
    T.StructField("dtype", T.StringType(), True),
])


def _payload_from_avro(d, payload_struct: T.StructType):
    if d is None:
        return None
    import datetime as _dt
    out = {}
    for f in payload_struct.fields:
        v = d.get(f.name)
        if isinstance(f.dataType, T.TimestampType) and v is not None:
            v = (_dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
                 + _dt.timedelta(microseconds=int(v)))
        out[f.name] = v
    return out


def _decode_one(msg: bytes, registry: dict[int, object],
                payload_struct: T.StructType) -> dict:
    """One framed message → the typed envelope row dict. Raises on any
    reject (caller decides drop vs dead-letter)."""
    sid, body = unframe(bytes(msg))
    schema = registry.get(sid)
    if schema is None:
        raise ValueError(f"unknown schema id: {sid}")
    rec, _ = avro_decode(schema, body, 0)
    src = rec.get("source") or {}
    file_seq = 0
    m = re.search(r"(\d+)$", src.get("file") or "")
    if m:
        file_seq = int(m.group(1))
    base = {
        "log_pos": int(src.get("pos") or 0),
        "file_seq": file_seq,
        "server_id": (int(src["server_id"])
                      if src.get("server_id") is not None else None),
    }
    if "ddl" in rec:  # schema-history message
        stmt = rec["ddl"]
        ddl = parse_ddl_query(stmt)  # raises on unsupported DDL
        tm = _DDL_TBL_PY_RE.match(stmt)
        tbl = tm.group(1) if tm else ""
        return dict(
            base, op="DDL",
            table=f"{rec.get('databaseName')}.{tbl}",
            tx_id=None, before=None, after=None, ddl=ddl,
        )
    op_map = {"c": "I", "r": "I", "u": "U", "d": "D"}
    op = op_map.get(rec.get("op"))
    if op is None:
        raise ValueError(f"unknown op: {rec.get('op')!r}")
    txn = rec.get("transaction")
    tx_id = None
    if txn is not None and txn.get("id") is not None:
        tid = str(txn["id"])
        if tid.isdigit():
            tx_id = int(tid)
        else:  # same fallback as the JSON decode: abs(xxhash64(id))
            tx_id = abs(chain_hash([tid]))
    before = _payload_from_avro(rec.get("before"), payload_struct)
    after = _payload_from_avro(rec.get("after"), payload_struct)
    return dict(
        base, op=op,
        table=f"{src.get('db')}.{src.get('table')}",
        tx_id=tx_id,
        # typed-model placement: before only for U; D's image in `after`
        before=before if op == "U" else None,
        after=after if op != "D" else before,
        ddl=None,
    )


def decode_debezium_avro(
    df: DataFrame,
    registry: dict[int, dict] | None = None,
    value_col: str = "value",
    payload_struct: T.StructType = DEBEZIUM_PAYLOAD_STRUCT,
) -> DataFrame:
    """Registry-framed Avro values → the engine's typed CDC envelope
    (same output shape as ``decode_debezium``). Works on batch AND
    streaming DataFrames. Rejects (bad magic, unknown schema id,
    truncated body, unknown op, unsupported DDL) are dropped
    deterministically — ``avro_dead_letters`` is the complement."""
    reg = {sid: AvroSchema(s).root
           for sid, s in (registry or default_registry(payload_struct)).items()}
    ps = payload_struct
    out_schema = T.StructType(
        [T.StructField(n, t, True) for n, t in DECODED_SCHEMA_TEMPLATE]
        + [
            T.StructField("before", ps, True),
            T.StructField("after", ps, True),
            T.StructField("ddl", _DDL_STRUCT, True),
        ]
    )

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for msg in pdf[value_col]:
                if msg is None:
                    continue
                try:
                    rows.append(_decode_one(msg, reg, ps))
                except Exception:
                    continue  # deterministic poison-pill drop
            if not rows:
                continue
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema])

    return df.mapInPandas(mapper, schema=out_schema)


def avro_dead_letters(
    df: DataFrame,
    registry: dict[int, dict] | None = None,
    value_col: str = "value",
    payload_struct: T.StructType = DEBEZIUM_PAYLOAD_STRUCT,
) -> DataFrame:
    """The rejects of ``decode_debezium_avro``, with the raw message and
    a reason — Kafka Connect DLQ parity. Runs the SAME ``_decode_one``
    the decoder runs, so the two streams partition the input exactly."""
    reg = {sid: AvroSchema(s).root
           for sid, s in (registry or default_registry(payload_struct)).items()}
    ps = payload_struct
    out_schema = T.StructType([
        T.StructField("value", T.BinaryType(), True),
        T.StructField("reason", T.StringType(), True),
    ])

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vals, reasons = [], []
            for msg in pdf[value_col]:
                if msg is None:
                    vals.append(None)
                    reasons.append("null_value")
                    continue
                try:
                    _decode_one(msg, reg, ps)
                except Exception as e:
                    vals.append(bytes(msg))
                    reasons.append(f"{type(e).__name__}: {e}")
            if not vals:
                continue
            yield pd.DataFrame({"value": vals, "reason": reasons})

    return df.mapInPandas(mapper, schema=out_schema)


# topic archive on disk: sources/topic_archive.py, one registry-framed
# parquet file per binlog file + the registry dump _registry.json
_CODEC = topic_archive.TopicCodec(
    encode_debezium_avro, decode_debezium_avro, topic_archive.AVRO, default_registry
)
load_registry = topic_archive.load_registry


def write_debezium_avro(
    events: DataFrame, out_dir: str, server_name: str = "mysql1"
) -> list[str]:
    return topic_archive.write(_CODEC, events, out_dir, server_name=server_name)


def read_debezium_avro(
    spark: SparkSession,
    path: str,
    registry: dict[int, dict] | None = None,
    payload_struct: T.StructType = DEBEZIUM_PAYLOAD_STRUCT,
    streaming: bool = False,
) -> DataFrame:
    return topic_archive.read(
        _CODEC, spark, path, streaming, registry, payload_struct=payload_struct
    )


def replay_debezium_avro(
    spark: SparkSession, avro_dir: str, table_path: str, cfg=None, num_buckets: int = 64
) -> dict:
    return topic_archive.replay(_CODEC, spark, avro_dir, table_path, cfg, num_buckets)
