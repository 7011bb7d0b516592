"""Wire-format event log: the CDC stream with REAL MySQL ROWS_EVENT
payloads instead of pre-typed columns.

The typed parquet log (generator.py) is this engine's fast path; this
module is the protocol-parity path — each row event travels as one
byte-compatible ROWS_EVENT blob (sources/mysql_rows.py walks the
reference's exact framing, /root/reference/src/slave/rs_binlog_row.c:
430-631) and each DDL travels as QUERY-event SQL text (the reference
forwards QUERY statements verbatim, /root/reference/src/master/
rs_parse_binlog.c:119-185). A consumer of the reference could point its
actual binlog row images at `decode_wire_events` and get the same typed
stream the rest of the engine runs on.

Schema notes:
- ``warc_ts`` rides as BIGINT epoch-microseconds (``warc_ts_us``): the
  classic 4-byte TIMESTAMP wire type is second-granular, and CDC tables
  that need sub-second order use BIGINT in practice.
- ``extra`` (the DDL-added column) is present in every event's
  self-describing framing; events before the ADD COLUMN simply leave its
  used-columns bit clear — which is exactly what the bitmap is for.
- The decode is an Arrow-batched ``mapInPandas`` (the blob walk is
  per-event Python, batched I/O) — protocol surface, not the 100 TB hot
  path; the hot path stays the typed parquet log.
"""

from __future__ import annotations

import datetime as _dt
import os
import re
from collections.abc import Iterator

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..model import DDL_STRUCT
from .mysql_rows import MySQLColumn, MySQLTableDef

_UTC = _dt.timezone.utc

# The pages payload as a MySQL table registry (column order IS the wire
# order, like the reference's pas_arr).
PAGES_WIRE_TABLE = MySQLTableDef(
    columns=(
        MySQLColumn("url", "varchar(700)"),
        MySQLColumn("warc_ts_us", "longlong"),
        MySQLColumn("html", "blob(3)"),
        MySQLColumn("text", "blob(3)"),
        MySQLColumn("lang", "varchar(40)"),
        MySQLColumn("extra", "varchar(700)"),
    )
)

_PAYLOAD_FIELDS = ["url", "warc_ts", "html", "text", "lang", "extra"]

WIRE_PAYLOAD_STRUCT = T.StructType(
    [
        T.StructField("url", T.StringType(), True),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("extra", T.StringType(), True),
    ]
)

DECODED_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("log_pos", T.LongType(), True),
        T.StructField("file_seq", T.IntegerType(), True),
        T.StructField("server_id", T.IntegerType(), True),
        T.StructField("op", T.StringType(), True),
        T.StructField("table", T.StringType(), True),
        T.StructField("tx_id", T.LongType(), True),
        T.StructField("before", WIRE_PAYLOAD_STRUCT, True),
        T.StructField("after", WIRE_PAYLOAD_STRUCT, True),
        T.StructField("ddl", DDL_STRUCT, True),
    ]
)


# ---------------------------------------------------------------------------
# DDL <-> QUERY-event SQL text (rs_parse_binlog.c forwards the statement)
# ---------------------------------------------------------------------------

def ddl_to_query(ddl: dict) -> str:
    if ddl["kind"] == "add_column":
        return f"ALTER TABLE pages ADD COLUMN `{ddl['col']}` {ddl['dtype']}"
    if ddl["kind"] == "rename_column":
        return (
            f"ALTER TABLE pages RENAME COLUMN `{ddl['col']}` "
            f"TO `{ddl['new_name']}`"
        )
    if ddl["kind"] == "drop_column":
        return f"ALTER TABLE pages DROP COLUMN `{ddl['col']}`"
    if ddl["kind"] == "widen_column":
        return f"ALTER TABLE pages MODIFY COLUMN `{ddl['col']}` {ddl['dtype']}"
    raise ValueError(ddl["kind"])


_ADD_RE = re.compile(
    r"ALTER TABLE \S+ ADD COLUMN `?(\w+)`? (\w+)", re.IGNORECASE
)
_RENAME_RE = re.compile(
    r"ALTER TABLE \S+ RENAME COLUMN `?(\w+)`? TO `?(\w+)`?", re.IGNORECASE
)
_DROP_RE = re.compile(r"ALTER TABLE \S+ DROP COLUMN `?(\w+)`?", re.IGNORECASE)
_MODIFY_RE = re.compile(
    r"ALTER TABLE \S+ MODIFY COLUMN `?(\w+)`? (\w+)", re.IGNORECASE
)


def parse_ddl_query(sql: str) -> dict:
    """QUERY-event statement → the engine's typed DDL struct."""
    m = _ADD_RE.match(sql)
    if m:
        return {"kind": "add_column", "col": m.group(1), "new_name": None,
                "dtype": m.group(2)}
    m = _RENAME_RE.match(sql)
    if m:
        return {"kind": "rename_column", "col": m.group(1),
                "new_name": m.group(2), "dtype": None}
    m = _DROP_RE.match(sql)
    if m:
        return {"kind": "drop_column", "col": m.group(1), "new_name": None,
                "dtype": None}
    m = _MODIFY_RE.match(sql)
    if m:
        return {"kind": "widen_column", "col": m.group(1), "new_name": None,
                "dtype": m.group(2)}
    raise ValueError(f"unsupported DDL: {sql!r}")


# ---------------------------------------------------------------------------
# typed events -> wire log (fixture/test side; MySQL is the real producer)
# ---------------------------------------------------------------------------

def _payload_to_wire(p: dict | None) -> dict | None:
    if p is None:
        return None
    ts = p.get("warc_ts")
    if isinstance(ts, _dt.datetime):
        epoch = _dt.datetime(1970, 1, 1, tzinfo=_UTC)
        ts = (ts if ts.tzinfo else ts.replace(tzinfo=_UTC)) - epoch
        ts = ts.days * 86_400_000_000 + ts.seconds * 1_000_000 + ts.microseconds
    txt = p.get("text")
    return {
        "url": p.get("url"),
        "warc_ts_us": ts,
        "html": p.get("html"),
        "text": txt.encode("utf-8") if isinstance(txt, str) else txt,
        "lang": p.get("lang"),
        "extra": p.get("extra"),
    }


# typed payload field name <-> wire column name (only warc_ts differs)
_TYPED_TO_WIRE = {"warc_ts": "warc_ts_us"}
_WIRE_TO_TYPED = {v: k for k, v in _TYPED_TO_WIRE.items()}


def write_wire_event_log(
    table: pa.Table, out_dir: str, row_group_rows: int = 50_000
) -> list[str]:
    """Convert a typed event table (generator.EVENT_ARROW) into the wire
    log: one parquet file per file_seq (rotation parity with
    write_event_log), each row event carrying a ROWS_EVENT blob.

    If the table carries a ``present`` column (a MINIMAL-image log from
    generator.minimalize_event_log), U events are encoded the way
    ``binlog_row_image=MINIMAL`` actually frames them: the BEFORE image
    is key-only and the AFTER image's used-columns bitmap covers exactly
    the present fields — the bitmap walk the reference already does
    (rs_binlog_row.c:430-631) carries the partial image for free."""
    td = PAGES_WIRE_TABLE
    has_present = "present" in table.schema.names
    rows_out: list[dict] = []
    for ev in table.to_pylist():
        op = ev["op"]
        rec = {
            k: ev[k]
            for k in ("log_pos", "file_seq", "server_id", "op", "table", "tx_id")
        }
        if op == "DDL":
            rec["rows_event"] = None
            rec["query"] = ddl_to_query(ev["ddl"])
        else:
            # typed-model image placement: before is populated for U only;
            # I and D carry their single image in `after` (generator.py:215)
            if op == "U":
                present = ev.get("present") if has_present else None
                if present is not None:
                    used_after = tuple(
                        _TYPED_TO_WIRE.get(f, f) for f in present
                    )
                    blob = td.encode_rows_event(
                        [(_payload_to_wire({"url": ev["after"]["url"]}),
                          _payload_to_wire(ev["after"]))],
                        "update",
                        used=("url",),  # MINIMAL before image: key only
                        used_after=used_after,
                    )
                else:
                    blob = td.encode_rows_event(
                        [(_payload_to_wire(ev["before"]),
                          _payload_to_wire(ev["after"]))],
                        "update",
                    )
            else:
                blob = td.encode_rows_event(
                    [_payload_to_wire(ev["after"])],
                    "delete" if op == "D" else "write",
                )
            rec["rows_event"] = blob
            rec["query"] = None
        rows_out.append(rec)
    wire_schema = pa.schema(
        [
            pa.field("log_pos", pa.int64()),
            pa.field("file_seq", pa.int32()),
            pa.field("server_id", pa.int32()),
            pa.field("op", pa.string()),
            pa.field("table", pa.string()),
            pa.field("tx_id", pa.int64()),
            pa.field("rows_event", pa.binary()),
            pa.field("query", pa.string()),
        ]
    )
    wire = pa.Table.from_pylist(rows_out, schema=wire_schema)
    os.makedirs(out_dir, exist_ok=True)
    fs = wire.column("file_seq").to_numpy(zero_copy_only=False)
    paths = []
    for seq in sorted({int(x) for x in fs}):
        chunk = wire.filter(pa.array(fs == seq))
        path = os.path.join(out_dir, f"binlog-{seq:06d}.parquet")
        pq.write_table(chunk, path, row_group_size=row_group_rows)
        paths.append(path)
    return paths


# ---------------------------------------------------------------------------
# wire log -> typed stream (distributed decode)
# ---------------------------------------------------------------------------

def _wire_to_payload(d: dict | None) -> dict | None:
    if d is None:
        return None
    us = d.get("warc_ts_us")
    ts = (
        None
        if us is None
        else _dt.datetime(1970, 1, 1, tzinfo=_UTC) + _dt.timedelta(microseconds=us)
    )
    txt = d.get("text")
    return {
        "url": d.get("url"),
        "warc_ts": ts,
        "html": d.get("html"),
        "text": txt.decode("utf-8") if isinstance(txt, (bytes, bytearray)) else txt,
        "lang": d.get("lang"),
        "extra": d.get("extra"),
    }


def decode_wire_events(
    df: DataFrame,
    table_def: MySQLTableDef | None = None,
    payload_struct: T.StructType | None = None,
    to_payload=None,
    on_error: str = "fail",
) -> DataFrame:
    """Wire log → the engine's typed event stream. Works on batch AND
    streaming DataFrames (a plain transformation); the output feeds
    PagesTable.apply_batch / the streaming runner unchanged.

    Defaults decode the pages table; pass ``table_def`` (+ optionally
    ``payload_struct`` / ``to_payload``) to decode another table's wire
    rows — see ``route_wire_tables`` for the multi-table dispatch.

    ``on_error='skip'`` drops undecodable events (truncated blob, unknown
    DDL, registry/type mismatch) instead of failing the task — the
    poison-pill mode every long-running CDC tail needs; the skip is
    deterministic (same blob → same outcome) so Structured Streaming
    retries and checkpoint replays stay consistent. Default is 'fail':
    corruption should be LOUD unless the operator opted in."""
    if on_error not in ("fail", "skip"):
        raise ValueError(f"on_error must be 'fail' or 'skip', got {on_error!r}")
    td = table_def or PAGES_WIRE_TABLE
    if payload_struct is None and table_def is not None:
        payload_struct = T.StructType(
            [T.StructField(f.name, f.dataType, True) for f in td.spark_schema()]
        )
    pay_struct = payload_struct or WIRE_PAYLOAD_STRUCT
    convert = to_payload if to_payload is not None else (
        _wire_to_payload if table_def is None else (lambda d: d)
    )
    out_schema = T.StructType(
        [
            f if f.name not in ("before", "after")
            else T.StructField(f.name, pay_struct, True)
            for f in DECODED_EVENT_SCHEMA.fields
        ]
        + [T.StructField("present", T.ArrayType(T.StringType()), True)]
    )

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            befores, afters, ddls, presents, kept = [], [], [], [], []
            for idx, (blob, op, query) in enumerate(
                zip(pdf["rows_event"], pdf["op"], pdf["query"])
            ):
                before = after = ddl = present = None
                try:
                    if op == "DDL":
                        ddl = parse_ddl_query(query)
                    elif op == "U":
                        d = td.decode_rows_event(bytes(blob), "update")[0]
                        before = convert(
                            {k[7:]: v for k, v in d.items() if k.startswith("before_")}
                        )
                        raw_after = {
                            k[6:]: v for k, v in d.items() if k.startswith("after_")
                        }
                        # the after image's used-columns bitmap, by typed
                        # name — binlog_row_image=MINIMAL rides the wire
                        # as exactly this (operators/partial.py consumes)
                        present = [
                            _WIRE_TO_TYPED.get(k, k) for k in raw_after
                        ]
                        after = convert(raw_after)
                    else:  # I and D both carry one image, placed in `after`
                        after = convert(
                            td.decode_rows_event(bytes(blob), "write")[0]
                        )
                except Exception:
                    if on_error == "fail":
                        raise
                    continue  # poison pill: deterministic skip
                befores.append(before)
                afters.append(after)
                ddls.append(ddl)
                presents.append(present)
                kept.append(idx)
            if not kept:  # all rows skipped: an empty object column would
                continue  # arrive float64 and fail the Arrow struct cast
            yield pd.DataFrame(
                {
                    "log_pos": pdf["log_pos"].values[kept],
                    "file_seq": pdf["file_seq"].values[kept],
                    "server_id": pdf["server_id"].values[kept],
                    "op": pdf["op"].values[kept],
                    "table": pdf["table"].values[kept],
                    "tx_id": pdf["tx_id"].values[kept],
                    "before": befores,
                    "after": afters,
                    "ddl": ddls,
                    "present": presents,
                }
            )

    return df.mapInPandas(mapper, schema=out_schema)


def wire_dead_letters(
    df: DataFrame,
    table_def: MySQLTableDef | None = None,
    to_payload=None,
) -> DataFrame:
    """The rejects of ``decode_wire_events(on_error='skip')``, with the
    decode error — the dead-letter queue (Kafka Connect DLQ parity):
    quarantine undecodable blobs with enough context (envelope + raw
    bytes + reason) to replay them after a codec fix, instead of losing
    them silently. Deterministic: a row lands in exactly one of
    decode_wire_events / wire_dead_letters, so checkpoint replays stay
    consistent. Same Arrow-batched shape as the decoder; errors are rare
    so this second pass over the (pushed-down, pruned) scan is the
    standard split-the-stream pattern rather than a per-row tag column
    on the hot path.

    Pass the SAME ``table_def``/``to_payload`` given to
    ``decode_wire_events`` — the try block below re-runs decode AND the
    payload convert step, so the skip sets match exactly (a row whose
    bytes decode but whose convert raises — e.g. invalid UTF-8 in a text
    column — lands here, not nowhere)."""
    td = table_def or PAGES_WIRE_TABLE
    convert = to_payload if to_payload is not None else (
        _wire_to_payload if table_def is None else (lambda d: d)
    )
    out_schema = T.StructType(
        [
            T.StructField("log_pos", T.LongType(), True),
            T.StructField("file_seq", T.IntegerType(), True),
            T.StructField("op", T.StringType(), True),
            T.StructField("table", T.StringType(), True),
            T.StructField("rows_event", T.BinaryType(), True),
            T.StructField("query", T.StringType(), True),
            T.StructField("reason", T.StringType(), True),
        ]
    )

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            kept, reasons = [], []
            for idx, (blob, op, query) in enumerate(
                zip(pdf["rows_event"], pdf["op"], pdf["query"])
            ):
                try:
                    if op == "DDL":
                        parse_ddl_query(query)
                    elif op == "U":
                        d = td.decode_rows_event(bytes(blob), "update")[0]
                        convert(
                            {k[7:]: v for k, v in d.items()
                             if k.startswith("before_")}
                        )
                        convert(
                            {k[6:]: v for k, v in d.items()
                             if k.startswith("after_")}
                        )
                    else:
                        convert(td.decode_rows_event(bytes(blob), "write")[0])
                except Exception as e:  # mirror decode's skip set exactly
                    kept.append(idx)
                    reasons.append(f"{type(e).__name__}: {e}")
            if not kept:
                continue
            yield pd.DataFrame(
                {
                    "log_pos": pdf["log_pos"].values[kept],
                    "file_seq": pdf["file_seq"].values[kept],
                    "op": pdf["op"].values[kept],
                    "table": pdf["table"].values[kept],
                    "rows_event": pdf["rows_event"].values[kept],
                    "query": pdf["query"].values[kept],
                    "reason": reasons,
                }
            )

    return df.mapInPandas(mapper, schema=out_schema)


def route_wire_tables(
    df: DataFrame, registry: dict[str, MySQLTableDef]
) -> dict[str, DataFrame]:
    """Per-table wire dispatch (the reference's per-table slave registry,
    R1, at the wire level): each replicated table gets its own decoded
    typed stream, filtered by the envelope's ``table`` column BEFORE the
    Python decode stage so the filter pushes into the parquet scan and
    each table's decode only reads its own blobs."""
    return {
        name: decode_wire_events(
            df.filter(df["table"] == name), table_def=td
        )
        for name, td in registry.items()
    }
