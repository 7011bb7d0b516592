"""Raw MySQL binlog FILE framing (SURVEY S4 at the byte level).

The last protocol layer between this engine and "point it at a real
binlog": everything below the ROWS_EVENT payloads that
``sources/wire_log.py`` already speaks. A consumer holding real
``mysql-bin.NNNNNN`` bytes feeds them to ``read_binlog_files`` and gets
the same wire envelope the rest of the engine runs on.

Byte layout (reference file:line):
- 4-byte magic, skipped before the first header
  (/root/reference/src/master/rs_request_dump.c:213-215).
- 19-byte event header: timestamp u32 | type u8 | server_id u32 |
  event_len u32 | next_pos u32 | flags u16 — all little-endian
  (/root/reference/src/master/rs_read_binlog.h:137-143, walk order
  rs_parse_binlog.c:59-117).
- QUERY (type 2): 13B fixed (thread_id u32, exec_sec u32, db_len u8,
  err u16, status_len u16) | status block | db name + NUL | sql text;
  ``BEGIN`` raises and ``COMMIT`` clears the in-transaction flag, and a
  body over 2*RS_SQL_MAX_LEN (=2048) bytes is skipped
  (rs_parse_binlog.c:119-185, rs_read_binlog.h:11,18).
- INTVAR (5): 1B subtype (2 = INSERT_ID) | 8B id (rs_parse_binlog.c:
  189-224).
- XID (16): 8B transaction id, clears the in-transaction flag
  (rs_parse_binlog.c:227-244).
- TABLE_MAP (19): table id 6B + reserved 2B | db len u8, db + NUL |
  tb len u8, tb + NUL | packed column count | type byte per column |
  packed meta length | meta bytes; the ,db.tb, filter decision happens
  HERE (rs_parse_binlog.c:246-320).
- WRITE/UPDATE/DELETE_ROWS (23/24/25): raw body = table id 6B +
  reserved 2B | packed column count | used bitmap(s) | row images.
  The scanner PREPENDS the active TABLE_MAP's (cn, types, meta) to form
  the engine blob — exactly the framing the reference master prepends
  for its slaves (rs_binlog_create_data; consumed by
  /root/reference/src/slave/rs_binlog_row.c:430-631) — so
  ``mysql_rows.MySQLTableDef.decode_rows_event`` runs unchanged.
- ROTATE (4) / STOP (3): control events; a foreign server id skips them
  (rs_parse_binlog.c:468-491).
- CRC32 event checksums (MySQL 5.6+ server default, beyond the 5.5-era
  C reference): auto-detected from the FDE's server version + trailing
  alg byte; every event's trailing CRC32 is VERIFIED (corruption
  raises) and stripped before dispatch. Encoder opt-in via
  ``checksum="crc32"``.

Scale stance: one binlog file is inherently sequential (the reference
fread-walks it), so the unit of parallelism is the FILE — Spark's
binaryFile source gives one task per file and the scanner walk is
Arrow-batched Python per file. Protocol surface, not the 100 TB hot
path (that stays the typed parquet log); at production scale this layer
is the INGEST edge whose output lands in typed parquet once.
"""

from __future__ import annotations

import os
import re
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .mysql_rows import MySQLTableDef
from .wire_log import PAGES_WIRE_TABLE, _payload_to_wire, ddl_to_query

MAGIC = b"\xfebin"
HEADER_LEN = 19
SQL_MAX_LEN = 1024  # RS_SQL_MAX_LEN (rs_read_binlog.h:11)

# event type codes (rs_read_binlog.h:100-134)
QUERY_EVENT = 2
STOP_EVENT = 3
ROTATE_EVENT = 4
INTVAR_EVENT = 5
FORMAT_DESCRIPTION_EVENT = 15
XID_EVENT = 16
TABLE_MAP_EVENT = 19
WRITE_ROWS_EVENT = 23
UPDATE_ROWS_EVENT = 24
DELETE_ROWS_EVENT = 25
# GTID events (MySQL 5.6+; numerically after the reference's table —
# the reference predates GTID, so these are documented from the public
# binlog spec, not a reference file)
GTID_EVENT = 33
ANONYMOUS_GTID_EVENT = 34
PREVIOUS_GTIDS_EVENT = 35

_ROWS_OP = {WRITE_ROWS_EVENT: "I", UPDATE_ROWS_EVENT: "U", DELETE_ROWS_EVENT: "D"}
_KIND = {
    QUERY_EVENT: "QUERY",
    STOP_EVENT: "STOP",
    ROTATE_EVENT: "ROTATE",
    INTVAR_EVENT: "INTVAR",
    FORMAT_DESCRIPTION_EVENT: "FDE",
    XID_EVENT: "XID",
    TABLE_MAP_EVENT: "TABLE_MAP",
    WRITE_ROWS_EVENT: "WRITE_ROWS",
    UPDATE_ROWS_EVENT: "UPDATE_ROWS",
    DELETE_ROWS_EVENT: "DELETE_ROWS",
    GTID_EVENT: "GTID",
    ANONYMOUS_GTID_EVENT: "ANONYMOUS_GTID",
    PREVIOUS_GTIDS_EVENT: "PREVIOUS_GTIDS",
}

_BIN_FILE_RE = re.compile(r"mysql-bin\.(\d+)$")


def _header(ts: int, etype: int, server_id: int, body_len: int, pos: int) -> bytes:
    el = HEADER_LEN + body_len
    return struct.pack("<IBIIIH", ts & 0xFFFFFFFF, etype, server_id, el,
                       pos + el, 0)


def _detect_crc32(content: bytes) -> bool:
    """Peek the FORMAT_DESCRIPTION event at the file head: MySQL >= 5.6.1
    appends a checksum-algorithm byte at body[-5] (0=off, 1=CRC32) and a
    trailing CRC32 on every event. Version is read from the FDE's 50-byte
    server_version field, so a 5.5-era file (no alg byte at all) is never
    misread."""
    p = len(MAGIC)
    if p + HEADER_LEN > len(content):
        return False
    _ts, etype, _sv, el, _np, _fl = struct.unpack_from("<IBIIIH", content, p)
    if etype != FORMAT_DESCRIPTION_EVENT or p + el > len(content):
        return False
    body = content[p + HEADER_LEN: p + el]
    if len(body) < 2 + 50 + 4 + 1 + 5:
        return False
    ver = body[2:52].split(b"\x00", 1)[0].decode(errors="replace")
    try:
        parts = tuple(int(x) for x in ver.split("-", 1)[0].split(".")[:3])
    except ValueError:
        return False
    if parts < (5, 6, 1):
        return False
    return body[-5] == 1  # BINLOG_CHECKSUM_ALG_CRC32


def _query_body(db: str, sql: str) -> bytes:
    dbb = db.encode()
    return (
        struct.pack("<IIBHH", 0, 0, len(dbb), 0, 0)
        + dbb + b"\x00"
        + sql.encode()
    )


def _table_map_body(table_id: int, db: str, tb: str, td: MySQLTableDef) -> bytes:
    from .decoder import encode_packed_int
    from .mysql_rows import MYSQL_TYPE_CODES

    dbb, tbb = db.encode(), tb.encode()
    types = bytes(MYSQL_TYPE_CODES[c.parse()[0]] for c in td.columns)
    meta = b"".join(c.meta_bytes() for c in td.columns)
    return (
        table_id.to_bytes(6, "little") + b"\x00\x00"
        + bytes([len(dbb)]) + dbb + b"\x00"
        + bytes([len(tbb)]) + tbb + b"\x00"
        + encode_packed_int(len(td.columns)) + types
        + encode_packed_int(len(meta)) + meta
    )


def _rows_body(td: MySQLTableDef, blob: bytes) -> bytes:
    """Strip the engine blob's prepended (cn, types, meta) framing down to
    the raw file body (table id onward) — the encoder inverse of the
    master's prepend."""
    cn = struct.unpack_from("<I", blob, 0)[0]
    ml = struct.unpack_from("<I", blob, 4 + cn)[0]
    return blob[4 + cn + 4 + ml:]


# ---------------------------------------------------------------------------
# GTID (MySQL 5.6+ global transaction ids — public binlog spec; the C
# reference is file+pos only, this extends the engine to the modern
# resume protocol the north-star names: "GTID/log-position ordering")
# ---------------------------------------------------------------------------


def _sid_bytes(uuid_str: str) -> bytes:
    import uuid as _uuid

    return _uuid.UUID(uuid_str).bytes


def _sid_str(b: bytes) -> str:
    import uuid as _uuid

    return str(_uuid.UUID(bytes=bytes(b)))


def encode_gtid_set(gtid_set: dict[str, list[tuple[int, int]]]) -> bytes:
    """GTID set → the PREVIOUS_GTIDS body encoding: u64 n_sids, then per
    sid 16B sid | u64 n_intervals | (u64 start, u64 end-EXCLUSIVE) per
    interval — MySQL's on-disk interval convention."""
    out = bytearray(struct.pack("<Q", len(gtid_set)))
    for sid in sorted(gtid_set):
        ivals = gtid_set[sid]
        out += _sid_bytes(sid) + struct.pack("<Q", len(ivals))
        for start, end in ivals:
            out += struct.pack("<QQ", start, end)
    return bytes(out)


def decode_gtid_set(b: bytes) -> dict[str, list[tuple[int, int]]]:
    (n_sids,) = struct.unpack_from("<Q", b, 0)
    pos = 8
    out: dict[str, list[tuple[int, int]]] = {}
    for _ in range(n_sids):
        sid = _sid_str(b[pos : pos + 16])
        (n_iv,) = struct.unpack_from("<Q", b, pos + 16)
        pos += 24
        ivals = []
        for _ in range(n_iv):
            start, end = struct.unpack_from("<QQ", b, pos)
            pos += 16
            ivals.append((start, end))
        out[sid] = ivals
    return out


def gtid_set_str(gtid_set: dict[str, list[tuple[int, int]]]) -> str:
    """Canonical MySQL text form: ``uuid:1-5:8,uuid2:1-3`` (end shown
    INCLUSIVE, single-gno intervals collapse to one number)."""
    parts = []
    for sid in sorted(gtid_set):
        spans = ":".join(
            str(s) if e == s + 1 else f"{s}-{e - 1}"
            for s, e in gtid_set[sid]
        )
        parts.append(f"{sid.lower()}:{spans}" if spans else sid.lower())
    return ",".join(parts)


def gtid_in_set(gtid_set: dict[str, list[tuple[int, int]]], gtid: str) -> bool:
    sid, gno_s = gtid.rsplit(":", 1)
    gno = int(gno_s)
    for s, e in gtid_set.get(sid.lower(), []) + gtid_set.get(sid, []):
        if s <= gno < e:
            return True
    return False


def encode_binlog_files(
    table,
    out_dir: str,
    table_def: MySQLTableDef | None = None,
    server_id: int = 1,
    table_id: int = 1,
    gtid_uuid: str | None = None,
    checksum: str | None = None,
    start_gno: int = 0,
) -> list[str]:
    """Typed event table (generator.EVENT_ARROW layout, pyarrow) → real
    binlog FILE bytes: ``mysql-bin.NNNNNN`` per file_seq plus a
    ``mysql-bin.index`` (the rotation index the reference walks,
    rs_read_binlog.c:210-252). Fixture side — MySQL is the real producer.

    Deterministic framing rules (the census oracle mirrors them in SQL):
    one FDE per file; BEGIN before each maximal run of row events sharing
    a tx_id, XID after it (a DDL or file end closes the run — MySQL DDL
    implicitly commits); one TABLE_MAP immediately before EVERY rows
    event; one ROTATE per non-final file; STOP on the final file.

    ``gtid_uuid`` opts into MySQL 5.6+ GTID framing (opt-in so the
    GTID-less census contract stays byte-stable): a GTID_EVENT with
    gno 1,2,… in commit order precedes every transaction (and every
    DDL — its own gno, as in MySQL), and each file opens with a
    PREVIOUS_GTIDS_EVENT holding the set committed in PRIOR files —
    the header that makes resume-from-GTID prune at the file level.

    ``start_gno`` offsets the GTID numbering (gno start_gno+1, …) — how
    a PROMOTED REPLICA's binlog continues the primary's GTID sequence
    after failover (its PREVIOUS_GTIDS header covers 1..start_gno even
    though those transactions live only in the primary's files); used to
    synthesize overlapping multi-source archives for the failover-merge
    operator (operators/failover.py).

    ``checksum="crc32"`` opts into MySQL 5.6+ event checksums (the
    server default since 5.6): the FDE advertises a 5.6 server version
    + the alg byte, and EVERY event (FDE included) gains a trailing
    CRC32 over its first event_len−4 bytes — the scanner auto-detects
    and VERIFIES (corruption raises)."""
    if checksum not in (None, "crc32"):
        raise ValueError(f"unsupported checksum {checksum!r}")
    td = table_def or PAGES_WIRE_TABLE
    os.makedirs(out_dir, exist_ok=True)
    # ARRIVAL order, not log_pos order: a redelivered duplicate carries
    # its ORIGINAL log_pos, but the file records the stream as it
    # happened (real binlog positions are the byte offsets we assign)
    events = table.to_pylist()
    by_file: dict[int, list[dict]] = {}
    for ev in events:
        by_file.setdefault(int(ev["file_seq"]), []).append(ev)
    seqs = sorted(by_file)
    paths = []
    gno = start_gno  # commit-ordered across the whole log

    def gtid_body(g: int) -> bytes:
        # 1B commit flag | 16B SID | 8B GNO (5.7 logical timestamps
        # omitted — optional tail, parsers read the fixed 25B prefix)
        return bytes([1]) + _sid_bytes(gtid_uuid) + struct.pack("<q", g)

    for i, seq in enumerate(seqs):
        buf = bytearray(MAGIC)
        pos = len(buf)

        def emit(etype: int, body: bytes, ts: int = 0) -> None:
            nonlocal pos
            if checksum == "crc32":
                import zlib

                hdr = _header(ts, etype, server_id, len(body) + 4, pos)
                crc = zlib.crc32(hdr + body) & 0xFFFFFFFF
                buf.extend(hdr + body + struct.pack("<I", crc))
                pos += HEADER_LEN + len(body) + 4
            else:
                buf.extend(_header(ts, etype, server_id, len(body), pos))
                buf.extend(body)
                pos += HEADER_LEN + len(body)

        # FDE: v4, 50B server version, create ts, header len, 27 post-hdr
        # (+ the checksum-alg byte when events carry CRC32 trailers)
        ver = b"5.6.4-msss" if checksum == "crc32" else b"5.5.0-msss"
        emit(
            FORMAT_DESCRIPTION_EVENT,
            struct.pack("<H", 4) + ver.ljust(50, b"\x00")
            + struct.pack("<I", 0) + bytes([HEADER_LEN]) + bytes(27)
            + (bytes([1]) if checksum == "crc32" else b""),
        )
        if gtid_uuid is not None:
            prior = {gtid_uuid: [(1, gno + 1)]} if gno else {}
            emit(PREVIOUS_GTIDS_EVENT, encode_gtid_set(prior))
        open_tx = None
        for ev in by_file[seq]:
            op = ev["op"]
            if op == "INTVAR":
                # 1B subtype (2 = INSERT_ID) | 8B id — rs_parse_binlog.c:
                # 189-224; emitted in-band so file adjacency INTVAR→INSERT
                # is preserved (attribution is one-event, operators/intvar)
                emit(
                    INTVAR_EVENT,
                    bytes([2]) + struct.pack("<Q", int(ev["intvar"])),
                )
                continue
            if op == "DDL":
                if open_tx is not None:  # DDL implicitly commits
                    emit(XID_EVENT, struct.pack("<Q", open_tx))
                    open_tx = None
                if gtid_uuid is not None:  # DDL takes its own gno
                    gno += 1
                    emit(GTID_EVENT, gtid_body(gno))
                emit(QUERY_EVENT, _query_body("web", ddl_to_query(ev["ddl"])))
                continue
            if op not in ("I", "U", "D"):
                continue
            tx = ev["tx_id"]
            if open_tx is not None and tx != open_tx:
                emit(XID_EVENT, struct.pack("<Q", open_tx))
                open_tx = None
            if open_tx is None and tx is not None:
                if gtid_uuid is not None:
                    gno += 1
                    emit(GTID_EVENT, gtid_body(gno))
                emit(QUERY_EVENT, _query_body("web", "BEGIN"))
                open_tx = int(tx)
            db, tb = (ev["table"].split(".", 1) + ["t"])[:2]
            emit(TABLE_MAP_EVENT, _table_map_body(table_id, db, tb, td))
            if op == "U":
                blob = td.encode_rows_event(
                    [(_payload_to_wire(ev["before"]), _payload_to_wire(ev["after"]))],
                    "update",
                )
                etype = UPDATE_ROWS_EVENT
            else:
                blob = td.encode_rows_event(
                    [_payload_to_wire(ev["after"])],
                    "delete" if op == "D" else "write",
                )
                etype = DELETE_ROWS_EVENT if op == "D" else WRITE_ROWS_EVENT
            emit(etype, _rows_body(td, blob))
        if open_tx is not None:
            emit(XID_EVENT, struct.pack("<Q", open_tx))
        if i + 1 < len(seqs):
            nxt = f"mysql-bin.{seqs[i + 1]:06d}"
            emit(ROTATE_EVENT, struct.pack("<Q", len(MAGIC)) + nxt.encode())
        else:
            emit(STOP_EVENT, b"")
        path = os.path.join(out_dir, f"mysql-bin.{seq:06d}")
        with open(path, "wb") as f:
            f.write(bytes(buf))
        paths.append(path)
    with open(os.path.join(out_dir, "mysql-bin.index"), "w") as f:
        f.write("\n".join(os.path.basename(p) for p in paths) + "\n")
    return paths


# ---------------------------------------------------------------------------
# scanner (driver-free per-file walk; the reference's read loop re-expressed)
# ---------------------------------------------------------------------------

def scan_binlog_bytes(
    content: bytes,
    file_seq: int,
    tables: tuple[str, ...] | None = None,
    expected_server_id: int | None = None,
    from_pos: int = 0,
) -> list[dict]:
    """Walk one binlog file's bytes → per-event dicts (kind + wire
    envelope fields + image count). Pure function; runs inside the
    Arrow-batched mapper AND standalone (resume: ``from_pos`` seeks a
    saved offset past the magic, rs_request_dump.c:213-215).

    Reference-parity behaviors: the ,db.tb, table filter decides at
    TABLE_MAP and skips that map's rows events; an oversized QUERY body
    (> 2*SQL_MAX_LEN) is skipped; ROTATE/STOP from a foreign server id
    are skipped (rs_parse_binlog.c:468-491); BEGIN/COMMIT toggle the
    transaction flag and XID stamps the buffered row events' tx_id."""
    if content[: len(MAGIC)] != MAGIC:
        raise ValueError("bad binlog magic")
    pos = max(from_pos, len(MAGIC))
    n = len(content)
    # Checksum detection (MySQL 5.6+: binlog_checksum=CRC32): the FDE at
    # the file head declares the algorithm — server_version >= 5.6.1 puts
    # a 1-byte alg at body[-5] and every event (FDE included) then ends
    # with CRC32 over its first (event_len - 4) bytes. Peeked from the
    # head even on a mid-file resume (from_pos skips the FDE itself).
    crc32_on = _detect_crc32(content)
    out: list[dict] = []
    tx_buffer: list[dict] = []  # row/DDL events awaiting their XID stamp
    in_tran = False
    filtered = False  # current TABLE_MAP's filter decision
    tmap: tuple[str, bytes] | None = None  # (db.tb, prepend framing)
    cur_gtid: str | None = None  # latched by GTID_EVENT, one tx wide

    def flush_tx(tx_id: int | None) -> None:
        for r in tx_buffer:
            r["tx_id"] = tx_id
        out.extend(tx_buffer)
        tx_buffer.clear()

    while pos + HEADER_LEN <= n:
        ts, etype, svrid, el, next_pos, _flags = struct.unpack_from(
            "<IBIIIH", content, pos
        )
        if el < HEADER_LEN or pos + el > n:
            raise ValueError(f"truncated event at pos {pos}")
        if crc32_on:
            import zlib

            (want,) = struct.unpack_from("<I", content, pos + el - 4)
            got = zlib.crc32(content[pos: pos + el - 4]) & 0xFFFFFFFF
            if got != want:
                raise ValueError(
                    f"binlog CRC32 mismatch at pos {pos} (event type "
                    f"{etype}): corrupt or torn event"
                )
            body = content[pos + HEADER_LEN: pos + el - 4]
        else:
            body = content[pos + HEADER_LEN: pos + el]
        ev = {
            "kind": _KIND.get(etype, f"UNKNOWN_{etype}"),
            "log_pos": pos,
            "file_seq": file_seq,
            "server_id": svrid,
            "op": None,
            "table": None,
            "tx_id": None,
            "rows_event": None,
            "query": None,
            "n_images": 0,
            "gtid": None,
        }
        if etype == QUERY_EVENT:
            if len(body) > 2 * SQL_MAX_LEN:
                ev["kind"] = "QUERY_OVERSIZED"  # skipped, census-visible
                out.append(ev)
                pos += el
                continue
            thread_id, exec_s, dbl, err, sbl = struct.unpack_from("<IIBHH", body, 0)
            p = 13 + sbl
            db = body[p: p + dbl].decode()
            p += dbl + 1  # + NUL
            sql = body[p:].decode()
            ev["query"] = sql
            if sql.startswith("BEGIN"):
                ev["kind"] = "QUERY_BEGIN"
                ev["gtid"] = cur_gtid
                in_tran = True
            elif sql.startswith("COMMIT"):
                ev["kind"] = "QUERY_COMMIT"
                in_tran = False
                flush_tx(None)
            else:
                ev["kind"] = "QUERY_DDL"
                ev["op"] = "DDL"
                ev["table"] = f"{db}.pages" if db else None
                ev["gtid"] = cur_gtid  # DDL consumes its own gno
                cur_gtid = None
                out.append(ev)
                pos += el
                continue
            out.append(ev)
        elif etype == INTVAR_EVENT:
            subtype = body[0]
            if subtype == 2:  # INSERT_ID
                ev["query"] = str(struct.unpack_from("<Q", body, 1)[0])
            ev["op"] = "INTVAR"
            out.append(ev)
        elif etype == XID_EVENT:
            (txid,) = struct.unpack_from("<Q", body, 0)
            ev["tx_id"] = txid
            ev["gtid"] = cur_gtid
            in_tran = False
            cur_gtid = None  # the GTID covered exactly this transaction
            flush_tx(txid)
            out.append(ev)
        elif etype == TABLE_MAP_EVENT:
            p = 8  # table id + reserved
            dbl = body[p]
            p += 1
            db = body[p: p + dbl].decode()
            p += dbl + 1
            tbl = body[p]
            p += 1
            tb = body[p: p + tbl].decode()
            p += tbl + 1
            rest = body[p:]  # packed cn | types | packed ml | meta
            from .decoder import decode_packed_int

            cn, q = decode_packed_int(rest, 0)
            types = bytes(rest[q: q + cn])
            q += cn
            ml, q2 = decode_packed_int(rest, q)
            meta = bytes(rest[q2: q2 + ml])
            name = f"{db}.{tb}"
            prepend = (
                struct.pack("<I", cn) + types + struct.pack("<I", ml) + meta
            )
            tmap = (name, prepend)
            filtered = tables is not None and name not in tables
            ev["table"] = name
            out.append(ev)
        elif etype in _ROWS_OP:
            if filtered or tmap is None:
                ev["kind"] += "_SKIPPED"
                out.append(ev)
                pos += el
                continue
            name, prepend = tmap
            blob = prepend + body
            ev["op"] = _ROWS_OP[etype]
            ev["table"] = name
            ev["rows_event"] = blob
            ev["gtid"] = cur_gtid
            if in_tran:
                tx_buffer.append(ev)
            else:
                out.append(ev)
        elif etype == GTID_EVENT:
            # 1B commit flag | 16B SID | 8B GNO (later-version logical-
            # timestamp tail ignored)
            (g,) = struct.unpack_from("<q", body, 17)
            cur_gtid = f"{_sid_str(body[1:17])}:{g}"
            ev["gtid"] = cur_gtid
            out.append(ev)
        elif etype == ANONYMOUS_GTID_EVENT:
            cur_gtid = None
            out.append(ev)
        elif etype == PREVIOUS_GTIDS_EVENT:
            ev["query"] = gtid_set_str(decode_gtid_set(body))
            out.append(ev)
        elif etype in (ROTATE_EVENT, STOP_EVENT):
            if expected_server_id is not None and svrid != expected_server_id:
                ev["kind"] += "_FOREIGN_SKIPPED"  # rs_parse_binlog.c:468-491
                out.append(ev)
                pos += el
                continue
            if etype == ROTATE_EVENT:
                ev["query"] = body[8:].decode()  # next file name
            flush_tx(None)  # nothing should be pending on a clean rotation
            out.append(ev)
        else:
            out.append(ev)  # FDE / unknown: skip handler (census-visible)
        pos += el
    flush_tx(None)
    return out


ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("log_pos", T.LongType(), True),
        T.StructField("file_seq", T.IntegerType(), True),
        T.StructField("server_id", T.IntegerType(), True),
        T.StructField("op", T.StringType(), True),
        T.StructField("table", T.StringType(), True),
        T.StructField("tx_id", T.LongType(), True),
        T.StructField("rows_event", T.BinaryType(), True),
        T.StructField("query", T.StringType(), True),
    ]
)

CENSUS_SCHEMA = T.StructType(
    [
        T.StructField("file_seq", T.IntegerType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_events", T.LongType(), False),
        T.StructField("n_images", T.LongType(), False),
        T.StructField("url_hash_sum", T.LongType(), False),
        T.StructField("ts_us_sum", T.LongType(), False),
    ]
)


def _binary_files(
    spark: SparkSession,
    path: str,
    from_file_seq: int | None = None,
    to_file_seq: int | None = None,
) -> DataFrame:
    """(path, content) of the dir's ``mysql-bin.NNNNNN`` files whose seq is
    in range. The files are listed on the driver and loaded as an explicit
    list: range pruning happens at the SOURCE (resume never reads
    pre-offset bytes), and Spark is never handed a glob — a glob load logs
    a FileStreamSink warning with a FileNotFoundException stack trace on
    every read. An empty range is an empty frame with no load at all."""

    def in_range(seq: int) -> bool:
        return (from_file_seq is None or seq >= from_file_seq) and (
            to_file_seq is None or seq <= to_file_seq
        )

    keep = sorted(
        os.path.join(path, nm)
        for nm in os.listdir(path)
        if _BIN_FILE_RE.fullmatch(nm) and in_range(_file_seq_of(nm))
    )
    if not keep:
        return spark.createDataFrame([], "path string, content binary")
    return spark.read.format("binaryFile").load(keep).select("path", "content")


def _file_seq_of(path: str) -> int:
    m = _BIN_FILE_RE.search(path)
    if not m:
        raise ValueError(f"not a binlog file: {path}")
    return int(m.group(1))


def _envelope_mapper(
    tables,
    expected_server_id,
    include_intvar=False,
    include_gtid=False,
    from_offsets=None,
):
    ops = ("I", "U", "D", "DDL") + (("INTVAR",) if include_intvar else ())
    cols = [f.name for f in ENVELOPE_SCHEMA.fields] + (
        ["gtid"] if include_gtid else []
    )
    from_offsets = from_offsets or {}

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path_, content in zip(pdf["path"], pdf["content"]):
                seq = _file_seq_of(path_)
                for ev in scan_binlog_bytes(
                    bytes(content),
                    seq,
                    tables,
                    expected_server_id,
                    from_pos=from_offsets.get(seq, 0),
                ):
                    if ev["op"] in ops:
                        row = [
                            ev["log_pos"], ev["file_seq"], ev["server_id"],
                            ev["op"], ev["table"], ev["tx_id"],
                            ev["rows_event"], ev["query"],
                        ]
                        if include_gtid:
                            row.append(ev["gtid"])
                        rows.append(row)
            if rows:
                yield pd.DataFrame(rows, columns=cols)

    return mapper


def read_binlog_files(
    spark: SparkSession,
    path: str,
    tables: tuple[str, ...] | None = None,
    expected_server_id: int | None = None,
    include_intvar: bool = False,
    include_gtid: bool = False,
    from_file_seq: int | None = None,
    from_pos: int = 0,
    to_file_seq: int | None = None,
) -> DataFrame:
    """Raw binlog FILE bytes → the engine's wire envelope (same schema the
    wire parquet log uses): feed ``decode_wire_events`` / the streaming
    runner unchanged. One Spark task per file (binaryFile source); the
    filter/guard decisions run inside the scan, so filtered tables' row
    events never leave the scanner. ``include_intvar=True`` additionally
    passes INTVAR events through (op='INTVAR', insert id in ``query``) for
    auto-increment attribution — see ``envelope_intvar_view``.
    ``include_gtid=True`` appends a nullable ``gtid`` column ("uuid:gno"
    stamped on every row/DDL event of a GTID-framed log) — opt-in so the
    default envelope schema stays byte-for-byte what the wire parquet
    log carries.

    Resume: ``from_file_seq``/``to_file_seq`` prune files outside the
    range at the SOURCE (via the rotation index when present — their
    bytes are never read), and ``from_pos`` seeks the first file to a
    saved offset (e.g. the one ``gtid_position`` returned)."""
    schema = ENVELOPE_SCHEMA
    if include_gtid:
        schema = T.StructType(
            list(ENVELOPE_SCHEMA.fields)
            + [T.StructField("gtid", T.StringType(), True)]
        )
    offsets = (
        {from_file_seq: from_pos}
        if from_file_seq is not None and from_pos
        else None
    )
    return _binary_files(spark, path, from_file_seq, to_file_seq).mapInPandas(
        _envelope_mapper(
            tables, expected_server_id, include_intvar, include_gtid, offsets
        ),
        schema=schema,
    )


def envelope_intvar_view(env: DataFrame) -> DataFrame:
    """Project a wire envelope (read with ``include_intvar=True``) into the
    shape ``operators.intvar.with_auto_increment`` consumes: the INSERT_ID
    value decoded by the scanner rides the ``query`` column as a decimal
    string (ENVELOPE_SCHEMA carries no dedicated numeric slot for a
    control event — deliberate: the envelope is the reference's wire
    framing, rs_parse_binlog.c:189-224 latches the id out-of-band too)."""
    from pyspark.sql import functions as F

    return env.select(
        "log_pos",
        "file_seq",
        "op",
        F.when(F.col("op") == "INTVAR", F.col("query").cast("long")).alias(
            "intvar"
        ),
    )


def stream_binlog_files(
    spark: SparkSession,
    path: str,
    tables: tuple[str, ...] | None = None,
    expected_server_id: int | None = None,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """LIVE tail of a binlog directory at the byte level (S1+S2 on raw
    files): the streaming binaryFile source discovers newly rotated
    ``mysql-bin.NNNNNN`` files incrementally — the Spark-first analogue of
    the reference's inotify + 1 s EOF poll loop (rs_read_binlog.c:77-208)
    — and each file is scanned whole (a binlog file is appended then
    rotated; the source picks it up on rotation). Compose with
    ``decode_wire_events`` + the streaming runner for an end-to-end
    checkpointed, exactly-once replay from raw file bytes."""
    from pyspark.sql import functions as F

    src = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, length long, "
            "content binary"
        )
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("pathGlobFilter", "mysql-bin.*")
        .load(path)
        .where(~F.col("path").endswith(".index"))
        .select("path", "content")
    )
    return src.mapInPandas(
        _envelope_mapper(tables, expected_server_id), schema=ENVELOPE_SCHEMA
    )


def binlog_census(
    spark: SparkSession,
    path: str,
    table_def: MySQLTableDef | None = None,
) -> DataFrame:
    """Typed event census per (file_seq, kind): event counts plus — for
    rows events — decoded image counts and engine-portable value
    checksums (md5-derived url hash, warc_ts microsecond sum), proving
    the full byte path file → header walk → TABLE_MAP framing → row-image
    decode against a SQL oracle over the ORIGINAL typed log."""
    import hashlib

    td = table_def or PAGES_WIRE_TABLE

    def url_hash(u: str | None) -> int:
        if u is None:
            return 0
        return int(hashlib.md5(u.encode()).hexdigest()[:8], 16)

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            agg: dict[tuple[int, str], list[int]] = {}
            for path_, content in zip(pdf["path"], pdf["content"]):
                seq = _file_seq_of(path_)
                for ev in scan_binlog_bytes(bytes(content), seq):
                    k = (seq, ev["kind"])
                    a = agg.setdefault(k, [0, 0, 0, 0])
                    a[0] += 1
                    if ev["rows_event"] is not None:
                        et = {"I": "write", "U": "update", "D": "delete"}[ev["op"]]
                        images = td.decode_rows_event(ev["rows_event"], et)
                        a[1] += len(images)
                        for img in images:
                            u = img.get("after_url") if et == "update" else img.get("url")
                            us = (
                                img.get("after_warc_ts_us")
                                if et == "update"
                                else img.get("warc_ts_us")
                            )
                            a[2] += url_hash(u)
                            a[3] += int(us or 0)
            if agg:
                yield pd.DataFrame(
                    [[fs, kind, *vals] for (fs, kind), vals in sorted(agg.items())],
                    columns=[f.name for f in CENSUS_SCHEMA.fields],
                )

    # one partial row-set per file partition; the final groupBy folds them
    from pyspark.sql import functions as F

    raw = _binary_files(spark, path).mapInPandas(mapper, schema=CENSUS_SCHEMA)
    return (
        raw.groupBy("file_seq", "kind")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("n_images").alias("n_images"),
            F.sum("url_hash_sum").alias("url_hash_sum"),
            F.sum("ts_us_sum").alias("ts_us_sum"),
        )
    )


# ---------------------------------------------------------------------------
# resume-from-GTID (S3 in GTID terms: gtid → (file_seq, resume offset))
# ---------------------------------------------------------------------------


def read_previous_gtids(content: bytes) -> dict[str, list[tuple[int, int]]]:
    """Header-only probe: walk events from the magic until the
    PREVIOUS_GTIDS_EVENT (MySQL writes it immediately after the FDE) and
    return its decoded set; {} if the file predates GTID mode. Stops at
    the first non-control event, so the cost is O(file header), never
    O(file) — the property that makes the file-level index cheap."""
    if content[: len(MAGIC)] != MAGIC:
        raise ValueError("bad binlog magic")
    pos = len(MAGIC)
    n = len(content)
    while pos + HEADER_LEN <= n:
        _ts, etype, _svrid, el, _next_pos, _flags = struct.unpack_from(
            "<IBIIIH", content, pos
        )
        if el < HEADER_LEN or pos + el > n:
            raise ValueError(f"truncated event at pos {pos}")
        if etype == PREVIOUS_GTIDS_EVENT:
            return decode_gtid_set(content[pos + HEADER_LEN : pos + el])
        if etype not in (FORMAT_DESCRIPTION_EVENT, ROTATE_EVENT):
            return {}  # past the header block: not a GTID-framed file
        pos += el
    return {}


def gtid_file_index(spark: SparkSession, path: str) -> DataFrame:
    """Distributed (file_seq, previous_gtids) index over a binlog
    directory: one task per file, each reading only the header block.
    O(files) rows — safe to collect for pruning decisions."""
    schema = T.StructType(
        [
            T.StructField("file_seq", T.IntegerType(), False),
            T.StructField("previous_gtids", T.StringType(), False),
        ]
    )

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                [
                    _file_seq_of(p),
                    gtid_set_str(read_previous_gtids(bytes(c))),
                ]
                for p, c in zip(pdf["path"], pdf["content"])
            ]
            if rows:
                yield pd.DataFrame(rows, columns=["file_seq", "previous_gtids"])

    return _binary_files(spark, path).mapInPandas(mapper, schema=schema)


def gtid_position(
    spark: SparkSession, path: str, gtid: str
) -> tuple[int, int]:
    """Locate where to RESUME after transaction ``gtid`` ("uuid:gno"):
    → (file_seq, offset past the transaction's closing event). File-level
    pruning first — the PREVIOUS_GTIDS index picks the single file whose
    prior-set excludes the gno while the next file's includes it (or the
    last file) — then one sequential scan of just that file. At 10^10
    events this reads N_file headers + ONE file, not the log.

    Raises ``KeyError`` if the gtid is in no file (typo or purged log)."""
    idx = sorted(
        (r["file_seq"], r["previous_gtids"])
        for r in gtid_file_index(spark, path).collect()
    )
    if not idx:
        raise KeyError(f"no binlog files under {path}")

    def prev_contains(prev_str: str) -> bool:
        if not prev_str:
            return False
        parsed: dict[str, list[tuple[int, int]]] = {}
        for part in prev_str.split(","):
            sid, _, spans = part.partition(":")
            ivals = []
            for span in spans.split(":"):
                lo, _, hi = span.partition("-")
                ivals.append((int(lo), int(hi or lo) + 1))
            parsed[sid] = ivals
        return gtid_in_set(parsed, gtid)

    candidate = None
    for seq, prev_str in idx:
        if prev_contains(prev_str):
            break  # already executed before this file: target is earlier
        candidate = seq
    if candidate is None:
        raise KeyError(f"gtid {gtid} precedes the retained log")
    fname = os.path.join(path, f"mysql-bin.{candidate:06d}")
    with open(fname, "rb") as f:
        content = f.read()
    in_target = False
    for ev in scan_binlog_bytes(content, candidate):
        if ev["kind"] == "GTID" and ev["gtid"] == gtid:
            in_target = True
        elif in_target and ev["kind"] in ("XID", "QUERY_DDL"):
            # the tx closes here; resume at the next event boundary
            return candidate, ev["log_pos"] + _event_len_at(
                content, ev["log_pos"]
            )
    raise KeyError(f"gtid {gtid} not found in mysql-bin.{candidate:06d}")


def _event_len_at(content: bytes, pos: int) -> int:
    return struct.unpack_from("<IBIIIH", content, pos)[3]


def resume_filter(from_file_seq: int, from_pos: int = 0):
    """Envelope transform for STREAMING resume-after-GTID: the batch
    lookup (``gtid_position``) runs once before the stream starts, then
    this filter drops already-applied events — earlier files entirely
    and the resume file's prefix. Compose as
    ``transform=lambda df: decode_wire_events(resume_filter(seq, off)(df))``
    on ``stream_binlog_files`` (the streaming source discovers whole
    files, so the predicate — not the source — enforces the mid-file
    boundary; the sink's idempotent ledger already tolerates the
    redelivered prefix, this just avoids re-decoding it)."""
    from pyspark.sql import functions as F

    def apply(df: DataFrame) -> DataFrame:
        return df.where(
            (F.col("file_seq") > from_file_seq)
            | (
                (F.col("file_seq") == from_file_seq)
                & (F.col("log_pos") >= from_pos)
            )
        )

    return apply
