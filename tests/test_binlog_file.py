"""S4 at the byte level: real binlog FILE framing — magic, 19-byte event
headers, QUERY/XID/TABLE_MAP/ROWS bodies, ROTATE/STOP — feeding the
existing wire decoders, up to a full engine replay from file bytes."""

import os
import struct
import tempfile

import pyspark.sql.functions as F
import pytest

from mysql_syncer_spark.generator import GenSpec, generate_events, write_event_log
from mysql_syncer_spark.sources.binlog_file import (
    HEADER_LEN,
    MAGIC,
    encode_binlog_files,
    read_binlog_files,
    scan_binlog_bytes,
)
from mysql_syncer_spark.sources.wire_log import decode_wire_events


@pytest.fixture(scope="module")
def typed_table():
    return generate_events(GenSpec(n_events=1_000, events_per_file=400))


@pytest.fixture(scope="module")
def bin_dir(typed_table):
    d = tempfile.mkdtemp(prefix="binfile_")
    encode_binlog_files(typed_table, d)
    return d


def test_file_structure(bin_dir):
    names = sorted(os.listdir(bin_dir))
    assert "mysql-bin.index" in names
    files = [n for n in names if n != "mysql-bin.index"]
    assert files == ["mysql-bin.000000", "mysql-bin.000001", "mysql-bin.000002"]
    content = open(os.path.join(bin_dir, files[0]), "rb").read()
    assert content[:4] == MAGIC
    # first event header: FDE with a self-consistent next_pos chain
    ts, etype, svrid, el, next_pos, flags = struct.unpack_from("<IBIIIH", content, 4)
    assert etype == 15 and next_pos == 4 + el and el > HEADER_LEN


def test_scan_counts_match_typed_log(typed_table, bin_dir):
    """Per-file event census equals what the deterministic framing rules
    imply about the typed source log."""
    typed = typed_table.to_pylist()
    for seq in (0, 1, 2):
        content = open(os.path.join(bin_dir, f"mysql-bin.{seq:06d}"), "rb").read()
        evs = scan_binlog_bytes(content, seq)
        kinds = {}
        for e in evs:
            kinds[e["kind"]] = kinds.get(e["kind"], 0) + 1
        t = [e for e in typed if e["file_seq"] == seq]
        rows = [e for e in t if e["op"] in ("I", "U", "D")]
        assert kinds.get("WRITE_ROWS", 0) == sum(1 for e in rows if e["op"] == "I")
        assert kinds.get("UPDATE_ROWS", 0) == sum(1 for e in rows if e["op"] == "U")
        assert kinds.get("DELETE_ROWS", 0) == sum(1 for e in rows if e["op"] == "D")
        assert kinds.get("TABLE_MAP", 0) == len(rows)
        assert kinds.get("QUERY_DDL", 0) == sum(1 for e in t if e["op"] == "DDL")
        # BEGIN/XID pair per maximal same-tx run (DDL breaks a run)
        segs = 0
        prev = None  # (was_row, tx)
        for e in t:
            if e["op"] in ("I", "U", "D"):
                if prev is None or prev != e["tx_id"]:
                    segs += 1
                prev = e["tx_id"]
            else:
                prev = None
        assert kinds.get("QUERY_BEGIN", 0) == segs == kinds.get("XID", 0)
        assert kinds.get("FDE") == 1
        assert kinds.get("ROTATE", 0) == (1 if seq < 2 else 0)
        assert kinds.get("STOP", 0) == (1 if seq == 2 else 0)
        # every row event got its tx stamped from its XID
        assert all(
            e["tx_id"] is not None for e in evs if e["op"] in ("I", "U", "D")
        )


def test_envelope_decode_matches_typed_stream(spark, typed_table, bin_dir):
    """file bytes → envelope → decode_wire_events == the typed log's row
    stream (url, rank ts, op, tx), in order."""
    env = read_binlog_files(spark, bin_dir)
    dec = decode_wire_events(env)
    got = (
        dec.filter(F.col("op").isin("I", "U", "D"))
        .select(
            "file_seq", "log_pos", "op", "tx_id",
            F.col("after.url").alias("url"),
            F.unix_micros("after.warc_ts").alias("ts_us"),
        )
        .orderBy("file_seq", "log_pos")
        .collect()
    )
    # the encoder groups by file_seq in arrival order (a redelivered
    # duplicate keeps its ORIGINAL file_seq) — mirror with a stable sort
    want = sorted(
        (e for e in typed_table.to_pylist() if e["op"] in ("I", "U", "D")),
        key=lambda e: e["file_seq"],
    )
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g["op"] == w["op"] and g["tx_id"] == w["tx_id"]
        assert g["url"] == w["after"]["url"]
        ts = w["after"]["warc_ts"]
        import datetime as dt

        epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
        tsa = ts if ts.tzinfo else ts.replace(tzinfo=dt.timezone.utc)
        us = (tsa - epoch) // dt.timedelta(microseconds=1)
        assert g["ts_us"] == us, (g["url"], g["ts_us"], us)


def test_reads_list_files_instead_of_a_glob(spark, bin_dir, monkeypatch):
    """Unpruned, ranged and empty-range reads load an explicit list of the
    dir's binlog files (never a ``mysql-bin.*`` glob, nor the index); an
    empty range is an empty envelope frame that loads nothing."""
    from pyspark.sql.readwriter import DataFrameReader

    loaded = []
    real_load = DataFrameReader.load

    def recording_load(self, path=None, *args, **kwargs):
        loaded.append(path)
        return real_load(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameReader, "load", recording_load)

    def seqs(df):
        return sorted(r[0] for r in df.select("file_seq").distinct().collect())

    full = read_binlog_files(spark, bin_dir)
    assert seqs(full) == [0, 1, 2]
    names = sorted(os.path.basename(p) for p in loaded[-1])
    assert names == [f"mysql-bin.00000{i}" for i in range(3)]
    assert seqs(read_binlog_files(spark, bin_dir, from_file_seq=1, to_file_seq=1)) == [1]
    assert [os.path.basename(p) for p in loaded[-1]] == ["mysql-bin.000001"]
    n_loads = len(loaded)
    empty = read_binlog_files(spark, bin_dir, from_file_seq=7)
    assert len(loaded) == n_loads
    assert empty.schema == full.schema and empty.count() == 0


def test_full_replay_from_file_bytes(spark, typed_table, bin_dir):
    """The engine replay driven from RAW FILE BYTES equals the replay of
    the typed parquet log — final state, per url."""
    from mysql_syncer_spark.plans.replay import replay
    from mysql_syncer_spark.sink.pages_table import PagesTable

    # typed baseline
    tdir = tempfile.mkdtemp(prefix="binfile_typed_")
    write_event_log(typed_table, tdir)
    tpath = os.path.join(tempfile.mkdtemp(prefix="binfile_t_"), "pages")
    replay(spark, tdir, tpath, num_buckets=8)
    want = {
        r["url"]: (r["warc_ts"], r["lang"], r["extra_v2"])
        for r in PagesTable(spark, tpath).read().collect()
    }

    # file-bytes path: envelope → typed stream → apply per binlog file
    env = decode_wire_events(read_binlog_files(spark, bin_dir))
    bpath = os.path.join(tempfile.mkdtemp(prefix="binfile_b_"), "pages")
    t = PagesTable.create(spark, bpath, num_buckets=8)
    for seq in (0, 1, 2):
        t.apply_batch(
            f"fileseq-{seq}", env.filter(F.col("file_seq") == seq), None
        )
    got = {
        r["url"]: (r["warc_ts"], r["lang"], r["extra_v2"])
        for r in t.read().collect()
    }
    assert got == want


def test_table_filter_at_table_map(bin_dir):
    """The ,db.tb, filter decides at TABLE_MAP: a filtered map's rows
    events are skipped in-scan (never decoded, never emitted)."""
    content = open(os.path.join(bin_dir, "mysql-bin.000000"), "rb").read()
    evs = scan_binlog_bytes(content, 0, tables=("no.such",))
    assert not [e for e in evs if e["op"] in ("I", "U", "D")]
    assert any(e["kind"] == "WRITE_ROWS_SKIPPED" for e in evs)
    # unfiltered pass emits them
    evs2 = scan_binlog_bytes(content, 0, tables=("web.pages",))
    assert [e for e in evs2 if e["op"] == "I"]


def test_foreign_server_id_skips_rotate(bin_dir):
    content = open(os.path.join(bin_dir, "mysql-bin.000000"), "rb").read()
    evs = scan_binlog_bytes(content, 0, expected_server_id=99)
    assert any(e["kind"] == "ROTATE_FOREIGN_SKIPPED" for e in evs)
    evs2 = scan_binlog_bytes(content, 0, expected_server_id=1)
    rot = [e for e in evs2 if e["kind"] == "ROTATE"]
    assert rot and rot[0]["query"] == "mysql-bin.000001"


def test_resume_from_saved_offset(bin_dir):
    """from_pos resumes mid-file at an event boundary — the reference's
    fseek(dump_pos) (rs_request_dump.c:216-221)."""
    content = open(os.path.join(bin_dir, "mysql-bin.000000"), "rb").read()
    evs = scan_binlog_bytes(content, 0)
    xids = [e for e in evs if e["kind"] == "XID"]
    cut = xids[len(xids) // 2]
    # resume just after a committed transaction
    resumed = scan_binlog_bytes(content, 0, from_pos=cut["log_pos"] + HEADER_LEN + 8)
    all_rows = [e["log_pos"] for e in evs if e["op"] in ("I", "U", "D")]
    res_rows = [e["log_pos"] for e in resumed if e["op"] in ("I", "U", "D")]
    assert res_rows == [p for p in all_rows if p > cut["log_pos"]]
    assert all(e["tx_id"] is not None for e in resumed if e["op"] in ("I", "U", "D"))


def test_oversized_query_skipped():
    """A QUERY body over 2*RS_SQL_MAX_LEN is skipped without decode
    (rs_parse_binlog.c:128-131)."""
    from mysql_syncer_spark.sources.binlog_file import (
        QUERY_EVENT,
        _header,
        _query_body,
    )

    body = _query_body("web", "ALTER TABLE pages ADD COLUMN `x` " + "y" * 3000)
    buf = bytearray(MAGIC)
    buf += _header(0, QUERY_EVENT, 1, len(body), len(buf)) + body
    evs = scan_binlog_bytes(bytes(buf), 0)
    assert [e["kind"] for e in evs] == ["QUERY_OVERSIZED"]
    assert evs[0]["op"] is None


def test_truncated_file_raises():
    from mysql_syncer_spark.sources.binlog_file import XID_EVENT, _header

    buf = bytearray(MAGIC)
    buf += _header(0, XID_EVENT, 1, 8, len(buf)) + struct.pack("<Q", 7)
    good = bytes(buf)
    assert scan_binlog_bytes(good, 0)[0]["kind"] == "XID"
    # a header whose event_len runs past the buffer is corruption → LOUD
    with pytest.raises(ValueError, match="truncated"):
        scan_binlog_bytes(good[:-3], 0)
    # a PARTIAL trailing header is a live-appended tail, not corruption:
    # the walk stops cleanly before it (the reference would block on read)
    assert scan_binlog_bytes(good + good[4:14], 0)[-1]["kind"] == "XID"
    with pytest.raises(ValueError, match="magic"):
        scan_binlog_bytes(b"nope" + good[4:], 0)


def test_intvar_roundtrip_through_file_bytes(spark):
    """P7 at the byte level: INTVAR events ride the encoder (1B subtype |
    8B id, rs_parse_binlog.c:189-224), survive the scan, pass through the
    envelope with include_intvar=True, and attribute to exactly the next
    INSERT via operators.intvar.with_auto_increment."""
    import pyarrow as pa

    from mysql_syncer_spark.generator import EVENT_ARROW
    from mysql_syncer_spark.operators.intvar import with_auto_increment
    from mysql_syncer_spark.sources.binlog_file import envelope_intvar_view

    base = generate_events(GenSpec(n_events=60, events_per_file=60)).to_pylist()
    evs, want_ids = [], []
    n_iv = 0
    for e in base:
        if e["op"] == "I" and n_iv < 3:
            iv = 5000 + n_iv
            evs.append(
                {
                    "log_pos": e["log_pos"],
                    "file_seq": e["file_seq"],
                    "server_id": e["server_id"],
                    "op": "INTVAR",
                    "intvar": iv,
                }
            )
            want_ids.append(iv)
            n_iv += 1
        evs.append(e)
    assert n_iv == 3
    schema = pa.schema(list(EVENT_ARROW) + [pa.field("intvar", pa.int64())])
    tbl = pa.Table.from_pylist(evs, schema=schema)
    d = tempfile.mkdtemp(prefix="binfile_iv_")
    encode_binlog_files(tbl, d)

    env = read_binlog_files(spark, d, include_intvar=True)
    attributed = (
        with_auto_increment(envelope_intvar_view(env))
        .orderBy("log_pos")
        .collect()
    )
    got = [r["auto_increment_id"] for r in attributed if r["op"] == "I"]
    assert [g for g in got if g is not None] == want_ids
    # the id applies to the NEXT insert only; everything else stays null
    assert all(
        r["auto_increment_id"] is None for r in attributed if r["op"] != "I"
    )
    # default envelope (no flag) keeps the wire surface unchanged
    assert read_binlog_files(spark, d).filter("op = 'INTVAR'").count() == 0


def test_streaming_tail_from_raw_file_bytes(spark, typed_table, bin_dir):
    """LIVE byte-level tail: the streaming binaryFile source picks up
    rotated mysql-bin files incrementally; a checkpointed second run
    resumes past the first and the final state equals the typed replay —
    exactly-once from RAW FILE BYTES end to end."""
    import shutil

    from mysql_syncer_spark.plans.replay import replay
    from mysql_syncer_spark.sink.pages_table import PagesTable
    from mysql_syncer_spark.sources.binlog_file import stream_binlog_files
    from mysql_syncer_spark.streaming.runner import run_streaming_replay

    work = tempfile.mkdtemp(prefix="binstream_")
    live = os.path.join(work, "log")
    os.makedirs(live)
    shutil.copy(os.path.join(bin_dir, "mysql-bin.000000"), live)
    tpath = os.path.join(work, "pages")
    ckpt = os.path.join(work, "ckpt")

    def bounded():
        return run_streaming_replay(
            spark, live, tpath, ckpt, num_buckets=8, timeout_sec=180,
            transform=decode_wire_events,
            source=stream_binlog_files(spark, live),
        )

    bounded()
    t = PagesTable(spark, tpath)
    n1 = t.n_committed()
    assert n1 >= 1

    # rotation arrives; the checkpointed stream resumes and tails the rest
    for fn in ("mysql-bin.000001", "mysql-bin.000002"):
        shutil.copy(os.path.join(bin_dir, fn), live)
    bounded()
    assert t.n_committed() > n1

    tdir = tempfile.mkdtemp(prefix="binstream_typed_")
    write_event_log(typed_table, tdir)
    tp2 = os.path.join(tempfile.mkdtemp(prefix="binstream_t2_"), "pages")
    replay(spark, tdir, tp2, num_buckets=8)
    want = {
        r["url"]: (r["warc_ts"], r["lang"], r["extra_v2"])
        for r in PagesTable(spark, tp2).read().collect()
    }
    got = {
        r["url"]: (r["warc_ts"], r["lang"], r["extra_v2"])
        for r in t.read().collect()
    }
    assert got == want
