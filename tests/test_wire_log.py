"""Wire-format event log: typed events → real ROWS_EVENT blobs + QUERY
DDL text → distributed decode → streaming replay parity."""

import tempfile

from mysql_syncer_spark.generator import GenSpec, generate_events, write_event_log
from mysql_syncer_spark.oracle import _to_us
from mysql_syncer_spark.plans.replay import replay
from mysql_syncer_spark.sink.pages_table import PagesTable
from mysql_syncer_spark.sources.wire_log import (
    decode_wire_events,
    ddl_to_query,
    parse_ddl_query,
    write_wire_event_log,
)
from mysql_syncer_spark.streaming.runner import run_streaming_replay


def test_ddl_query_text_roundtrip():
    add = {"kind": "add_column", "col": "extra", "new_name": None, "dtype": "string"}
    ren = {"kind": "rename_column", "col": "extra", "new_name": "extra_v2",
           "dtype": None}
    drop = {"kind": "drop_column", "col": "extra_v2", "new_name": None,
            "dtype": None}
    assert parse_ddl_query(ddl_to_query(add)) == add
    assert parse_ddl_query(ddl_to_query(ren)) == ren
    assert parse_ddl_query(ddl_to_query(drop)) == drop


def _norm_payload(p):
    if p is None:
        return None
    d = p.asDict()
    d["warc_ts"] = _to_us(d["warc_ts"])
    d["html"] = bytes(d["html"]) if d["html"] is not None else None
    return d


def test_wire_decode_equals_typed_log(spark):
    tbl = generate_events(GenSpec(n_events=1500))
    d_typed, d_wire = tempfile.mkdtemp(), tempfile.mkdtemp()
    write_event_log(tbl, d_typed)
    write_wire_event_log(tbl, d_wire)

    key = lambda r: (r["file_seq"], r["log_pos"])
    typed = sorted(spark.read.parquet(d_typed).collect(), key=key)
    decoded = sorted(
        decode_wire_events(spark.read.parquet(d_wire)).collect(), key=key
    )
    # generator adds duplicate redeliveries + DDL events beyond n_events
    assert len(typed) == len(decoded) >= 1500
    for t, w in zip(typed, decoded):
        for c in ("log_pos", "file_seq", "server_id", "op", "table", "tx_id"):
            assert t[c] == w[c], (c, t, w)
        assert _norm_payload(t["before"]) == _norm_payload(w["before"]), (t, w)
        assert _norm_payload(t["after"]) == _norm_payload(w["after"]), (t, w)
        tddl = t["ddl"].asDict() if t["ddl"] is not None else None
        wddl = w["ddl"].asDict() if w["ddl"] is not None else None
        assert tddl == wddl, (t, w)


def test_streaming_wire_replay_matches_typed_replay(spark):
    """End to end: tail the wire log (real ROWS_EVENT blobs) with the
    streaming runner and land the SAME final table as the typed replay —
    including the DDL-added extra_v2 column."""
    tbl = generate_events(GenSpec(n_events=1200, events_per_file=400))
    d_typed, d_wire = tempfile.mkdtemp(), tempfile.mkdtemp()
    write_event_log(tbl, d_typed)
    write_wire_event_log(tbl, d_wire)

    p_typed = tempfile.mkdtemp() + "/pages"
    replay(spark, d_typed, p_typed, num_buckets=8)

    p_wire = tempfile.mkdtemp() + "/pages"
    run_streaming_replay(
        spark,
        d_wire,
        p_wire,
        tempfile.mkdtemp() + "/ckpt",
        num_buckets=8,
        timeout_sec=240,
        transform=decode_wire_events,
    )

    def snap(path):
        rows = PagesTable(spark, path).read().collect()
        return {
            r["url"]: {
                k: (_to_us(v) if k == "warc_ts" else
                    bytes(v) if isinstance(v, (bytes, bytearray)) else v)
                for k, v in r.asDict().items()
            }
            for r in rows
        }

    a, b = snap(p_typed), snap(p_wire)
    assert a == b and len(a) > 0


def test_route_wire_tables_multi_table(spark):
    """Two tables with different wire schemas in ONE log; per-table routed
    decode returns each table's typed stream (R1 at the wire level)."""
    from decimal import Decimal

    from mysql_syncer_spark.sources.mysql_rows import MySQLColumn, MySQLTableDef
    from mysql_syncer_spark.sources.wire_log import route_wire_tables

    users = MySQLTableDef(
        columns=(MySQLColumn("uid", "longlong"), MySQLColumn("name", "varchar(40)"))
    )
    orders = MySQLTableDef(
        columns=(
            MySQLColumn("oid", "long"),
            MySQLColumn("amount", "newdecimal(12,2)"),
        )
    )
    rows = [
        (4, 0, 1, "I", "db.users", 0,
         users.encode_rows_event([{"uid": 7, "name": "ada"}], "write"), None),
        (101, 0, 1, "I", "db.orders", 0,
         orders.encode_rows_event([{"oid": 1, "amount": Decimal("12.50")}], "write"),
         None),
        (198, 0, 1, "U", "db.users", 1,
         users.encode_rows_event([({"uid": 7, "name": "ada"},
                                   {"uid": 7, "name": "lovelace"})], "update"),
         None),
    ]
    df = spark.createDataFrame(
        rows,
        "log_pos long, file_seq int, server_id int, op string, table string, "
        "tx_id long, rows_event binary, query string",
    )
    routed = route_wire_tables(df, {"db.users": users, "db.orders": orders})
    u = sorted(routed["db.users"].collect(), key=lambda r: r["log_pos"])
    assert u[0]["after"]["name"] == "ada" and u[0]["before"] is None
    assert u[1]["before"]["name"] == "ada" and u[1]["after"]["name"] == "lovelace"
    o = routed["db.orders"].collect()
    assert len(o) == 1 and o[0]["after"]["amount"] == Decimal("12.50")


def test_streaming_wire_kill_and_resume(spark, tmp_path):
    """Exactly-once survives a mid-stream kill on the WIRE path too: stop
    after ≥1 committed micro-batch, resume from the same checkpoint, final
    state equals the sequential oracle."""
    import time

    from mysql_syncer_spark.oracle import sequential_replay
    from mysql_syncer_spark.streaming.runner import start_streaming_replay

    tbl = generate_events(GenSpec(n_events=1500, events_per_file=300))
    d_wire = tempfile.mkdtemp()
    write_wire_event_log(tbl, d_wire)
    table_path = str(tmp_path / "pages")
    ckpt = str(tmp_path / "ckpt")

    q = start_streaming_replay(
        spark, d_wire, table_path, ckpt, num_buckets=8,
        available_now=True, transform=decode_wire_events,
    )
    deadline = time.time() + 120
    while time.time() < deadline:
        if PagesTable.exists(table_path) and PagesTable(spark, table_path).n_committed() > 0:
            break
        time.sleep(0.2)
    q.stop()
    q.awaitTermination(30)
    assert PagesTable(spark, table_path).n_committed() >= 1

    run_streaming_replay(
        spark, d_wire, table_path, ckpt, num_buckets=8,
        timeout_sec=240, transform=decode_wire_events,
    )
    oracle, cols, _ = sequential_replay(tbl)
    got = {r["url"]: r.asDict() for r in PagesTable(spark, table_path).read().collect()}
    assert set(got) == set(oracle)
    for url, o in oracle.items():
        for c in cols:
            ov, ev = o.get(c), got[url].get(c)
            if c == "warc_ts":
                ov, ev = _to_us(ov), _to_us(ev)
            assert ov == ev, (url, c, ov, ev)


def test_decode_on_error_skip_drops_poison_pills(spark):
    import pytest

    from mysql_syncer_spark.sources.mysql_rows import MySQLColumn, MySQLTableDef

    td = MySQLTableDef(
        columns=(MySQLColumn("uid", "longlong"), MySQLColumn("name", "varchar(40)"))
    )
    good = td.encode_rows_event([{"uid": 1, "name": "ok"}], "write")
    rows = [
        (1, 0, 1, "I", "db.users", 0, good, None),
        (2, 0, 1, "I", "db.users", 0, good[: len(good) - 3], None),  # truncated
        (3, 0, 1, "DDL", "db.users", 0, None, "DROP TABLE nope"),  # unsupported
        (4, 0, 1, "I", "db.users", 0, good, None),
    ]
    schema = (
        "log_pos long, file_seq int, server_id int, op string, table string, "
        "tx_id long, rows_event binary, query string"
    )
    df = spark.createDataFrame(rows, schema)

    # default mode is loud
    with pytest.raises(Exception):
        decode_wire_events(df, table_def=td).collect()

    got = decode_wire_events(df, table_def=td, on_error="skip").collect()
    assert sorted(r["log_pos"] for r in got) == [1, 4]
    assert all(r["after"]["name"] == "ok" for r in got)


def test_wire_dead_letters_complement_skip(spark):
    """DLQ split: every event lands in exactly one of decode(on_error=
    'skip') / wire_dead_letters, rejects carry envelope + raw blob +
    reason — quarantine-and-replay instead of silent loss."""
    from mysql_syncer_spark.sources.mysql_rows import MySQLColumn, MySQLTableDef
    from mysql_syncer_spark.sources.wire_log import wire_dead_letters

    td = MySQLTableDef(
        columns=(MySQLColumn("uid", "longlong"), MySQLColumn("name", "varchar(40)"))
    )
    good = td.encode_rows_event([{"uid": 1, "name": "ok"}], "write")
    rows = [
        (1, 0, 1, "I", "db.users", 0, good, None),
        (2, 0, 1, "I", "db.users", 0, good[: len(good) - 3], None),
        (3, 0, 1, "DDL", "db.users", 0, None, "DROP TABLE nope"),
        (4, 0, 1, "I", "db.users", 0, good, None),
    ]
    schema = (
        "log_pos long, file_seq int, server_id int, op string, table string, "
        "tx_id long, rows_event binary, query string"
    )
    df = spark.createDataFrame(rows, schema)
    kept = decode_wire_events(df, table_def=td, on_error="skip").collect()
    dead = wire_dead_letters(df, table_def=td).collect()
    assert sorted(r["log_pos"] for r in kept) == [1, 4]
    assert sorted(r["log_pos"] for r in dead) == [2, 3]
    by_pos = {r["log_pos"]: r for r in dead}
    assert "ValueError" in by_pos[3]["reason"]
    assert bytes(by_pos[2]["rows_event"]) == bytes(good[: len(good) - 3])


def test_wire_dead_letters_cover_convert_failures(spark):
    """A blob that DECODES but whose payload convert raises (invalid
    UTF-8 in the text column) lands in the DLQ, not nowhere: the DLQ
    re-runs the same convert step as decode_wire_events, so the two
    streams partition the input exactly."""
    from mysql_syncer_spark.sources.wire_log import (
        PAGES_WIRE_TABLE,
        wire_dead_letters,
    )

    ok = {
        "url": "u1", "warc_ts_us": 0, "html": b"<p>", "text": b"fine",
        "lang": "en", "extra": None,
    }
    bad = dict(ok, url="u2", text=b"\xff\xfe\xfa")  # invalid UTF-8
    good_blob = PAGES_WIRE_TABLE.encode_rows_event([ok], "write")
    bad_blob = PAGES_WIRE_TABLE.encode_rows_event([bad], "write")
    schema = (
        "log_pos long, file_seq int, server_id int, op string, table string, "
        "tx_id long, rows_event binary, query string"
    )
    df = spark.createDataFrame(
        [
            (1, 0, 1, "I", "web.pages", 0, good_blob, None),
            (2, 0, 1, "I", "web.pages", 0, bad_blob, None),
        ],
        schema,
    )
    kept = decode_wire_events(df, on_error="skip").collect()
    dead = wire_dead_letters(df).collect()
    assert [r["log_pos"] for r in kept] == [1]
    assert [r["log_pos"] for r in dead] == [2]
    assert "UnicodeDecodeError" in dead[0]["reason"]
