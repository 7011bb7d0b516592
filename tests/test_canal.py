"""Alibaba Canal FlatMessage wire format: round trip, replay parity, the
index-paired multi-row ``data``/``old`` arrays, ISO-8859-1 binary, DLQ
complement, file pruning.

Canal's envelope carries the reference's per-event content — op + row
images (/root/reference/src/slave/rs_binlog_row.c:510-514,604-612) — as
the third de-facto MySQL CDC JSON format next to Debezium and Maxwell,
with two wire quirks the others don't have: every cell is stringified,
and one message packs ALL rows of a binlog rows-event into arrays.
"""

import os
import tempfile

from pyspark.sql import Row
from pyspark.sql import functions as F

from mysql_syncer_spark.generator import GenSpec, generate_events, write_event_log
from mysql_syncer_spark.sink.pages_table import PagesTable
from mysql_syncer_spark.sources.canal import (
    canal_dead_letters,
    decode_canal,
    encode_canal,
    read_canal_json,
    replay_canal_json,
    write_canal_json,
)
from mysql_syncer_spark.sources.event_log import read_event_log


def _norm_payload(p):
    if p is None:
        return None
    d = p.asDict() if isinstance(p, Row) else dict(p)
    out = []
    for k in sorted(d):
        v = d[k]
        if isinstance(v, (bytes, bytearray)):
            v = bytes(v)
        if hasattr(v, "tzinfo") and v is not None and v.tzinfo:
            v = v.replace(tzinfo=None)
        out.append((k, v))
    return tuple(out)


def _norm_event(r, with_ids=True):
    d = r.asDict(recursive=False)
    ids = (d["tx_id"], d["server_id"]) if with_ids else ()
    return (
        d["file_seq"], d["log_pos"], d["op"], d["table"], *ids,
        _norm_payload(d["before"]), _norm_payload(d["after"]),
        tuple(sorted(d["ddl"].asDict().items())) if d["ddl"] is not None else None,
    )


def _expected_from_typed(events):
    """What decode_canal must produce from the typed log: canal flat
    messages carry no xid/server_id — tx_id decodes as ``es`` (binlog
    execute-time millis, 0 for DDL) and server_id as null."""
    es = F.unix_millis(F.coalesce("after.warc_ts", "before.warc_ts"))
    return events.withColumn(
        "tx_id", F.when(F.col("op") == "DDL", F.lit(0)).otherwise(es)
    ).withColumn("server_id", F.lit(None).cast("int"))


def test_canal_round_trip(spark):
    """encode → decode is the identity on the typed envelope (multiset)
    modulo the fields the flat message genuinely lacks (xid/server_id),
    including stringified cells, ISO-8859-1 binary, microsecond datetime
    strings, op mapping, DDL text, and the id→(file_seq, log_pos) split."""
    tbl = generate_events(GenSpec(n_events=800, events_per_file=200))
    d = tempfile.mkdtemp(prefix="cn_rt_")
    write_event_log(tbl, d)
    events = read_event_log(spark, d)
    decoded = decode_canal(encode_canal(events))
    orig = sorted(_norm_event(r) for r in _expected_from_typed(events).collect())
    got = sorted(_norm_event(r) for r in decoded.collect())
    assert len(got) == len(orig)
    assert got == orig


def test_canal_decode_is_jvm_only(spark):
    """No Python stages in the decode plan (posexplode, map overlay,
    ISO-8859-1 encode and all) — the 100 TB mandate."""
    tbl = generate_events(GenSpec(n_events=50, events_per_file=50))
    d = tempfile.mkdtemp(prefix="cn_plan_")
    write_event_log(tbl, d)
    decoded = decode_canal(encode_canal(read_event_log(spark, d)))
    plan = decoded._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "ArrowEval" not in plan


def test_canal_multirow_arrays_and_edge_shapes(spark):
    """Hand-written flat messages: data is an ARRAY (all rows of the
    rows-event), old[i] pairs with data[i] and carries only CHANGED
    columns — key-present-with-null means "was NULL before", key-absent
    means "unchanged". Decoded log_pos = id + array index. DELETE's
    image lands in `after`; unknown types, empty data, unsupported DDL
    and garbage go to the DLQ and nowhere else."""
    lines = [
        # one UPDATE rows-event with TWO rows (id=21 -> log_pos 21, 22)
        '{"id": 21, "database": "web", "table": "pages", "pkNames": ["url"],'
        ' "isDdl": false, "type": "UPDATE", "es": 1700000000000, "ts": 1,'
        ' "sql": "",'
        ' "data": [{"url": "u1", "warc_ts": "2023-11-14 22:14:20.000038",'
        '           "text": "new1", "lang": "en"},'
        '          {"url": "u2", "warc_ts": null, "text": "new2", "lang": null}],'
        ' "old": [{"lang": null, "text": "old1"}, {"text": "old2"}]}',
        # delete: data IS the deleted image -> after (id=30)
        '{"id": 30, "database": "web", "table": "pages", "isDdl": false,'
        ' "type": "DELETE", "es": 5, "ts": 5, "sql": "",'
        ' "data": [{"url": "u3"}], "old": null}',
        # ddl
        '{"id": 31, "database": "web", "table": "pages", "isDdl": true,'
        ' "type": "ALTER", "es": 0, "ts": 0,'
        ' "sql": "ALTER TABLE `web`.`pages` ADD COLUMN `extra` string",'
        ' "data": null, "old": null}',
        # unknown type -> DLQ
        '{"id": 32, "database": "web", "table": "pages", "isDdl": false,'
        ' "type": "TRUNCATE", "es": 0, "ts": 0, "data": null, "old": null}',
        # DML with empty data -> DLQ (decode drops it via posexplode)
        '{"id": 33, "database": "web", "table": "pages", "isDdl": false,'
        ' "type": "INSERT", "es": 0, "ts": 0, "data": [], "old": null}',
        'garbage',
    ]
    df = spark.createDataFrame([(x,) for x in lines], "value string")
    rows = {r["log_pos"]: r for r in decode_canal(df).collect()}
    assert set(rows) == {21, 22, 30, 31}
    r1, r2 = rows[21], rows[22]
    assert r1["op"] == "U" and r1["tx_id"] == 1700000000000
    assert r1["after"]["text"] == "new1" and r1["after"]["lang"] == "en"
    assert r1["before"]["lang"] is None          # key present, null
    assert r1["before"]["text"] == "old1"        # key present, value
    assert r1["before"]["url"] == "u1"           # key absent -> data
    assert r1["before"]["warc_ts"] == r1["after"]["warc_ts"]
    # second row of the same message: its OWN old object (index-paired)
    assert r2["after"]["text"] == "new2" and r2["after"]["lang"] is None
    assert r2["before"]["text"] == "old2"
    assert r2["before"]["lang"] is None          # absent -> data's null
    assert r2["before"]["url"] == "u2"
    assert rows[30]["op"] == "D" and rows[30]["after"]["url"] == "u3"
    assert rows[30]["before"] is None
    assert rows[31]["op"] == "DDL" and rows[31]["table"] == "web.pages"
    assert rows[31]["ddl"].asDict()["col"] == "extra"

    dead = {r["raw_value"]: r["reason"]
            for r in canal_dead_letters(df).collect()}
    assert len(dead) == 3
    assert dead["garbage"] == "unparseable_json"
    assert dead[lines[3]] == "unknown_type"
    assert dead[lines[4]] == "empty_data"


def test_canal_packed_encoder_round_trip(spark):
    """rows_per_message>1 packs consecutive same-(op, table) rows into
    one message's arrays the way a real rows-event does; with
    consecutive log_pos the decode reproduces every row exactly."""
    rows = []
    for i in range(6):
        rows.append(
            {
                "file_seq": 1, "log_pos": 100 + i, "server_id": 7,
                "op": "U", "table": "web.pages", "tx_id": 5,
                "before": {"url": f"u{i}", "warc_ts": None, "html": None,
                           "text": f"old{i}", "lang": None, "extra": None},
                "after": {"url": f"u{i}", "warc_ts": None, "html": None,
                          "text": f"new{i}", "lang": "en", "extra": None},
                "ddl": None,
            }
        )
    from mysql_syncer_spark.sources.debezium import DEBEZIUM_PAYLOAD_STRUCT
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("file_seq", T.IntegerType()),
            T.StructField("log_pos", T.LongType()),
            T.StructField("server_id", T.IntegerType()),
            T.StructField("op", T.StringType()),
            T.StructField("table", T.StringType()),
            T.StructField("tx_id", T.LongType()),
            T.StructField("before", DEBEZIUM_PAYLOAD_STRUCT),
            T.StructField("after", DEBEZIUM_PAYLOAD_STRUCT),
            T.StructField(
                "ddl",
                T.StructType(
                    [
                        T.StructField("kind", T.StringType()),
                        T.StructField("col", T.StringType()),
                        T.StructField("new_name", T.StringType()),
                        T.StructField("dtype", T.StringType()),
                    ]
                ),
            ),
        ]
    )
    events = spark.createDataFrame([Row(**r) for r in rows], schema)
    enc = encode_canal(events, rows_per_message=3)
    msgs = enc.collect()
    assert len(msgs) == 2  # 6 rows packed 3-per-message
    import json as _json

    for m in msgs:
        obj = _json.loads(m["value"])
        assert len(obj["data"]) == 3 and len(obj["old"]) == 3
    decoded = decode_canal(enc)
    got = sorted(
        (r["log_pos"], r["after"]["text"], r["before"]["text"])
        for r in decoded.collect()
    )
    assert got == [(100 + i, f"new{i}", f"old{i}") for i in range(6)]


def test_canal_binary_iso8859_fidelity(spark):
    """All 256 byte values survive the ISO-8859-1 string encoding through
    JSON escaping and back — the FlatMessage byte[] convention."""
    payload = bytes(range(256)) * 3
    from mysql_syncer_spark.sources.debezium import DEBEZIUM_PAYLOAD_STRUCT
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("file_seq", T.IntegerType()),
            T.StructField("log_pos", T.LongType()),
            T.StructField("server_id", T.IntegerType()),
            T.StructField("op", T.StringType()),
            T.StructField("table", T.StringType()),
            T.StructField("tx_id", T.LongType()),
            T.StructField("before", DEBEZIUM_PAYLOAD_STRUCT),
            T.StructField("after", DEBEZIUM_PAYLOAD_STRUCT),
            T.StructField(
                "ddl",
                T.StructType([T.StructField("kind", T.StringType()),
                              T.StructField("col", T.StringType()),
                              T.StructField("new_name", T.StringType()),
                              T.StructField("dtype", T.StringType())]),
            ),
        ]
    )
    events = spark.createDataFrame(
        [
            Row(
                file_seq=1, log_pos=4, server_id=1, op="I",
                table="web.pages", tx_id=1, before=None,
                after=Row(url="u", warc_ts=None, html=payload,
                          text=None, lang=None, extra=None),
                ddl=None,
            )
        ],
        schema,
    )
    back = decode_canal(encode_canal(events)).collect()
    assert len(back) == 1
    assert bytes(back[0]["after"]["html"]) == payload


def test_canal_replay_matches_oracle(spark, tmp_path):
    """Archived-topic replay → final state equals the sequential oracle;
    re-replay is a ledger no-op (same batch keys as every other wire
    format, so the paths interop)."""
    from mysql_syncer_spark.oracle import _to_us, sequential_replay

    tbl = generate_events(GenSpec(n_events=1500, events_per_file=300))
    d_json = tempfile.mkdtemp(prefix="cn_topic_")
    d_typed = tempfile.mkdtemp(prefix="cn_typed_")
    write_event_log(tbl, d_typed)
    paths = write_canal_json(read_event_log(spark, d_typed), d_json)
    assert len(paths) == 5

    table_path = str(tmp_path / "pages")
    res = replay_canal_json(spark, d_json, table_path, num_buckets=8)
    assert res["batches"] == 5

    oracle, cols, _ = sequential_replay(tbl)
    got = {
        r["url"]: r.asDict()
        for r in PagesTable(spark, table_path).read().collect()
    }
    assert set(got) == set(oracle)
    for url, o in oracle.items():
        for c in cols:
            ov, ev = o.get(c), got[url].get(c)
            if c == "warc_ts":
                ov, ev = _to_us(ov), _to_us(ev)
            if isinstance(ov, (bytes, bytearray)) or isinstance(
                ev, (bytes, bytearray)
            ):
                ov = bytes(ov) if ov is not None else None
                ev = bytes(ev) if ev is not None else None
            assert ov == ev, (url, c, ov, ev)

    res2 = replay_canal_json(spark, d_json, table_path, num_buckets=8)
    assert all(r.get("skipped") for r in res2["results"])


def test_canal_replay_reads_one_file_per_batch(spark, tmp_path, monkeypatch):
    """File pruning: each batch's scan reads exactly its own topic file."""
    import mysql_syncer_spark.sink.pages_table as pt

    tbl = generate_events(GenSpec(n_events=600, events_per_file=200))
    d_json = tempfile.mkdtemp(prefix="cn_prune_")
    d_typed = tempfile.mkdtemp(prefix="cn_prune_typed_")
    write_event_log(tbl, d_typed)
    paths = write_canal_json(read_event_log(spark, d_typed), d_json)
    assert len(paths) == 3

    seen = []

    def spy(self, batches, cfg=None, **kw):
        seen.extend(sorted(events.inputFiles()) for _, events in batches)
        return []

    monkeypatch.setattr(pt.PagesTable, "apply_batches", spy)
    replay_canal_json(spark, d_json, str(tmp_path / "t"), num_buckets=4)
    assert len(seen) == 3
    assert all(len(f) == 1 for f in seen)
    got = sorted(os.path.basename(f[0]) for f in seen)
    assert got == sorted(os.path.basename(p) for p in paths)


def test_canal_streaming_tail(spark, tmp_path):
    """The decode is a streaming transformation: tail the topic dir with
    readStream.text → exactly-once sink equals the batch replay."""
    from mysql_syncer_spark.streaming.runner import run_streaming_replay

    tbl = generate_events(GenSpec(n_events=600, events_per_file=200))
    d_json = tempfile.mkdtemp(prefix="cn_stream_")
    d_typed = tempfile.mkdtemp(prefix="cn_stream_typed_")
    write_event_log(tbl, d_typed)
    write_canal_json(read_event_log(spark, d_typed), d_json)

    stream_path = str(tmp_path / "pages_stream")
    run_streaming_replay(
        spark, d_json, stream_path, str(tmp_path / "ckpt"), num_buckets=8,
        timeout_sec=240,
        source=spark.readStream.text(d_json),
        transform=lambda df: decode_canal(df, value_col="value"),
    )
    batch_path = str(tmp_path / "pages_batch")
    replay_canal_json(spark, d_json, batch_path, num_buckets=8)

    key = lambda df: {r["url"]: _norm_payload(r) for r in df.collect()}
    a = key(PagesTable(spark, stream_path).read())
    b = key(PagesTable(spark, batch_path).read())
    assert a == b and len(a) > 0


def test_canal_read_helper(spark):
    """read_canal_json round-trips through the on-disk archive."""
    tbl = generate_events(GenSpec(n_events=400, events_per_file=200))
    d_json = tempfile.mkdtemp(prefix="cn_read_")
    d_typed = tempfile.mkdtemp(prefix="cn_read_typed_")
    write_event_log(tbl, d_typed)
    events = read_event_log(spark, d_typed)
    write_canal_json(events, d_json)
    back = read_canal_json(spark, d_json)
    assert sorted(_norm_event(r) for r in back.collect()) == sorted(
        _norm_event(r) for r in _expected_from_typed(events).collect()
    )
