"""Debezium Avro (schema-registry wire format) source/sink.

The Confluent framing (0x00 magic + 4-byte BE schema id + Avro binary
body) is what production Kafka topics actually carry; the envelope
mirrors the reference's per-event shape — op + before/after images +
(file, pos) checkpoint prefix
(/root/reference/src/master/rs_filter_binlog.c:39-49).
"""

import os
import tempfile

import pytest
from pyspark.sql import Row

from mysql_syncer_spark.generator import GenSpec, generate_events, write_event_log
from mysql_syncer_spark.sink.pages_table import PagesTable
from mysql_syncer_spark.sources.debezium_avro import (
    ENVELOPE_SCHEMA_ID,
    AvroSchema,
    avro_dead_letters,
    avro_decode,
    avro_encode,
    decode_debezium_avro,
    default_registry,
    encode_debezium_avro,
    frame,
    read_debezium_avro,
    replay_debezium_avro,
    write_debezium_avro,
)
from mysql_syncer_spark.sources.event_log import read_event_log


def test_avro_codec_primitives_round_trip():
    """Zigzag varints at the int64 edges, strings, bytes, unions,
    nested records — encode(decode) is the identity."""
    schema = AvroSchema({
        "type": "record", "name": "R", "fields": [
            {"name": "a", "type": "long"},
            {"name": "b", "type": ["null", "long"]},
            {"name": "s", "type": ["null", "string"]},
            {"name": "y", "type": ["null", "bytes"]},
            {"name": "f", "type": "boolean"},
            {"name": "d", "type": "double"},
            {"name": "n", "type": ["null", {
                "type": "record", "name": "Inner",
                "fields": [{"name": "x", "type": "int"}]}]},
        ]
    }).root
    cases = [
        {"a": 0, "b": None, "s": "", "y": b"", "f": True, "d": 0.0,
         "n": None},
        {"a": -1, "b": 1, "s": "üñïçødé-テスト", "y": bytes(range(256)),
         "f": False, "d": -1.5, "n": {"x": -2147483648}},
        {"a": 9223372036854775807, "b": -9223372036854775808,
         "s": "x" * 1000, "y": None, "f": True, "d": 1e300,
         "n": {"x": 2147483647}},
    ]
    for case in cases:
        out = bytearray()
        avro_encode(schema, case, out)
        got, pos = avro_decode(schema, bytes(out), 0)
        assert pos == len(out)
        assert got == case


def _norm_payload(p):
    if p is None:
        return None
    d = p.asDict() if isinstance(p, Row) else dict(p)
    out = []
    for k in sorted(d):
        v = d[k]
        if isinstance(v, (bytes, bytearray)):
            v = bytes(v)
        out.append((k, v))
    return tuple(out)


def _norm_event(r):
    d = r.asDict(recursive=False)
    return (
        d["file_seq"], d["log_pos"], d["op"], d["table"], d["tx_id"],
        d["server_id"], _norm_payload(d["before"]), _norm_payload(d["after"]),
        tuple(sorted(d["ddl"].asDict().items())) if d["ddl"] is not None else None,
    )


def test_avro_envelope_round_trip(spark):
    """encode → decode is the identity on the typed envelope (multiset —
    the generator injects exact duplicate redeliveries), including binary
    html, micros timestamps, op mapping, DDL statements, tx ids."""
    tbl = generate_events(GenSpec(n_events=800, events_per_file=200))
    d = tempfile.mkdtemp(prefix="avro_rt_")
    write_event_log(tbl, d)
    events = read_event_log(spark, d)
    decoded = decode_debezium_avro(encode_debezium_avro(events))
    orig = sorted(_norm_event(r) for r in events.collect())
    got = sorted(_norm_event(r) for r in decoded.collect())
    assert len(got) == len(orig)
    assert got == orig


def test_avro_replay_matches_oracle(spark, tmp_path):
    """Archived Avro topic replay → final state equals the sequential
    oracle; re-replay is a ledger no-op (exactly-once, same batch keys
    as the JSON and binlog replays)."""
    from mysql_syncer_spark.oracle import sequential_replay, _to_us

    tbl = generate_events(GenSpec(n_events=1500, events_per_file=300))
    d_typed = tempfile.mkdtemp(prefix="avro_typed_")
    d_avro = tempfile.mkdtemp(prefix="avro_topic_")
    write_event_log(tbl, d_typed)
    paths = write_debezium_avro(read_event_log(spark, d_typed), d_avro)
    assert len(paths) == 5

    table_path = str(tmp_path / "pages")
    res = replay_debezium_avro(spark, d_avro, table_path, num_buckets=8)
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

    res2 = replay_debezium_avro(spark, d_avro, table_path, num_buckets=8)
    assert all(r.get("skipped") for r in res2["results"])


def test_avro_replay_reads_one_file_per_batch(spark, tmp_path, monkeypatch):
    """File pruning: with the writer's topic-{seq:06d}.parquet naming,
    each batch's scan reads EXACTLY its own file."""
    import mysql_syncer_spark.sink.pages_table as pt

    tbl = generate_events(GenSpec(n_events=600, events_per_file=200))
    d_typed = tempfile.mkdtemp(prefix="avro_prune_typed_")
    d_avro = tempfile.mkdtemp(prefix="avro_prune_")
    write_event_log(tbl, d_typed)
    paths = write_debezium_avro(read_event_log(spark, d_typed), d_avro)
    assert len(paths) == 3

    seen = []

    def spy(self, batches, cfg=None, **kw):
        seen.extend(sorted(events.inputFiles()) for _, events in batches)
        return []

    monkeypatch.setattr(pt.PagesTable, "apply_batches", spy)
    replay_debezium_avro(spark, d_avro, str(tmp_path / "t"), num_buckets=4)
    assert len(seen) == 3
    for files in seen:
        assert len(files) == 1, files
    got = sorted(os.path.basename(f[0]) for f in seen)
    assert got == sorted(os.path.basename(p) for p in paths)


def test_avro_dead_letters_complement_decode(spark):
    """Each message lands in exactly one of decode / dead-letters, with
    a typed reason (bad magic, unknown schema id, truncated body,
    unknown op, unsupported DDL)."""
    reg = default_registry()
    env = AvroSchema(reg[ENVELOPE_SCHEMA_ID]).root
    body = bytearray()
    avro_encode(env, {
        "before": None,
        "after": {"url": "u1", "warc_ts": 1, "html": None, "text": None,
                  "lang": None, "extra": None},
        "source": {"name": None, "ts_ms": None, "snapshot": None,
                   "db": "web", "table": "pages", "server_id": 7,
                   "gtid": None, "file": "mysql-bin.000001", "pos": 1,
                   "row": None},
        "op": "c", "ts_ms": None, "transaction": None,
    }, body)
    good = frame(ENVELOPE_SCHEMA_ID, bytes(body))
    bad_op = bytearray()
    avro_encode(env, {
        "before": None, "after": None,
        "source": {"name": None, "ts_ms": None, "snapshot": None,
                   "db": "web", "table": "pages", "server_id": 7,
                   "gtid": None, "file": "mysql-bin.000001", "pos": 2,
                   "row": None},
        "op": "z", "ts_ms": None, "transaction": None,
    }, bad_op)
    msgs = [
        good,                                     # decodes
        b"\x01" + good[1:],                       # bad magic
        frame(99, bytes(body)),                   # unknown schema id
        frame(ENVELOPE_SCHEMA_ID, bytes(body)[:5]),  # truncated body
        frame(ENVELOPE_SCHEMA_ID, bytes(bad_op)),    # unknown op
    ]
    df = spark.createDataFrame([(m,) for m in msgs], "value binary")
    kept = decode_debezium_avro(df).collect()
    dead = avro_dead_letters(df).collect()
    assert len(kept) == 1 and kept[0]["log_pos"] == 1
    assert len(dead) == 4
    reasons = " | ".join(r["reason"] for r in dead)
    assert "bad magic" in reasons
    assert "unknown schema id" in reasons
    assert "unknown op" in reasons


def test_avro_streaming_tail(spark, tmp_path):
    """The decode is a streaming transformation too: tail the topic dir
    with readStream.parquet → exactly-once sink; final state equals the
    batch replay."""
    from mysql_syncer_spark.sources.debezium_avro import load_registry
    from mysql_syncer_spark.streaming.runner import run_streaming_replay

    tbl = generate_events(GenSpec(n_events=800, events_per_file=200))
    d_typed = tempfile.mkdtemp(prefix="avro_stream_typed_")
    d_avro = tempfile.mkdtemp(prefix="avro_stream_")
    write_event_log(tbl, d_typed)
    write_debezium_avro(read_event_log(spark, d_typed), d_avro)
    registry = load_registry(d_avro)

    stream_path = str(tmp_path / "pages_stream")
    run_streaming_replay(
        spark, d_avro, stream_path, str(tmp_path / "ckpt"), num_buckets=8,
        timeout_sec=240,
        source=spark.readStream.schema("log_pos long, key binary, value binary")
        .option("pathGlobFilter", "topic-*.parquet").parquet(d_avro),
        transform=lambda df: decode_debezium_avro(df, registry),
    )
    batch_path = str(tmp_path / "pages_batch")
    replay_debezium_avro(spark, d_avro, batch_path, num_buckets=8)

    key = lambda df: {r["url"]: _norm_payload(r) for r in df.collect()}
    a = key(PagesTable(spark, stream_path).read())
    b = key(PagesTable(spark, batch_path).read())
    assert a == b and len(a) > 0
