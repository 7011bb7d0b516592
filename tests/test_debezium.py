"""Debezium-envelope source/sink: round trip, replay parity, edge shapes.

The envelope mirrors what the reference ships per event — op code +
before/after images + (file, pos) checkpoint prefix
(/root/reference/src/master/rs_filter_binlog.c:39-49) — as the public
Debezium JSON wire format, so topic archives feed the engine directly.
"""

import tempfile

from pyspark.sql import Row
from pyspark.sql import functions as F

from mysql_syncer_spark.generator import GenSpec, generate_events, write_event_log
from mysql_syncer_spark.sink.pages_table import PagesTable
from mysql_syncer_spark.sources.debezium import (
    decode_debezium,
    encode_debezium,
    read_debezium_json,
    replay_debezium_json,
    write_debezium_json,
)
from mysql_syncer_spark.sources.event_log import read_event_log


def _to_us(ts):
    import datetime as dt

    if ts is None:
        return None
    epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
    t = ts if ts.tzinfo else ts.replace(tzinfo=dt.timezone.utc)
    d = t - epoch
    return d.days * 86_400_000_000 + d.seconds * 1_000_000 + d.microseconds


def _norm_payload(p):
    if p is None:
        return None
    d = p.asDict() if isinstance(p, Row) else dict(p)
    out = []
    for k in sorted(d):
        v = d[k]
        if k == "warc_ts":
            v = _to_us(v)
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


def test_debezium_round_trip(spark):
    """encode → decode is the identity on the typed envelope (multiset —
    the generator injects exact duplicate redeliveries), including base64
    html, micros timestamps, op mapping, DDL statement text, tx ids."""
    tbl = generate_events(GenSpec(n_events=800, events_per_file=200))
    d = tempfile.mkdtemp(prefix="dbz_rt_")
    write_event_log(tbl, d)
    events = read_event_log(spark, d)
    decoded = decode_debezium(encode_debezium(events), value_col="value")
    orig = sorted(_norm_event(r) for r in events.collect())
    got = sorted(_norm_event(r) for r in decoded.collect())
    assert len(got) == len(orig)
    assert got == orig


def test_debezium_decode_is_jvm_only(spark):
    """The decode plan contains no Python stages — from_json/unbase64/
    regexp all run inside codegen (the 100 TB mandate: no per-row
    Python on the hot path)."""
    tbl = generate_events(GenSpec(n_events=50, events_per_file=50))
    d = tempfile.mkdtemp(prefix="dbz_plan_")
    write_event_log(tbl, d)
    decoded = decode_debezium(encode_debezium(read_event_log(spark, d)))
    plan = decoded._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan


def test_debezium_replay_matches_oracle(spark, tmp_path):
    """Archived-topic replay → final table state equals the sequential
    oracle (reference apply semantics over the whole log), DDL applied
    in-stream; ledger keys match plans.replay so the paths interop."""
    from mysql_syncer_spark.oracle import sequential_replay

    tbl = generate_events(GenSpec(n_events=1500, events_per_file=300))
    d_json = tempfile.mkdtemp(prefix="dbz_topic_")
    d_typed = tempfile.mkdtemp(prefix="dbz_typed_")
    write_event_log(tbl, d_typed)
    write_debezium_json(read_event_log(spark, d_typed), d_json)

    table_path = str(tmp_path / "pages")
    res = replay_debezium_json(spark, d_json, table_path, num_buckets=8)
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

    # replaying the same topic again is a no-op (exactly-once ledger)
    res2 = replay_debezium_json(spark, d_json, table_path, num_buckets=8)
    assert all(r.get("skipped") for r in res2["results"])


def test_debezium_edge_shapes(spark):
    """Hand-written lines: snapshot reads map to I, DELETE's before-image
    lands in `after` (typed-model placement), non-numeric tx ids still
    gate, unsupported DDL and garbage lines drop deterministically."""
    lines = [
        # snapshot read (op=r)
        '{"payload": {"after": {"url": "u1", "warc_ts": 1700000000000001,'
        ' "lang": "en"}, "source": {"db": "web", "table": "pages",'
        ' "server_id": 7, "file": "mysql-bin.000002", "pos": 11},'
        ' "op": "r"}}',
        # delete: image rides in before
        '{"payload": {"before": {"url": "u2", "warc_ts": 1700000000000002},'
        ' "source": {"db": "web", "table": "pages", "server_id": 7,'
        ' "file": "mysql-bin.000002", "pos": 12}, "op": "d",'
        ' "transaction": {"id": "file:900"}}}',
        # supported DDL (schema-history shape)
        '{"payload": {"source": {"server_id": 7, "file": "mysql-bin.000002",'
        ' "pos": 13}, "databaseName": "web",'
        ' "ddl": "ALTER TABLE pages ADD COLUMN `extra` string"}}',
        # unsupported DDL → dropped
        '{"payload": {"source": {"server_id": 7, "file": "mysql-bin.000002",'
        ' "pos": 14}, "databaseName": "web",'
        ' "ddl": "CREATE TABLE pages (url varchar(700))"}}',
        # garbage → dropped
        'not json at all',
    ]
    df = spark.createDataFrame([(x,) for x in lines], "value string")
    rows = {r["log_pos"]: r for r in decode_debezium(df).collect()}
    assert set(rows) == {11, 12, 13}
    assert rows[11]["op"] == "I" and rows[11]["after"]["url"] == "u1"
    assert rows[11]["file_seq"] == 2 and rows[11]["server_id"] == 7
    assert rows[11]["after"]["warc_ts"].microsecond == 1
    assert rows[12]["op"] == "D" and rows[12]["after"]["url"] == "u2"
    assert rows[12]["before"] is None
    assert rows[12]["tx_id"] is not None  # hashed non-numeric id
    assert rows[13]["op"] == "DDL" and rows[13]["table"] == "web.pages"
    assert rows[13]["ddl"].asDict() == {
        "kind": "add_column", "col": "extra", "new_name": None,
        "dtype": "string",
    }


def test_debezium_streaming_tail(spark, tmp_path):
    """The same decode is a streaming transformation: tail the topic
    archive dir with readStream.text → exactly-once sink, final state
    equals the batch replay."""
    from mysql_syncer_spark.streaming.runner import run_streaming_replay

    tbl = generate_events(GenSpec(n_events=800, events_per_file=200))
    d_json = tempfile.mkdtemp(prefix="dbz_stream_")
    d_typed = tempfile.mkdtemp(prefix="dbz_typed2_")
    write_event_log(tbl, d_typed)
    write_debezium_json(read_event_log(spark, d_typed), d_json)

    stream_path = str(tmp_path / "pages_stream")
    run_streaming_replay(
        spark, d_json, stream_path, str(tmp_path / "ckpt"), num_buckets=8,
        timeout_sec=240,
        source=spark.readStream.text(d_json),
        transform=lambda df: decode_debezium(df, value_col="value"),
    )
    batch_path = str(tmp_path / "pages_batch")
    replay_debezium_json(spark, d_json, batch_path, num_buckets=8)

    key = lambda df: {
        r["url"]: _norm_payload(r)
        for r in df.collect()
    }
    a = key(PagesTable(spark, stream_path).read())
    b = key(PagesTable(spark, batch_path).read())
    assert a == b and len(a) > 0


def test_debezium_dead_letters_complement_decode(spark):
    """DLQ split (Kafka Connect parity): each line lands in exactly one
    of decode_debezium / debezium_dead_letters, with a typed reason."""
    from mysql_syncer_spark.sources.debezium import debezium_dead_letters

    lines = [
        '{"payload": {"after": {"url": "u1"}, "source": {"db": "web",'
        ' "table": "pages", "file": "mysql-bin.000001", "pos": 1},'
        ' "op": "c"}}',
        'garbage',
        '{"payload": {"after": {"url": "u2"}, "source": {"db": "web",'
        ' "table": "pages", "file": "mysql-bin.000001", "pos": 2},'
        ' "op": "z"}}',
        '{"payload": {"source": {"file": "mysql-bin.000001", "pos": 3},'
        ' "databaseName": "web", "ddl": "TRUNCATE TABLE pages"}}',
    ]
    df = spark.createDataFrame([(x,) for x in lines], "value string")
    kept = decode_debezium(df).collect()
    dead = {r["raw_value"]: r["reason"] for r in debezium_dead_letters(df).collect()}
    assert [r["log_pos"] for r in kept] == [1]
    assert len(dead) == 3
    assert dead["garbage"] == "unparseable_json"
    assert dead[lines[2]] == "unknown_op"
    assert dead[lines[3]] == "unsupported_ddl"


def test_debezium_ddl_qualified_table_name(spark):
    """Schema-history topics commonly carry db-qualified DDL
    ("ALTER TABLE `db`.`pages` ..."); the table extractor must capture
    the TABLE, not the database (else events route to 'db.db')."""
    lines = [
        '{"payload": {"source": {"server_id": 7, "file": "mysql-bin.000002",'
        ' "pos": 21}, "databaseName": "web",'
        ' "ddl": "ALTER TABLE `web`.`pages` ADD COLUMN `extra` string"}}',
        '{"payload": {"source": {"server_id": 7, "file": "mysql-bin.000002",'
        ' "pos": 22}, "databaseName": "web",'
        ' "ddl": "ALTER TABLE web.pages DROP COLUMN lang"}}',
    ]
    df = spark.createDataFrame([(x,) for x in lines], "value string")
    rows = {r["log_pos"]: r for r in decode_debezium(df).collect()}
    assert rows[21]["table"] == "web.pages"
    assert rows[21]["ddl"].asDict()["col"] == "extra"
    assert rows[22]["table"] == "web.pages"
    assert rows[22]["ddl"].asDict() == {
        "kind": "drop_column", "col": "lang", "new_name": None, "dtype": None,
    }


def test_debezium_replay_reads_one_file_per_batch(spark, tmp_path, monkeypatch):
    """File-pruned replay: with the writer's topic-{seq:06d}.jsonl naming,
    each batch's scan reads EXACTLY its own file — O(files) total bytes
    over a replay, never an O(files^2) archive rescan."""
    import os as _os

    import mysql_syncer_spark.sink.pages_table as pt

    tbl = generate_events(GenSpec(n_events=600, events_per_file=200))
    d_json = tempfile.mkdtemp(prefix="dbz_prune_")
    d_typed = tempfile.mkdtemp(prefix="dbz_prune_typed_")
    write_event_log(tbl, d_typed)
    paths = write_debezium_json(read_event_log(spark, d_typed), d_json)
    assert len(paths) == 3

    seen: list[list[str]] = []

    def spy(self, batches, cfg=None, **kw):
        seen.extend(sorted(events.inputFiles()) for _, events in batches)
        return []

    monkeypatch.setattr(pt.PagesTable, "apply_batches", spy)
    replay_debezium_json(spark, d_json, str(tmp_path / "t"), num_buckets=4)
    assert len(seen) == 3
    for files in seen:
        assert len(files) == 1, files
    got = sorted(_os.path.basename(f[0]) for f in seen)
    assert got == sorted(_os.path.basename(p) for p in paths)
