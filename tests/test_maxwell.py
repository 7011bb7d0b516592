"""Maxwell-daemon JSON wire format: round trip, replay parity, the
changed-columns-only `old` overlay, DLQ complement, file pruning.

Maxwell's envelope carries the reference's per-event content — op +
images + "<file>:<pos>" position checkpoint
(/root/reference/src/master/rs_filter_binlog.c:39-49) — as the other
de-facto MySQL CDC JSON format next to Debezium.
"""

import os
import tempfile

from pyspark.sql import Row

from mysql_syncer_spark.generator import GenSpec, generate_events, write_event_log
from mysql_syncer_spark.sink.pages_table import PagesTable
from mysql_syncer_spark.sources.event_log import read_event_log
from mysql_syncer_spark.sources.maxwell import (
    decode_maxwell,
    encode_maxwell,
    maxwell_dead_letters,
    read_maxwell_json,
    replay_maxwell_json,
    write_maxwell_json,
)


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


def _norm_event(r):
    d = r.asDict(recursive=False)
    return (
        d["file_seq"], d["log_pos"], d["op"], d["table"], d["tx_id"],
        d["server_id"], _norm_payload(d["before"]), _norm_payload(d["after"]),
        tuple(sorted(d["ddl"].asDict().items())) if d["ddl"] is not None else None,
    )


def test_maxwell_round_trip(spark):
    """encode → decode is the identity on the typed envelope (multiset),
    including the changed-columns-only `old` reconstruction, base64
    binary, microsecond datetime strings, op mapping, DDL text, xids."""
    tbl = generate_events(GenSpec(n_events=800, events_per_file=200))
    d = tempfile.mkdtemp(prefix="mx_rt_")
    write_event_log(tbl, d)
    events = read_event_log(spark, d)
    decoded = decode_maxwell(encode_maxwell(events))
    orig = sorted(_norm_event(r) for r in events.collect())
    got = sorted(_norm_event(r) for r in decoded.collect())
    assert len(got) == len(orig)
    assert got == orig


def test_maxwell_decode_is_jvm_only(spark):
    """No Python stages in the decode plan (json_object_keys overlay and
    all) — the 100 TB mandate."""
    tbl = generate_events(GenSpec(n_events=50, events_per_file=50))
    d = tempfile.mkdtemp(prefix="mx_plan_")
    write_event_log(tbl, d)
    decoded = decode_maxwell(encode_maxwell(read_event_log(spark, d)))
    plan = decoded._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "ArrowEval" not in plan


def test_maxwell_old_overlay_edge_shapes(spark):
    """Hand-written lines: `old` carries only CHANGED columns — a key
    present with value null means "was NULL before" (must overlay), a
    key absent means "unchanged" (must fall back to data). DELETE's
    image lands in `after`; unknown types and unsupported DDL drop."""
    lines = [
        # update: lang changed en<-NULL (old has explicit null), text
        # changed (old carries before text), url/warc_ts unchanged
        '{"database": "web", "table": "pages", "type": "update",'
        ' "xid": 9, "position": "mysql-bin.000002:11", "server_id": 7,'
        ' "data": {"url": "u1", "warc_ts": "2023-11-14 22:14:20.000038",'
        ' "text": "new", "lang": "en"},'
        ' "old": {"lang": null, "text": "old-text"}}',
        # delete: data IS the deleted image -> after
        '{"database": "web", "table": "pages", "type": "delete",'
        ' "position": "mysql-bin.000002:12", "server_id": 7,'
        ' "data": {"url": "u2"}}',
        # ddl
        '{"type": "table-alter", "database": "web", "table": "pages",'
        ' "sql": "ALTER TABLE `web`.`pages` ADD COLUMN `extra` string",'
        ' "position": "mysql-bin.000002:13", "server_id": 7}',
        # unknown type -> dropped
        '{"database": "web", "table": "pages", "type": "bootstrap-start",'
        ' "position": "mysql-bin.000002:14"}',
        'garbage',
    ]
    df = spark.createDataFrame([(x,) for x in lines], "value string")
    rows = {r["log_pos"]: r for r in decode_maxwell(df).collect()}
    assert set(rows) == {11, 12, 13}
    u = rows[11]
    assert u["op"] == "U" and u["tx_id"] == 9 and u["file_seq"] == 2
    assert u["after"]["lang"] == "en" and u["after"]["text"] == "new"
    assert u["before"]["lang"] is None          # key present, null
    assert u["before"]["text"] == "old-text"    # key present, value
    assert u["before"]["url"] == "u1"           # key absent -> data
    assert u["before"]["warc_ts"] == u["after"]["warc_ts"]
    assert rows[12]["op"] == "D" and rows[12]["after"]["url"] == "u2"
    assert rows[12]["before"] is None
    assert rows[13]["op"] == "DDL" and rows[13]["table"] == "web.pages"
    assert rows[13]["ddl"].asDict()["col"] == "extra"

    dead = {r["raw_value"]: r["reason"]
            for r in maxwell_dead_letters(df).collect()}
    assert len(dead) == 2
    assert dead["garbage"] == "unparseable_json"
    assert dead[lines[3]] == "unknown_type"


def test_maxwell_replay_matches_oracle(spark, tmp_path):
    """Archived-topic replay → final state equals the sequential oracle;
    re-replay is a ledger no-op (same batch keys as every other wire
    format, so the paths interop)."""
    from mysql_syncer_spark.oracle import _to_us, sequential_replay

    tbl = generate_events(GenSpec(n_events=1500, events_per_file=300))
    d_json = tempfile.mkdtemp(prefix="mx_topic_")
    d_typed = tempfile.mkdtemp(prefix="mx_typed_")
    write_event_log(tbl, d_typed)
    paths = write_maxwell_json(read_event_log(spark, d_typed), d_json)
    assert len(paths) == 5

    table_path = str(tmp_path / "pages")
    res = replay_maxwell_json(spark, d_json, table_path, num_buckets=8)
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

    res2 = replay_maxwell_json(spark, d_json, table_path, num_buckets=8)
    assert all(r.get("skipped") for r in res2["results"])


def test_maxwell_replay_reads_one_file_per_batch(spark, tmp_path, monkeypatch):
    """File pruning: each batch's scan reads exactly its own topic file."""
    import mysql_syncer_spark.sink.pages_table as pt

    tbl = generate_events(GenSpec(n_events=600, events_per_file=200))
    d_json = tempfile.mkdtemp(prefix="mx_prune_")
    d_typed = tempfile.mkdtemp(prefix="mx_prune_typed_")
    write_event_log(tbl, d_typed)
    paths = write_maxwell_json(read_event_log(spark, d_typed), d_json)
    assert len(paths) == 3

    seen = []

    def spy(self, batches, cfg=None, **kw):
        seen.extend(sorted(events.inputFiles()) for _, events in batches)
        return []

    monkeypatch.setattr(pt.PagesTable, "apply_batches", spy)
    replay_maxwell_json(spark, d_json, str(tmp_path / "t"), num_buckets=4)
    assert len(seen) == 3
    assert all(len(f) == 1 for f in seen)
    got = sorted(os.path.basename(f[0]) for f in seen)
    assert got == sorted(os.path.basename(p) for p in paths)


def test_maxwell_streaming_tail(spark, tmp_path):
    """The decode is a streaming transformation: tail the topic dir with
    readStream.text → exactly-once sink equals the batch replay."""
    from mysql_syncer_spark.streaming.runner import run_streaming_replay

    tbl = generate_events(GenSpec(n_events=600, events_per_file=200))
    d_json = tempfile.mkdtemp(prefix="mx_stream_")
    d_typed = tempfile.mkdtemp(prefix="mx_stream_typed_")
    write_event_log(tbl, d_typed)
    write_maxwell_json(read_event_log(spark, d_typed), d_json)

    stream_path = str(tmp_path / "pages_stream")
    run_streaming_replay(
        spark, d_json, stream_path, str(tmp_path / "ckpt"), num_buckets=8,
        timeout_sec=240,
        source=spark.readStream.text(d_json),
        transform=lambda df: decode_maxwell(df, value_col="value"),
    )
    batch_path = str(tmp_path / "pages_batch")
    replay_maxwell_json(spark, d_json, batch_path, num_buckets=8)

    key = lambda df: {r["url"]: _norm_payload(r) for r in df.collect()}
    a = key(PagesTable(spark, stream_path).read())
    b = key(PagesTable(spark, batch_path).read())
    assert a == b and len(a) > 0


def test_maxwell_read_helper(spark):
    """read_maxwell_json round-trips through the on-disk archive."""
    tbl = generate_events(GenSpec(n_events=400, events_per_file=200))
    d_json = tempfile.mkdtemp(prefix="mx_read_")
    d_typed = tempfile.mkdtemp(prefix="mx_read_typed_")
    write_event_log(tbl, d_typed)
    events = read_event_log(spark, d_typed)
    write_maxwell_json(events, d_json)
    back = read_maxwell_json(spark, d_json)
    assert sorted(_norm_event(r) for r in back.collect()) == sorted(
        _norm_event(r) for r in events.collect()
    )


def test_maxwell_replay_foreign_layout_filters_by_content(spark, tmp_path):
    """An archive whose files don't follow the topic naming (a connector's
    own layout) still replays one batch per source binlog file, via the
    file_seq carried in the messages, to the same state."""
    tbl = generate_events(GenSpec(n_events=600, events_per_file=200))
    d_typed = tempfile.mkdtemp(prefix="mx_foreign_typed_")
    write_event_log(tbl, d_typed)
    d_named = str(tmp_path / "named")
    paths = write_maxwell_json(read_event_log(spark, d_typed), d_named)
    d_foreign = str(tmp_path / "foreign")
    os.makedirs(d_foreign)
    for k, p in enumerate(paths):
        os.link(p, os.path.join(d_foreign, f"maxwell+0+{k * 1000:010d}.json"))

    named = replay_maxwell_json(spark, d_named, str(tmp_path / "a"), num_buckets=4)
    foreign = replay_maxwell_json(spark, d_foreign, str(tmp_path / "b"), num_buckets=4)
    assert foreign["batches"] == named["batches"] == 3
    assert [r["batch_id"] for r in foreign["results"]] == [
        r["batch_id"] for r in named["results"]
    ]

    def state(path):
        return sorted(
            (r["url"], r["lang"], r["text"])
            for r in PagesTable(spark, path).read().collect()
        )

    assert state(str(tmp_path / "b")) == state(str(tmp_path / "a"))
