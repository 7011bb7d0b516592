"""D3: DDL applied transactionally before the batch's merge."""

import os

import pyspark.sql.functions as F

from mysql_syncer_spark.generator import GenSpec, generate_events, write_event_log
from mysql_syncer_spark.oracle import sequential_replay
from mysql_syncer_spark.plans.replay import replay
from mysql_syncer_spark.sink.pages_table import PagesTable


def test_add_then_rename_column(spark, tmp_table_path, tmp_path):
    spec = GenSpec(
        n_events=1_200,
        n_urls=200,
        events_per_file=400,
        ddl_scenario=(
            (0.30, "add_column", "extra", None, "string"),
            (0.60, "rename_column", "extra", "extra_v2", None),
        ),
    )
    tbl = generate_events(spec)
    d = str(tmp_path / "log")
    write_event_log(tbl, d)
    replay(spark, d, tmp_table_path, num_buckets=4)
    t = PagesTable(spark, tmp_table_path)
    m = t.manifest()
    assert [n for n, _ in m.schema] == ["url", "warc_ts", "html", "text", "lang", "extra_v2"]
    assert m.column_mapping["extra"] == "extra_v2"
    assert m.renames == [["extra", "extra_v2"]]
    df = t.read()
    assert "extra_v2" in df.columns and "extra" not in df.columns
    oracle, cols, _ = sequential_replay(tbl)
    assert df.columns == cols
    # pre-DDL winners have NULL extra_v2, post-DDL winners carry values
    vals = {r["url"]: r["extra_v2"] for r in df.collect()}
    expect = {u: row.get("extra_v2") for u, row in oracle.items()}
    assert vals == expect
    assert any(v is not None for v in vals.values())
    assert any(v is None for v in vals.values())


def test_ddl_redelivery_idempotent(spark, tmp_table_path):
    t = PagesTable.create(spark, tmp_table_path, num_buckets=2)
    schema = (
        "log_pos long, file_seq int, server_id int, op string, table string,"
        " tx_id long,"
        " before struct<url:string,warc_ts:timestamp,html:binary,text:string,lang:string>,"
        " after struct<url:string,warc_ts:timestamp,html:binary,text:string,lang:string>,"
        " ddl struct<kind:string,col:string,new_name:string,dtype:string>"
    )
    ddl = ("add_column", "extra", None, "string")
    ev = spark.createDataFrame(
        [
            (1, 0, 1, "DDL", "web.pages", None, None, None, ddl),
            (2, 0, 1, "DDL", "web.pages", None, None, None, ddl),  # duplicate
        ],
        schema,
    )
    t.apply_batch("b0", ev, None)
    t.apply_batch("b1", ev.withColumn("log_pos", F.col("log_pos") + 10), None)
    names = [n for n, _ in t.manifest().schema]
    assert names.count("extra") == 1


def test_pipelined_commit_never_leaks_future_ddl(spark, tmp_table_path):
    """With depth-4 pipelining, batch K+1's DDL must NOT be visible in the
    manifest committed for batch K (schema visibility stays behind the
    exactly-once ledger) — while batch K+1's own data still projects with
    its DDL applied."""
    t = PagesTable.create(spark, tmp_table_path, num_buckets=2)
    schema = (
        "log_pos long, file_seq int, server_id int, op string, table string,"
        " tx_id long,"
        " before struct<url:string,warc_ts:timestamp,html:binary,text:string,lang:string>,"
        " after struct<url:string,warc_ts:timestamp,html:binary,text:string,lang:string>,"
        " ddl struct<kind:string,col:string,new_name:string,dtype:string>"
    )
    import datetime as dt

    ts = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    row = lambda pos, url: (pos, 0, 1, "I", "web.pages", None, None,
                            (url, ts, None, "t", "en"), None)
    b0 = spark.createDataFrame([row(1, "u0")], schema)
    b1 = spark.createDataFrame(
        [(10, 1, 1, "DDL", "web.pages", None, None, None,
          ("add_column", "extra", None, "string")),
         row(11, "u1")],
        schema,
    )
    ddl_index = {"b-1": [
        {"kind": "add_column", "col": "extra", "new_name": None,
         "dtype": "string", "file_seq": 1, "log_pos": 10}
    ]}
    t.apply_batches(
        [("b-0", b0), ("b-1", b1)], depth=4, ddl_index=ddl_index
    )
    # version 1 = b-0's commit: schema must NOT carry 'extra'
    m1 = t.manifest(version=1)
    assert [n for n, _ in m1.schema] == ["url", "warc_ts", "html", "text", "lang"]
    # version 2 = b-1's commit: schema carries it
    m2 = t.manifest(version=2)
    assert [n for n, _ in m2.schema][-1] == "extra"
    # and time-travel to v1 serves the pre-DDL schema
    assert "extra" not in t.read(version=1).columns
    assert "extra" in t.read().columns


def _mk_events(spark, rows):
    schema = (
        "log_pos long, file_seq int, server_id int, op string, table string,"
        " tx_id long,"
        " before struct<url:string,warc_ts:timestamp,html:binary,text:string,lang:string,extra:string>,"
        " after struct<url:string,warc_ts:timestamp,html:binary,text:string,lang:string,extra:string>,"
        " ddl struct<kind:string,col:string,new_name:string,dtype:string>"
    )
    return spark.createDataFrame(rows, schema)


def test_replay_loop_collects_ddl_at_any_depth(spark, tmp_path):
    """With no ``ddl_index`` the replay loop collects each batch's DDL at
    submit, so a depth-2 run ends with the same schema and state as
    depth 1 (and the oracle): ADD then RENAME lands ``extra_v2``."""
    from mysql_syncer_spark.plans.replay import iter_tx_gated_batches

    tbl = generate_events(GenSpec(n_events=1_200, events_per_file=300))
    d = str(tmp_path / "log")
    write_event_log(tbl, d)
    oracle, cols, _ = sequential_replay(tbl)
    got = {}
    for depth in (1, 2):
        t = PagesTable.create(spark, str(tmp_path / f"d{depth}"), num_buckets=4)
        t.apply_batches(
            ((f"fileseq-{s}", b) for s, b in iter_tx_gated_batches(spark, d)),
            depth=depth,
        )
        df = t.read()
        assert df.columns == cols, depth
        got[depth] = (
            t.manifest().schema,
            sorted(tuple(r) for r in df.select("url", "extra_v2").collect()),
        )
    assert [n for n, _ in got[1][0]][-1] == "extra_v2"
    assert got[2] == got[1]
    assert dict(got[1][1]) == {u: row.get("extra_v2") for u, row in oracle.items()}


def test_drop_column(spark, tmp_table_path):
    import datetime as dt

    import pytest

    t = PagesTable.create(spark, tmp_table_path, num_buckets=2)
    ts = dt.datetime(2024, 1, 1)
    add = ("add_column", "extra", None, "string")
    drop = ("drop_column", "extra", None, None)
    ins = lambda pos, url, extra: (
        pos, 0, 1, "I", "web.pages", None, None,
        (url, ts, None, None, "en", extra), None,
    )
    # batch 0: add extra, insert rows carrying it
    t.apply_batch("b0", _mk_events(spark, [
        (1, 0, 1, "DDL", "web.pages", None, None, None, add),
        ins(2, "http://a/1", "v1"),
        ins(3, "http://a/2", "v2"),
    ]), None)
    assert {r["url"]: r["extra"] for r in t.read().collect()} == {
        "http://a/1": "v1", "http://a/2": "v2"
    }

    # batch 1: drop it (idempotent on redelivery), plus one more row
    t.apply_batch("b1", _mk_events(spark, [
        (10, 1, 1, "DDL", "web.pages", None, None, None, drop),
        (11, 1, 1, "DDL", "web.pages", None, None, None, drop),  # dup
        ins(12, "http://a/3", "ignored-now"),
    ]), None)
    m = t.manifest()
    assert "extra" not in [n for n, _ in m.schema]
    assert "extra" not in m.column_mapping
    df = t.read()
    assert "extra" not in df.columns and df.count() == 3

    # compaction physically rewrites LIVE vintages without the column
    # (pre-drop dirs linger as orphans until vacuum — check only what the
    # manifest references; force ALL buckets so single-vintage pre-drop
    # files rewrite too)
    t.compact(buckets=[0, 1])
    import os

    import pyarrow.parquet as pq

    m2 = t.manifest()
    for dirs in m2.buckets.values():
        for d in dirs:
            base = os.path.join(tmp_table_path, d)
            for root, _dirs, files in os.walk(base):
                for fn in files:
                    if fn.endswith(".parquet"):
                        names = pq.read_schema(os.path.join(root, fn)).names
                        assert "extra" not in names, (root, fn)

    # key column is protected
    with pytest.raises(Exception):
        t.apply_batch("b2", _mk_events(spark, [
            (20, 2, 1, "DDL", "web.pages", None, None, None,
             ("drop_column", "url", None, None)),
        ]), None)


def test_drop_then_readd_does_not_resurrect(spark, tmp_table_path):
    """Re-ADDING a dropped column name must NOT resurrect pre-drop values
    from uncompacted vintages: the re-add binds the name to a fresh
    generation-suffixed on-disk column (the field-id analogue), so old
    files' physical column is never read again."""
    import datetime as dt

    t = PagesTable.create(spark, tmp_table_path, num_buckets=2)
    ts = dt.datetime(2024, 1, 1)
    ts2 = dt.datetime(2024, 1, 2)
    add = ("add_column", "extra", None, "string")
    drop = ("drop_column", "extra", None, None)
    ins = lambda pos, fs, url, tsv, extra: (
        pos, fs, 1, "I", "web.pages", None, None,
        (url, tsv, None, None, "en", extra), None,
    )
    t.apply_batch("g0", _mk_events(spark, [
        (1, 0, 1, "DDL", "web.pages", None, None, None, add),
        ins(2, 0, "http://a/1", ts, "old1"),
        ins(3, 0, "http://a/2", ts, "old2"),
    ]), None)
    v0 = t.manifest().version
    t.apply_batch("g1", _mk_events(spark, [
        (10, 1, 1, "DDL", "web.pages", None, None, None, drop),
    ]), None)
    t.apply_batch("g2", _mk_events(spark, [
        (20, 2, 1, "DDL", "web.pages", None, None, None, add),
        ins(21, 2, "http://a/3", ts2, "new3"),
    ]), None)
    m = t.manifest()
    assert m.physical == {"extra": "extra__g1"}
    assert m.dropped_gens == {"extra": 1}
    vals = {r["url"]: r["extra"] for r in t.read().collect()}
    assert vals == {"http://a/1": None, "http://a/2": None, "http://a/3": "new3"}

    # changelog across the boundary: only the genuinely new row appears —
    # no resurrection rows
    log = t.changes_between(v0)
    rows = log.collect()
    assert {r["url"]: r["change_op"] for r in rows} == {"http://a/3": "I"}
    assert rows[0]["extra"] == "new3"

    # compaction rewrites under the generation name; values stay masked
    t.compact(buckets=[0, 1])
    vals2 = {r["url"]: r["extra"] for r in t.read().collect()}
    assert vals2 == vals

    # a SECOND drop + re-add bumps the generation again
    t.apply_batch("g3", _mk_events(spark, [
        (30, 3, 1, "DDL", "web.pages", None, None, None, drop),
        (31, 3, 1, "DDL", "web.pages", None, None, None, add),
    ]), None)
    m3 = t.manifest()
    assert m3.physical == {"extra": "extra__g2"}
    assert all(
        r["extra"] is None for r in t.read().collect()
    ), "second re-add leaked a previous generation's values"


def test_readded_column_rename_keeps_physical_binding(spark, tmp_table_path):
    """Renaming a generation-bound column moves the physical binding to
    the new logical name (no renames entry — the on-disk name is stable),
    and values written under the old logical name stay readable."""
    import datetime as dt

    t = PagesTable.create(spark, tmp_table_path, num_buckets=2)
    ts = dt.datetime(2024, 1, 1)
    ins = lambda pos, fs, url, extra: (
        pos, fs, 1, "I", "web.pages", None, None,
        (url, ts, None, None, "en", extra), None,
    )
    t.apply_batch("h0", _mk_events(spark, [
        (1, 0, 1, "DDL", "web.pages", None, None, None,
         ("add_column", "extra", None, "string")),
        ins(2, 0, "http://b/1", "dead"),
    ]), None)
    t.apply_batch("h1", _mk_events(spark, [
        (10, 1, 1, "DDL", "web.pages", None, None, None,
         ("drop_column", "extra", None, None)),
        (11, 1, 1, "DDL", "web.pages", None, None, None,
         ("add_column", "extra", None, "string")),
        ins(12, 1, "http://b/2", "live"),
    ]), None)
    t.apply_batch("h2", _mk_events(spark, [
        (20, 2, 1, "DDL", "web.pages", None, None, None,
         ("rename_column", "extra", "extra_v2", None)),
    ]), None)
    m = t.manifest()
    assert m.physical == {"extra_v2": "extra__g1"}
    assert ["extra", "extra_v2"] not in m.renames
    vals = {r["url"]: r["extra_v2"] for r in t.read().collect()}
    assert vals == {"http://b/1": None, "http://b/2": "live"}


def test_footer_ddl_index_matches_scan_path(spark, tmp_path):
    """The writer embeds each binlog file's DDL rows in the parquet
    footer (schema history out of the data path); replay reads it in
    milliseconds instead of scanning the log. Stripping the footer key
    must flip replay to the scan path with IDENTICAL final state."""
    import pyarrow.parquet as pq

    from mysql_syncer_spark.generator import GenSpec, generate_events, write_event_log
    from mysql_syncer_spark.plans.replay import _ddl_index_from_footers, replay
    from mysql_syncer_spark.sink.pages_table import PagesTable

    tbl = generate_events(GenSpec(n_events=1200, events_per_file=300))
    d = str(tmp_path / "log")
    write_event_log(tbl, d)

    idx = _ddl_index_from_footers(d, "web.pages")
    assert idx is not None
    n_ddl_footer = sum(len(v) for v in idx.values())
    assert n_ddl_footer > 0  # the generator injects DDL events

    p1 = str(tmp_path / "pages_footer")
    replay(spark, d, p1, num_buckets=8)

    # strip the footer key -> foreign-log fallback (scan path)
    d2 = str(tmp_path / "log_foreign")
    os.makedirs(d2)
    for fn in sorted(os.listdir(d)):
        if not fn.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(d, fn))
        meta = {k: v for k, v in (t.schema.metadata or {}).items()
                if k != b"msss.ddl"}
        pq.write_table(t.replace_schema_metadata(meta), os.path.join(d2, fn))
    assert _ddl_index_from_footers(d2, "web.pages") is None
    p2 = str(tmp_path / "pages_scan")
    replay(spark, d2, p2, num_buckets=8)

    key = lambda df: sorted(
        (r["url"], r.asDict(recursive=False).get("extra_v2"))
        for r in df.collect()
    )
    a = PagesTable(spark, p1).read()
    b = PagesTable(spark, p2).read()
    assert sorted(a.columns) == sorted(b.columns)
    assert key(a) == key(b) and a.count() > 0


def test_footer_ddl_index_filters_foreign_tables(spark, tmp_path):
    """F1 ownership: a footer entry for ANOTHER table must not reach
    this table's schema (the scan path applies table_filter; the footer
    path must too)."""
    import json

    import pyarrow.parquet as pq

    from mysql_syncer_spark.generator import GenSpec, generate_events, write_event_log
    from mysql_syncer_spark.plans.replay import _ddl_index_from_footers

    tbl = generate_events(GenSpec(n_events=300, events_per_file=300))
    d = str(tmp_path / "log")
    write_event_log(tbl, d)
    fn = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))[0]
    path = os.path.join(d, fn)
    t = pq.read_table(path)
    meta = dict(t.schema.metadata or {})
    rows = json.loads(meta[b"msss.ddl"])
    rows.append({"kind": "add_column", "col": "evil", "new_name": None,
                 "dtype": "string", "table": "web.other",
                 "file_seq": 0, "log_pos": 10**9})
    meta[b"msss.ddl"] = json.dumps(rows).encode()
    pq.write_table(t.replace_schema_metadata(meta), path)

    idx = _ddl_index_from_footers(d, "web.pages")
    assert idx is not None
    assert all(
        dd.get("col") != "evil" for v in idx.values() for dd in v
    )
