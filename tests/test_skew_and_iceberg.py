"""Hot-key detection + Iceberg adapter SQL generation."""

import pyspark.sql.functions as F
import pytest

from mysql_syncer_spark.operators.skew import hot_key_candidates, needs_salting
from mysql_syncer_spark.sink.iceberg_table import (
    apply_batch_iceberg,
    build_create_sql,
    build_ddl_sql,
    build_merge_sql,
    iceberg_available,
)


def test_hot_keys_found_and_ranked(spark):
    rows = [("hot",)] * 500 + [(f"u{i}",) for i in range(500)]
    df = spark.createDataFrame(rows, "url string")
    hot = hot_key_candidates(df, ["url"], min_share=0.1).collect()
    assert len(hot) == 1
    assert hot[0]["url"] == "hot" and hot[0]["rank"] == 1
    assert abs(hot[0]["share"] - 0.5) < 1e-6
    assert needs_salting(df, ["url"], threshold=0.3)
    assert not needs_salting(df, ["url"], threshold=0.6)


def test_iceberg_sql_generation():
    create = build_create_sql(
        "lake.web.pages", [["url", "string"], ["warc_ts", "timestamp"]], 4096
    )
    assert "USING iceberg" in create
    assert "PARTITIONED BY (bucket(4096, url))" in create
    assert "_lww_pos bigint" in create

    merge = build_merge_sql("lake.web.pages", ["url", "text", "_lww_ts_us",
                                               "_lww_pos", "_lww_file", "_deleted"])
    assert "MERGE INTO lake.web.pages t" in merge
    assert "ON t.url = s.url" in merge
    # LWW guard: strictly-newer rank only
    assert "(s._lww_ts_us, s._lww_file, s._lww_pos) > (t._lww_ts_us, t._lww_file, t._lww_pos)" in merge
    assert "WHEN NOT MATCHED THEN INSERT" in merge

    assert build_ddl_sql("t", {"kind": "add_column", "col": "x", "dtype": "string"}) == \
        "ALTER TABLE t ADD COLUMN x string"
    assert build_ddl_sql("t", {"kind": "rename_column", "col": "x", "new_name": "y"}) == \
        "ALTER TABLE t RENAME COLUMN x TO y"


def test_iceberg_unavailable_is_clear(spark):
    assert not iceberg_available(spark)
    from mysql_syncer_spark.config import TableConfig

    ev = spark.createDataFrame([], "op string, table string, log_pos long")
    with pytest.raises(RuntimeError, match="Iceberg extensions not on the classpath"):
        apply_batch_iceberg(spark, "lake.t", ev, TableConfig(name="web.pages"), {})


def test_hot_key_detection_single_scan(spark):
    """The detector must not scan the input twice: the total comes from the
    (key,count) partials, so the plan reuses the groupBy exchange instead
    of a second full scan."""
    rows = [(f"u{i % 50}",) for i in range(1000)]
    df = spark.createDataFrame(rows, "url string")
    out = hot_key_candidates(df, ["url"], min_share=0.0)
    out.collect()  # AQE materializes exchange reuse in the FINAL plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan, plan


_EVENT_SCHEMA = (
    "log_pos long, file_seq int, server_id int, op string, table string,"
    "tx_id long, before struct<url:string,warc_ts:timestamp,html:binary,"
    "text:string,lang:string>, after struct<url:string,warc_ts:timestamp,"
    "html:binary,text:string,lang:string>, ddl struct<kind:string,"
    "col:string,new_name:string,dtype:string>"
)


def _insert_events(spark, urls, seq=0):
    """One INSERT per url, in order, one second apart."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    rows = [
        (
            seq * 100_000 + i * 97 + 4, seq, 1, "I", "web.pages", i // 7, None,
            (url, t0 + dt.timedelta(seconds=i), b"<p>x</p>", None, "en"),
            None,
        )
        for i, url in enumerate(urls)
    ]
    return spark.createDataFrame(rows, _EVENT_SCHEMA)


def test_sink_switches_to_salted_merge_on_flood(spark, tmp_path, monkeypatch):
    """A flooded key sends the batch to the winner pre-filter, the sink's
    one skew mechanism, even when the batch's duplicate share is under the
    duplicate gate (the hot-key share decides), and the final state equals
    the plain merge's (pre-filter forced off)."""
    from mysql_syncer_spark.sink import pages_table
    from mysql_syncer_spark.sink.pages_table import PagesTable

    shapes = {
        "half_hot": (600, 2),  # half the batch on one key: dup_share ~0.5
        "low_dup": (1000, 10),  # one key at 10%, the rest unique: ~0.1
    }
    for name, (n, hot_every) in shapes.items():
        ev = _insert_events(spark, [
            "https://hot.example.com/" if i % hot_every == 0
            else f"https://u{i}.example.com/"
            for i in range(n)
        ])
        t_hot = PagesTable.create(spark, str(tmp_path / name / "hot"), num_buckets=4)
        res_hot = t_hot.apply_batch("b0", ev)
        assert res_hot["skew_probed"] is True, name
        assert res_hot["prefiltered"] is True, name
        hot_rows = n // hot_every
        # max_key_rows is the (rows - distinct) flood-mass ESTIMATE (HLL ±2%)
        assert 0.8 * hot_rows <= res_hot["max_key_rows"] <= 1.1 * hot_rows, name
        if name == "low_dup":
            assert res_hot["dup_share"] < pages_table.PREFILTER_MIN_DUP_SHARE

        with monkeypatch.context() as mp:
            mp.setattr(pages_table, "PREFILTER_MAX_KEYS", 0)
            t_plain = PagesTable.create(
                spark, str(tmp_path / name / "plain"), num_buckets=4
            )
            res_plain = t_plain.apply_batch("b0", ev)
        assert res_plain["prefiltered"] is False, name

        a = {(r["url"], r["warc_ts"], r["lang"]) for r in t_hot.read().collect()}
        b = {(r["url"], r["warc_ts"], r["lang"]) for r in t_plain.read().collect()}
        # cold urls + 1 hot winner
        assert a == b and len(a) == n - hot_rows + 1, name


def test_iceberg_golden_sql_edge_cases():
    """Golden statements for every generated shape the adapter can emit
    (the jars are absent in-sandbox, so the SQL text IS the contract):
    tombstone-as-row inserts, rename mid-batch, add+rename chains."""
    # 1. tombstones are ROWS: the column list must carry _deleted so a
    #    winning delete INSERTS a tombstone when unmatched
    cols = ["url", "text", "_lww_ts_us", "_lww_pos", "_lww_file", "_deleted"]
    merge = build_merge_sql("lake.t", cols)
    assert "INSERT (url, text, _lww_ts_us, _lww_pos, _lww_file, _deleted)" in merge
    assert "VALUES (s.url, s.text, s._lww_ts_us, s._lww_pos, s._lww_file, s._deleted)" in merge
    # and the rank guard must allow updating a live row INTO a tombstone
    assert "t._deleted" not in merge.split("WHEN MATCHED")[1].split("THEN")[0], (
        "rank guard must not exclude tombstone transitions"
    )

    # 2. rename mid-batch: DDL statements are emitted in log order BEFORE
    #    the merge, so the merge's column list uses the post-rename name
    ddls = [
        {"kind": "add_column", "col": "extra", "dtype": "string"},
        {"kind": "rename_column", "col": "extra", "new_name": "extra_v2"},
    ]
    stmts = [build_ddl_sql("lake.t", d) for d in ddls]
    assert stmts == [
        "ALTER TABLE lake.t ADD COLUMN extra string",
        "ALTER TABLE lake.t RENAME COLUMN extra TO extra_v2",
    ]
    merge2 = build_merge_sql("lake.t", ["url", "extra_v2", "_lww_ts_us",
                                        "_lww_pos", "_lww_file", "_deleted"])
    assert "s.extra_v2" in merge2 and "s.extra " not in merge2

    # 3. add_column dtype defaulting (DDL events may omit dtype)
    assert build_ddl_sql("t", {"kind": "add_column", "col": "x", "dtype": None}) \
        == "ALTER TABLE t ADD COLUMN x string"

    # 4. composite create: bucket partitioning + hidden columns present once
    create = build_create_sql("lake.t", [["url", "string"], ["extra_v2", "string"]], 8)
    assert create.count("_deleted boolean") == 1
    assert "PARTITIONED BY (bucket(8, url))" in create


def test_iceberg_apply_batch_keeps_the_sink_filter_chain(spark, monkeypatch):
    """The Iceberg adapter applies a batch like PagesTable.apply_batch: an
    oversized DDL (F3) emits no ALTER, and DDLs run in log order
    (file_seq, log_pos) whatever order the batch rows arrive in. Needs no
    jar: availability is faked and ``spark.sql`` only records."""
    import datetime as dt

    from mysql_syncer_spark.config import TableConfig
    from mysql_syncer_spark.sink import iceberg_table

    monkeypatch.setattr(iceberg_table, "iceberg_available", lambda s: True)
    calls = []
    monkeypatch.setattr(spark, "sql", lambda q: calls.append(q))
    schema_sql = (
        "log_pos long, file_seq int, server_id int, op string, table string,"
        " tx_id long,"
        " before struct<url:string,warc_ts:timestamp,text:string>,"
        " after struct<url:string,warc_ts:timestamp,text:string>,"
        " ddl struct<kind:string,col:string,new_name:string,dtype:string>"
    )
    ddl = lambda pos, fs, d: (pos, fs, 1, "DDL", "web.pages", None, None, None, d)
    ts = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    events = spark.createDataFrame(
        [
            ddl(5, 1, ("rename_column", "a", "c", None)),
            ddl(20, 0, ("add_column", "b", None, "string")),
            ddl(15, 0, ("add_column", "x" * 3000, None, "string")),
            ddl(10, 0, ("add_column", "a", None, "string")),
            (30, 1, 1, "I", "web.pages", None, None, ("u1", ts, "v1"), None),
        ],
        schema_sql,
    )
    mapping = {"url": "url", "warc_ts": "warc_ts", "text": "text"}
    iceberg_table.apply_batch_iceberg(
        spark, "lake.t", events, TableConfig(name="web.pages"), mapping
    )
    assert [q for q in calls if q.startswith("ALTER")] == [
        "ALTER TABLE lake.t ADD COLUMN a string",
        "ALTER TABLE lake.t ADD COLUMN b string",
        "ALTER TABLE lake.t RENAME COLUMN a TO c",
    ]
    assert calls[-1].startswith("MERGE INTO lake.t t")

def test_adaptive_planner_skips_probe_between_edges(spark, tmp_path):
    """A multi-batch replay probes only its first batch that is not
    skipped: carried batches skip the probe job and still report an exact
    events_in (from the write's observe node), even when a hot-key flood
    arrives later; a first batch that is already committed passes the
    probe on to the next batch."""
    from mysql_syncer_spark.sink.pages_table import PagesTable

    def mk(seq, hot=False):
        return _insert_events(
            spark,
            [
                "https://hot.example.com/" if hot and i % 2 == 0
                else f"https://u{seq}-{i}.example.com/"
                for i in range(300)
            ],
            seq,
        )

    batches = [(f"b-{k}", mk(k)) for k in range(3)] + [
        ("b-3", mk(3, hot=True)), ("b-4", mk(4, hot=True))
    ]
    for loop in ("serial", "pipelined"):
        t = PagesTable.create(spark, str(tmp_path / loop), num_buckets=4)
        # b-0 is committed before the replay, so the replay skips it
        assert t.apply_batch("b-0", batches[0][1])["skew_probed"] is True
        res = t.apply_batches(batches, depth=2 if loop == "pipelined" else 1)
        by_id = {r["batch_id"]: r for r in res}
        assert by_id["b-0"]["skipped"] is True, loop
        assert by_id["b-1"]["skew_probed"] is True, loop  # the probe passed on
        for k in (2, 3, 4):  # carried, the floods included
            r = by_id[f"b-{k}"]
            assert r["skew_probed"] is False and r["prefiltered"] is False, (loop, k)
            assert r["events_in"] == 300, (loop, k)
        urls = {r["url"] for r in t.read().collect()}
        assert "https://hot.example.com/" in urls, loop
        assert len(urls) == 3 * 300 + 2 * 150 + 1, loop


def test_iceberg_apply_batch_executes_when_available(spark):
    """EXECUTES apply_batch_iceberg (CREATE → two MERGE batches with an
    out-of-order older event → DDL) when the jars are on the classpath;
    skipped in-sandbox (no network for --packages). The same flow runs
    standalone via tools/submit_iceberg_smoke.py under spark-submit."""
    import datetime as dt

    import pytest as _pytest

    from mysql_syncer_spark.sink.iceberg_table import build_create_sql

    if not iceberg_available(spark):
        _pytest.skip(
            "Iceberg jars absent in-sandbox — run tools/submit_iceberg_smoke.py "
            "under spark-submit with iceberg-spark-runtime"
        )
    schema_sql = (
        "log_pos long, file_seq int, server_id int, op string, table string,"
        " tx_id long,"
        " before struct<url:string,warc_ts:timestamp,html:binary,text:string,lang:string>,"
        " after struct<url:string,warc_ts:timestamp,html:binary,text:string,lang:string>,"
        " ddl struct<kind:string,col:string,new_name:string,dtype:string>"
    )
    ident = "lake.smoke.pages_pytest"
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.smoke")
    spark.sql(f"DROP TABLE IF EXISTS {ident}")
    schema = [["url", "string"], ["warc_ts", "timestamp"], ["html", "binary"],
              ["text", "string"], ["lang", "string"]]
    spark.sql(build_create_sql(ident, schema, num_buckets=4))
    ts = lambda h: dt.datetime(2024, 1, 1, h, tzinfo=dt.timezone.utc)
    row = lambda pos, fs, url, t, txt: (
        pos, fs, 1, "I", "web.pages", 1, None, (url, t, None, txt, "en"), None,
    )
    cfg = TableConfig(name="web.pages")
    mapping = {c: c for c, _ in schema}
    apply_batch_iceberg(
        spark,
        ident,
        spark.createDataFrame(
            [row(1, 0, "u1", ts(5), "v1"), row(2, 0, "u2", ts(5), "w1")],
            schema_sql,
        ),
        cfg, mapping,
    )
    apply_batch_iceberg(
        spark,
        ident,
        spark.createDataFrame(
            [row(10, 1, "u1", ts(9), "v2"), row(11, 1, "u2", ts(1), "stale")],
            schema_sql,
        ),
        cfg, mapping,
    )
    got = {r["url"]: r["text"] for r in
           spark.sql(f"SELECT url, text FROM {ident} WHERE NOT _deleted").collect()}
    assert got == {"u1": "v2", "u2": "w1"}
