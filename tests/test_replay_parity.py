"""M1 gate: parallel replay == sequential oracle (SURVEY §5.2 items 2-4)."""

import pyspark.sql.functions as F
import pytest

from mysql_syncer_spark.config import TableConfig
from mysql_syncer_spark.functions.text import fill_text_arrow
from mysql_syncer_spark.oracle import _to_us, sequential_replay
from mysql_syncer_spark.plans.replay import default_pages_config, replay
from mysql_syncer_spark.sink.pages_table import PagesTable
from mysql_syncer_spark.sources.event_log import read_event_log


def assert_state_equal(engine_rows, oracle_state):
    eng = {r["url"]: r.asDict() for r in engine_rows}
    assert set(eng) == set(oracle_state)
    for url, orow in oracle_state.items():
        erow = eng[url]
        for k, v in orow.items():
            ev = erow.get(k)
            if k == "warc_ts":
                v, ev = _to_us(v), _to_us(ev)
            assert ev == v, f"{url}.{k}: engine={ev!r} oracle={v!r}"


@pytest.fixture(scope="module")
def replayed(spark, event_log_dir, event_table, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("t")) + "/pages"
    res = replay(spark, event_log_dir, path, num_buckets=8)
    return path, res


def test_final_state_parity(spark, replayed, event_table):
    path, _ = replayed
    oracle, cols, _ = sequential_replay(event_table)
    table = PagesTable(spark, path)
    assert table.read().columns == cols
    assert_state_equal(table.read().collect(), oracle)


def test_replay_is_idempotent(spark, replayed, event_log_dir):
    path, _ = replayed
    before = PagesTable(spark, path).read().count()
    res2 = replay(spark, event_log_dir, path, num_buckets=8)
    assert all(b.get("skipped") for b in res2["batches"])
    assert PagesTable(spark, path).read().count() == before


def test_resume_mid_log_equals_uninterrupted(
    spark, event_log_dir, event_table, tmp_table_path, replayed
):
    """Kill-and-resume: apply only batch 0, then resume with a full replay."""
    ev = read_event_log(spark, event_log_dir)
    t = PagesTable.create(spark, tmp_table_path, num_buckets=8)
    cfg = default_pages_config()
    t.apply_batch("fileseq-0", ev.filter(F.col("file_seq") == 0), cfg)
    res = replay(spark, event_log_dir, tmp_table_path, num_buckets=8)
    assert res["batches"][0]["skipped"] is True
    oracle, _, _ = sequential_replay(event_table)
    assert_state_equal(PagesTable(spark, tmp_table_path).read().collect(), oracle)


def test_on_delete_ignore_reference_parity(
    spark, event_log_dir, event_table, tmp_table_path
):
    """Reference parity: delete handler is a no-op
    (/root/reference/src/slave/rs_mysql_test_test.c:84-87)."""
    cfg = TableConfig(
        name="web.pages",
        on_delete="ignore",
        transform=lambda t: fill_text_arrow(t, "html", "text"),
    )
    replay(spark, event_log_dir, tmp_table_path, cfg=cfg, num_buckets=8)
    oracle, _, _ = sequential_replay(event_table, on_delete="ignore")
    assert_state_equal(PagesTable(spark, tmp_table_path).read().collect(), oracle)


def test_heartbeat_empty_batch_advances(spark, replayed, event_log_dir):
    """All-filtered batch still commits (position-only record semantics,
    /root/reference/src/master/rs_filter_binlog.c:22-27)."""
    path, _ = replayed
    t = PagesTable(spark, path)
    ev = read_event_log(spark, event_log_dir)
    v0 = t.manifest().version
    wm_before = int((t.manifest().metrics or {}).get("max_event_ts_us", 0))
    assert wm_before > 0  # data commits stamped the event-time high-water
    res = t.apply_batch("hb-1", ev.filter(F.col("table") == "no.such"), None)
    assert res["events_in"] == 0 and res["buckets_touched"] == 0
    assert t.manifest().version == v0 + 1
    assert "hb-1" in t.manifest().committed_batches
    # the event-time high-water carries FORWARD across the empty commit —
    # the lag gauge must stay alive exactly when heartbeats keep it fresh
    assert int(t.manifest().metrics["max_event_ts_us"]) == wm_before
    assert t.replication_lag_ms() is not None


def test_reapply_committed_batch_is_noop(spark, replayed, event_log_dir):
    path, _ = replayed
    t = PagesTable(spark, path)
    ev = read_event_log(spark, event_log_dir)
    v0 = t.manifest().version
    res = t.apply_batch("fileseq-0", ev.filter(F.col("file_seq") == 0), None)
    assert res["skipped"] is True
    assert t.manifest().version == v0


def test_text_byte_identity(spark, replayed, event_table):
    """input_hint invariant: extracted text byte-identical per url."""
    path, _ = replayed
    oracle, _, _ = sequential_replay(event_table)
    rows = PagesTable(spark, path).read().select("url", "text").collect()
    for r in rows:
        o = oracle[r["url"]]["text"]
        assert (r["text"] or "").encode() == (o or "").encode()


def test_metrics_and_lineage(spark, replayed):
    path, res = replayed
    t = PagesTable(spark, path)
    hist = t.metrics_history()
    assert len(hist) >= res["n_batches"]
    total_in = sum(m["events_in"] for m in hist)
    assert total_in == res["events_applied"]
    assert all(m["dedup_hits"] >= 0 and m["merge_ms"] >= 0 for m in hist)
    m = t.manifest()
    # every bucket has lineage: writing batch + row count
    for b, dirpath in m.buckets.items():
        assert m.lineage[b]["rows"] >= 0
        assert m.lineage[b]["batch_id"]


def test_pipelined_replay_matches_oracle_and_is_idempotent(
    spark, event_log_dir, event_table, tmp_table_path
):
    """pipeline_depth>1 overlaps delta writes; commits stay ordered. Final
    state, idempotent re-run, and resume semantics must be identical to the
    serial path."""
    res = replay(spark, event_log_dir, tmp_table_path, num_buckets=8,
                 pipeline_depth=4)
    assert res["n_batches"] >= 2
    oracle, cols, _ = sequential_replay(event_table)
    t = PagesTable(spark, tmp_table_path)
    assert t.read().columns == cols
    assert_state_equal(t.read().collect(), oracle)
    res2 = replay(spark, event_log_dir, tmp_table_path, num_buckets=8,
                  pipeline_depth=4)
    assert all(b.get("skipped") for b in res2["batches"])
    assert_state_equal(t.read().collect(), oracle)


def test_failed_compaction_never_fails_a_pipelined_replay(
    spark, tmp_path, monkeypatch
):
    """A raising fold compute in the pipelined replay is warned about and
    dropped, on the commit path and in the drain: every batch commits
    and the final state matches the oracle."""
    from mysql_syncer_spark.generator import GenSpec, generate_events, write_event_log

    tbl = generate_events(GenSpec(n_events=1200, events_per_file=300))
    log_dir = str(tmp_path / "log")
    write_event_log(tbl, log_dir)
    path = str(tmp_path / "pages")
    # threshold 1: every bucket is past it from the second batch on
    PagesTable.create(spark, path, num_buckets=2, compact_threshold=1)
    calls = []

    def failing_compute(self, *args, **kwargs):
        calls.append(1)
        raise OSError("disk full")

    monkeypatch.setattr(PagesTable, "_compact_compute", failing_compute)
    with pytest.warns(UserWarning, match="compaction failed"):
        res = replay(spark, log_dir, path, num_buckets=2, pipeline_depth=2)
    assert calls
    assert res["n_batches"] == 4
    assert not any(b.get("skipped") for b in res["batches"])
    oracle, _, _ = sequential_replay(tbl)
    assert_state_equal(PagesTable(spark, path).read().collect(), oracle)


def test_fold_commits_do_not_repeat_batch_metrics(spark, tmp_path):
    """A depth-2 replay at compact_threshold=1 folds often: every fold
    lands in a batch commit or its own maintenance commit, so
    metrics_history() lists each batch once and its events_in sum to the
    events applied, while history() keeps one row per version with 0
    events on the maintenance rows."""
    from mysql_syncer_spark.generator import GenSpec, generate_events, write_event_log

    tbl = generate_events(GenSpec(n_events=1200, events_per_file=300))
    log_dir = str(tmp_path / "log")
    write_event_log(tbl, log_dir)
    path = str(tmp_path / "pages")
    PagesTable.create(spark, path, num_buckets=4, compact_threshold=1)
    res = replay(spark, log_dir, path, num_buckets=4, pipeline_depth=2)
    t = PagesTable(spark, path)
    hist = t.metrics_history()
    ids = [m["batch_id"] for m in hist]
    assert ids == [f"fileseq-{k}" for k in range(4)]
    assert sum(m["events_in"] for m in hist) == res["events_applied"] > 0
    rows = t.history().collect()
    assert [r["version"] for r in rows] == list(range(len(rows)))
    maint = [r for r in rows if r["batch_id"] not in ids and r["version"] > 0]
    assert maint and all(r["batch_id"].startswith("compact-v") for r in maint)
    assert all(r["events_in"] == 0 and r["compacted_buckets"] > 0 for r in maint)
    assert t.replication_lag_ms() is not None  # lag stamps carried forward
    oracle, _, _ = sequential_replay(tbl)
    assert_state_equal(t.read().collect(), oracle)


def test_point_lookup_prunes_to_one_bucket(spark, replayed, event_table):
    """lookup(url) reads only the key's bucket and returns exactly the
    live row (or nothing for tombstoned/unknown urls)."""
    path, _ = replayed
    t = PagesTable(spark, path)
    oracle, _, _ = sequential_replay(event_table)
    some_url = sorted(oracle)[0]
    row = t.lookup(some_url).collect()
    assert len(row) == 1 and row[0]["url"] == some_url
    assert _to_us(row[0]["warc_ts"]) == _to_us(oracle[some_url]["warc_ts"])
    assert t.lookup("https://no.such.url/").collect() == []
    # pruning evidence: the scan reads at most 1/num_buckets of the files
    m = t.manifest()
    total_dirs = sum(len(v) for v in m.buckets.values())
    probe = spark.createDataFrame([(some_url,)], "url string").select(
        F.pmod(F.xxhash64("url"), F.lit(m.num_buckets)).cast("int").alias("b")
    ).head()["b"]
    assert len(m.buckets[str(probe)]) < total_dirs


def test_pipelined_crash_mid_stream_then_resume(spark, tmp_path_factory):
    """Kill the pipelined replay after the batch generator has yielded
    only part of the stream (crash with writes in flight), then resume
    with a normal full replay: already-committed batches skip, the rest
    apply, final state equals the oracle — exactly-once across the crash."""
    import tempfile

    from mysql_syncer_spark.generator import GenSpec, generate_events, write_event_log
    from mysql_syncer_spark.plans.replay import iter_tx_gated_batches
    from mysql_syncer_spark.sink.pages_table import PagesTable

    tbl = generate_events(GenSpec(n_events=2_000, events_per_file=400))
    log_dir = tempfile.mkdtemp(prefix="crashlog_")
    write_event_log(tbl, log_dir)
    path = str(tmp_path_factory.mktemp("crash")) + "/pages"
    table = PagesTable.create(spark, path, num_buckets=8)
    cfg = default_pages_config()

    class Boom(RuntimeError):
        pass

    def interrupted():
        for i, (seq, batch) in enumerate(iter_tx_gated_batches(spark, log_dir)):
            if i == 3:
                raise Boom()  # batches 0-1 committed, 2 still in flight
            yield f"fileseq-{seq}", batch

    with pytest.raises(Boom):
        table.apply_batches(interrupted(), cfg=cfg, depth=2)
    n_before = table.n_committed()
    assert n_before >= 1

    res = replay(spark, log_dir, path, num_buckets=8)
    skipped = [b for b in res["batches"] if b.get("skipped")]
    assert len(skipped) >= 1  # the pre-crash commits were honored
    oracle, _, _ = sequential_replay(tbl)
    assert_state_equal(PagesTable(spark, path).read().collect(), oracle)


def test_lookup_many_matches_individual_lookups(spark, replayed, event_table):
    path, _ = replayed
    t = PagesTable(spark, path)
    oracle, _, _ = sequential_replay(event_table)
    keys = sorted(oracle)[:25] + ["https://nope.example.com/missing"]
    batch = {r["url"]: r.asDict() for r in t.lookup_many(keys).collect()}
    assert set(batch) == set(keys) - {"https://nope.example.com/missing"}
    for k in list(batch)[:5]:
        single = t.lookup(k).collect()
        assert len(single) == 1 and single[0].asDict() == batch[k]
    assert t.lookup_many([]).count() == 0
