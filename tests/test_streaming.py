"""M6: streaming replay == batch replay == oracle; kill/resume mid-stream."""

import time

from mysql_syncer_spark.oracle import sequential_replay
from mysql_syncer_spark.sink.pages_table import PagesTable
from mysql_syncer_spark.streaming.runner import (
    run_streaming_replay,
    start_streaming_replay,
)
from tests.test_replay_parity import assert_state_equal


def test_streaming_replay_matches_oracle(spark, event_log_dir, event_table, tmp_path):
    res = run_streaming_replay(
        spark,
        event_log_dir,
        str(tmp_path / "pages"),
        str(tmp_path / "ckpt"),
        num_buckets=8,
    )
    assert res["n_commits"] >= 2  # one per binlog file (maxFilesPerTrigger=1)
    oracle, _, _ = sequential_replay(event_table)
    t = PagesTable(spark, str(tmp_path / "pages"))
    assert_state_equal(t.read().collect(), oracle)


def test_streaming_kill_and_resume(spark, event_log_dir, event_table, tmp_path):
    """Stop after the first micro-batch; resume from checkpoint; final state
    identical to an uninterrupted run (FIXTURES §6)."""
    table_path = str(tmp_path / "pages")
    ckpt = str(tmp_path / "ckpt")
    q = start_streaming_replay(
        spark, event_log_dir, table_path, ckpt, num_buckets=8, available_now=True
    )
    # wait for ≥1 committed micro-batch, then kill mid-stream
    deadline = time.time() + 120
    while time.time() < deadline:
        t = PagesTable(spark, table_path)
        if PagesTable.exists(table_path) and t.n_committed() > 0:
            break
        time.sleep(0.2)
    q.stop()
    q.awaitTermination(30)
    n_before = PagesTable(spark, table_path).n_committed()
    assert n_before >= 1

    # resume from the same checkpoint
    res = run_streaming_replay(
        spark, event_log_dir, table_path, ckpt, num_buckets=8
    )
    assert res["n_commits"] >= 2
    oracle, _, _ = sequential_replay(event_table)
    assert_state_equal(PagesTable(spark, table_path).read().collect(), oracle)


def test_windowed_op_counts_stream_equals_batch(spark, event_log_dir, tmp_path):
    """Watermarked event-time windows over the CDC stream: the streaming
    result (availableNow, complete mode) must equal the batch computation
    of the SAME function — late out-of-order warc_ts rows included."""
    from mysql_syncer_spark.sources.event_log import read_event_log, stream_event_log
    from mysql_syncer_spark.streaming.windows import windowed_op_counts

    batch = {
        (r["window_start_us"], r["op"]): r["n_events"]
        for r in windowed_op_counts(
            read_event_log(spark, event_log_dir).filter("op in ('I','U','D')")
        ).collect()
    }
    stream = stream_event_log(spark, event_log_dir, max_files_per_trigger=1)
    out = windowed_op_counts(stream.filter("op in ('I','U','D')"))
    q = (
        out.writeStream.format("memory")
        .queryName("win_counts")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["window_start_us"], r["op"]): r["n_events"]
        for r in spark.sql("select * from win_counts").collect()
    }
    assert got == batch and len(got) > 0


def test_progress_log_listener_records_micro_batches(spark, tmp_path):
    """D5 source-side observability: the bounded tail with
    progress_log=True persists one JSON line per micro-batch (rows,
    offsets, trigger latency) under the table's _metrics dir, and the
    row totals reconcile with the events consumed."""
    import os
    import tempfile

    from mysql_syncer_spark.generator import GenSpec, generate_events, write_event_log
    from mysql_syncer_spark.streaming.listener import read_progress_log
    from mysql_syncer_spark.streaming.runner import run_streaming_replay

    tbl = generate_events(GenSpec(n_events=900, events_per_file=300))
    d = tempfile.mkdtemp(prefix="prog_")
    write_event_log(tbl, d)
    table_path = str(tmp_path / "pages")
    run_streaming_replay(
        spark, d, table_path, str(tmp_path / "ckpt"), num_buckets=4,
        timeout_sec=240, progress_log=True,
    )
    rows = read_progress_log(os.path.join(table_path, "_metrics"))
    prog = [r for r in rows if r["event"] == "progress"]
    assert len(prog) == 3  # one per binlog file (maxFilesPerTrigger=1)
    # numInputRows counts every ACTION's scan of the micro-batch (probe /
    # DDL collect / write re-read the source), so it gauges per-batch read
    # amplification; exact applied counts live in the table's commit
    # metrics (events_in). Each batch read its file at least once.
    assert all(r["num_input_rows"] >= 300 for r in prog)
    assert all(r["trigger_ms"] is not None for r in prog)
    assert all(r["sources"] and r["sources"][0]["end_offset"] for r in prog)
    # started/terminated bracket the run
    assert rows[0]["event"] == "started"
    # listener was removed: a second, listener-less run appends nothing
    n_lines = len(rows)
    run_streaming_replay(
        spark, d, table_path, str(tmp_path / "ckpt"), num_buckets=4,
        timeout_sec=240,
    )
    assert len(read_progress_log(os.path.join(table_path, "_metrics"))) == n_lines


def test_progress_listener_filters_other_queries(spark, tmp_path):
    """query_name filtering covers started/terminated too: in a shared
    SparkSession running several streams, another query's lifecycle
    events must not interleave into this table's stream_progress.jsonl."""
    import time

    from mysql_syncer_spark.streaming.listener import (
        ProgressLogListener,
        read_progress_log,
    )

    out = str(tmp_path / "metrics")
    lst = ProgressLogListener(out, query_name="mine")
    spark.streams.addListener(lst)
    try:
        src = spark.readStream.format("rate").option("rowsPerSecond", 10).load()
        q_other = (
            src.writeStream.format("noop")
            .queryName("other")
            .option("checkpointLocation", str(tmp_path / "ck1"))
            .start()
        )
        q_mine = (
            src.writeStream.format("noop")
            .queryName("mine")
            .option("checkpointLocation", str(tmp_path / "ck2"))
            .start()
        )
        time.sleep(4)
        q_other.stop()
        q_mine.stop()
        q_other.awaitTermination(30)
        q_mine.awaitTermination(30)
        # listener callbacks are async — wait for the terminated line
        for _ in range(50):
            rows = read_progress_log(out)
            if any(r["event"] == "terminated" for r in rows):
                break
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(lst)
    rows = read_progress_log(out)
    assert rows, "no rows logged for the named query"
    names = {r.get("name") for r in rows if r["event"] in ("started", "progress")}
    assert names <= {"mine"}, names
    started_ids = {r["id"] for r in rows if r["event"] == "started"}
    term_ids = {r["id"] for r in rows if r["event"] == "terminated"}
    assert term_ids <= started_ids, (term_ids, started_ids)


def test_batch_source_files_decodes_uris_and_reads_compact_rollups(tmp_path):
    """Hand-written FileStreamSource log: entries are URIs (a space is
    %20), and once rolled up a batch's entries live in ``<N>.compact``
    among other batches' entries."""
    import json

    from mysql_syncer_spark.streaming.runner import batch_source_files

    d = tmp_path / "ckpt" / "sources" / "0"
    d.mkdir(parents=True)

    def entry(path, batch_id):
        return json.dumps({"path": path, "timestamp": 1, "batchId": batch_id})

    (d / "0").write_text(
        "v1\n" + entry("file:///data/event%20log/binlog-000000.parquet", 0) + "\n"
    )
    (d / "9.compact").write_text(
        "v1\n"
        + "\n".join(
            entry(f"file:/data/log/binlog-{i:06d}.parquet", i) for i in range(10)
        )
        + "\n"
    )
    ckpt = str(tmp_path / "ckpt")
    assert batch_source_files(ckpt, 0) == ["/data/event log/binlog-000000.parquet"]
    assert batch_source_files(ckpt, 9) == ["/data/log/binlog-000009.parquet"]
    assert batch_source_files(ckpt, 10) == []


def test_failed_compaction_never_fails_the_stream(spark, tmp_path, monkeypatch):
    """A raising fold compute on the maintenance thread is warned about
    and dropped; every micro-batch still commits and the final state
    matches the oracle."""
    import pytest

    from mysql_syncer_spark.generator import GenSpec, generate_events, write_event_log

    tbl = generate_events(GenSpec(n_events=1200, events_per_file=300))
    log_dir = str(tmp_path / "log")
    write_event_log(tbl, log_dir)
    table_path = str(tmp_path / "pages")
    # threshold 1: every bucket is past it from the second batch on
    PagesTable.create(spark, table_path, num_buckets=2, compact_threshold=1)

    calls = []

    def failing_compute(self, *args, **kwargs):
        calls.append(1)
        raise OSError("disk full")

    monkeypatch.setattr(PagesTable, "_compact_compute", failing_compute)
    with pytest.warns(UserWarning, match="compaction failed"):
        res = run_streaming_replay(
            spark, log_dir, table_path, str(tmp_path / "ckpt"), num_buckets=2
        )
    assert calls
    assert res["n_commits"] == 4
    oracle, _, _ = sequential_replay(tbl)
    assert_state_equal(PagesTable(spark, table_path).read().collect(), oracle)


def _mtime_ordered_log(order):
    """A 6-file log dir (ADD COLUMN in file 2, RENAME in file 4) whose
    files' mtimes put them in ``order`` for the file source."""
    import os
    import tempfile

    from mysql_syncer_spark.generator import GenSpec, generate_events, write_event_log

    tbl = generate_events(GenSpec(n_events=600, events_per_file=100, seed=5))
    d = tempfile.mkdtemp(prefix="evlog_order_")
    write_event_log(tbl, d)
    t0 = time.time() - 3600
    for rank, seq in enumerate(order):
        p = os.path.join(d, f"binlog-{seq:06d}.parquet")
        os.utime(p, (t0 + rank, t0 + rank))
    return d


def _footer_ddl_seqs(d):
    import os

    from mysql_syncer_spark.plans.replay import ddl_rows_from_footers

    return sorted(
        {
            r["file_seq"]
            for r in ddl_rows_from_footers(
                [os.path.join(d, f) for f in os.listdir(d)], "web.pages"
            )
        }
    )


def _assert_equals_replay(spark, log, path, tmp_path):
    from mysql_syncer_spark.plans.replay import replay

    ref = str(tmp_path / "ref")
    replay(spark, log, ref, num_buckets=8)
    got = PagesTable(spark, path).read()
    want = PagesTable(spark, ref).read()
    assert sorted(got.columns) == sorted(want.columns)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.select(*got.columns).collect())
    )


def test_tail_applies_ddl_in_seq_order_when_files_arrive_swapped(spark, tmp_path):
    """File 3 arriving before file 2 (the ADD COLUMN), as files whose
    mtimes tie can: file 2's DDL goes in ahead of file 3's rows, so their
    values for the new column are kept, and the tail ends equal to
    replay() of the same log."""
    d = _mtime_ordered_log([0, 1, 3, 2, 4, 5])
    assert _footer_ddl_seqs(d) == [2, 4]
    path = str(tmp_path / "pages")
    run_streaming_replay(spark, d, path, str(tmp_path / "ckpt"), num_buckets=8)
    _assert_equals_replay(spark, d, path, tmp_path)


def test_tail_refuses_a_late_file_whose_ddl_missed_later_rows(spark, tmp_path):
    """File 2 (the ADD COLUMN) shows up only after files 3-5 were applied
    without it: the resumed tail raises before writing file 2's trigger."""
    import os
    import shutil

    import pytest

    d = _mtime_ordered_log(range(6))
    aside = str(tmp_path / "binlog-000002.parquet")
    shutil.move(os.path.join(d, "binlog-000002.parquet"), aside)
    path, ckpt = str(tmp_path / "pages"), str(tmp_path / "ckpt")
    run_streaming_replay(spark, d, path, ckpt, num_buckets=8)
    assert PagesTable(spark, path).n_committed() == 5
    shutil.move(aside, os.path.join(d, "binlog-000002.parquet"))
    with pytest.raises(Exception, match=r"delivers binlog seq\(s\) \[2\]"):
        run_streaming_replay(spark, d, path, ckpt, num_buckets=8)
    assert PagesTable(spark, path).n_committed() == 5


def test_tail_applies_files_out_of_seq_order_without_ddl(spark, tmp_path):
    """A reorder with no DDL between the files still lands exactly:
    LWW ranks rows by (ts, file, pos), not by arrival."""
    d = _mtime_ordered_log([1, 0, 2, 3, 4, 5])
    path = str(tmp_path / "pages")
    run_streaming_replay(spark, d, path, str(tmp_path / "ckpt"), num_buckets=8)
    _assert_equals_replay(spark, d, path, tmp_path)
