"""binlog_row_image=MINIMAL ingestion (operators/partial.py).

Equivalence claims pinned here:
1. column-level LWW over full images == row-level LWW (partial_state on
   a full-image log is the plain final state);
2. a MINIMAL-ized log (generator.minimalize_event_log) replays to the
   SAME final state as its full-image original — one-shot and through
   the exactly-once batch path with cross-batch state coalescing;
3. in-batch D wipes columns (no resurrection through the coalesce);
4. duplicate redeliveries and already-applied ranks lose LWW safely;
5. rank regressions are refused by the fixture producer.
"""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from mysql_syncer_spark.generator import (
    GenSpec,
    generate_events,
    minimalize_event_log,
    write_event_log,
)
from mysql_syncer_spark.operators.partial import (
    apply_partial_batch,
    partial_state,
)
from mysql_syncer_spark.plans.replay import default_pages_config, replay
from mysql_syncer_spark.sink.pages_table import PagesTable

SPEC = GenSpec(
    n_events=4_000,
    n_urls=600,
    p_out_of_order=0.0,  # MINIMAL requires source-ordered ranks
    p_duplicate=0.03,
    events_per_file=1_000,
    ddl_scenario=(),
    seed=7,
)


def _logs(tmpdir: str):
    full = generate_events(SPEC)
    minimal = minimalize_event_log(full)
    fd, md = os.path.join(tmpdir, "full"), os.path.join(tmpdir, "min")
    write_event_log(full, fd)
    write_event_log(minimal, md)
    return fd, md


def _sorted_rows(df, cols):
    return [tuple(r[c] for c in cols) for r in df.select(*cols).orderBy(*cols).collect()]


def test_minimal_log_one_shot_equals_full(spark):
    with tempfile.TemporaryDirectory() as td:
        fd, md = _logs(td)
        full_df = spark.read.parquet(fd)
        min_df = spark.read.parquet(md)
        # some updates genuinely shipped partial images
        n_partial = min_df.filter(F.size("present") < 7).count()
        assert n_partial > 50
        cols = ["url", "warc_ts", "html", "text", "lang"]
        a = _sorted_rows(partial_state(full_df), cols)
        b = _sorted_rows(partial_state(min_df), cols)
        assert a == b and len(a) > 100


def test_partial_state_on_full_log_is_plain_lww(spark):
    # column-level LWW over full images == the engine's row-level LWW
    with tempfile.TemporaryDirectory() as td:
        fd, _ = _logs(td)
        table_path = os.path.join(td, "pages")
        replay(spark, fd, table_path, num_buckets=8)
        eng = PagesTable(spark, table_path).read()
        cols = ["url", "html", "lang"]
        assert _sorted_rows(partial_state(spark.read.parquet(fd)), cols) == \
            _sorted_rows(eng, cols)


def test_apply_partial_batches_match_full_replay(spark):
    with tempfile.TemporaryDirectory() as td:
        fd, md = _logs(td)
        pa_path = os.path.join(td, "pages_a")
        pb_path = os.path.join(td, "pages_b")
        replay(spark, fd, pa_path, num_buckets=8)
        cfg = default_pages_config()
        tb = PagesTable.create(spark, pb_path, num_buckets=8)
        for fn in sorted(os.listdir(md)):
            ev = spark.read.parquet(os.path.join(md, fn))
            apply_partial_batch(tb, f"min-{fn}", ev, cfg)
        cols = ["url", "warc_ts", "html", "text", "lang"]
        a = _sorted_rows(PagesTable(spark, pa_path).read(), cols)
        b = _sorted_rows(tb.read(), cols)
        assert a == b and len(a) > 100
        # idempotent redelivery of a whole batch
        fn = sorted(os.listdir(md))[0]
        res = apply_partial_batch(
            tb, f"min-{fn}", spark.read.parquet(os.path.join(md, fn)), cfg
        )
        assert res.get("skipped")
        assert _sorted_rows(tb.read(), cols) == b


def _mk_events(spark, rows):
    """rows: (pos, op, url, ts_us, html, text, lang, present)"""
    data = [
        (
            pos, 0, 1, op, "web.pages", None,
            {"url": url, "warc_ts": ts, "html": html, "text": text,
             "lang": lang, "extra": None},
            present,
        )
        for (pos, op, url, ts, html, text, lang, present) in rows
    ]
    schema = (
        "log_pos long, file_seq int, server_id int, op string, table string,"
        " tx_id long, after struct<url:string,warc_ts:timestamp,html:binary,"
        "text:string,lang:string,extra:string>, present array<string>"
    )
    return spark.createDataFrame(data, schema)


def _ts(us):
    import datetime as dt

    return dt.datetime.fromtimestamp(us / 1e6, tz=dt.timezone.utc)


def test_in_batch_delete_wipes_columns_not_coalesced(spark):
    with tempfile.TemporaryDirectory() as td:
        tb = PagesTable.create(spark, os.path.join(td, "p"), num_buckets=4)
        cfg = default_pages_config()
        # batch 1: full insert with html
        b1 = _mk_events(spark, [
            (1, "I", "u1", _ts(100), b"<html>hello</html>", "hello", "en", None),
        ])
        apply_partial_batch(tb, "b1", b1, cfg)
        # batch 2: D at ts 200, then partial U at ts 300 setting only lang.
        # html/text must come out NULL (wiped by the delete), NOT the old
        # state values.
        b2 = _mk_events(spark, [
            (1, "D", "u1", _ts(200), None, None, None, None),
            (2, "U", "u1", _ts(300), None, None, "fr",
             ["url", "warc_ts", "lang"]),
        ])
        apply_partial_batch(tb, "b2", b2, cfg)
        (row,) = tb.read().collect()
        assert row["lang"] == "fr"
        assert row["html"] is None and row["text"] is None


def test_cross_batch_coalesce_preserves_unwritten_columns(spark):
    with tempfile.TemporaryDirectory() as td:
        tb = PagesTable.create(spark, os.path.join(td, "p"), num_buckets=4)
        cfg = default_pages_config()
        apply_partial_batch(tb, "b1", _mk_events(spark, [
            (1, "I", "u1", _ts(100), b"<html>keep me</html>", None, "en", None),
        ]), cfg)
        apply_partial_batch(tb, "b2", _mk_events(spark, [
            (2, "U", "u1", _ts(200), None, "new text", None,
             ["url", "warc_ts", "text"]),
        ]), cfg)
        (row,) = tb.read().collect()
        assert row["html"] == b"<html>keep me</html>"  # coalesced from state
        assert row["text"] == "new text"
        assert row["lang"] == "en"
        # rank advanced (collect() returns session-tz-naive datetimes)
        assert row["warc_ts"].replace(tzinfo=None) == _ts(200).replace(tzinfo=None)


def test_stale_partial_event_loses_to_state(spark):
    with tempfile.TemporaryDirectory() as td:
        tb = PagesTable.create(spark, os.path.join(td, "p"), num_buckets=4)
        cfg = default_pages_config()
        apply_partial_batch(tb, "b1", _mk_events(spark, [
            (1, "I", "u1", _ts(100), b"h1", "t1", "en", None),
            (2, "U", "u1", _ts(500), None, "t2", None,
             ["url", "warc_ts", "text"]),
        ]), cfg)
        # batch 2 redelivers the OLD rank-100 insert (at-least-once)
        apply_partial_batch(tb, "b2", _mk_events(spark, [
            (1, "I", "u1", _ts(100), b"h1", "t1", "en", None),
        ]), cfg)
        (row,) = tb.read().collect()
        assert row["text"] == "t2"
        assert row["warc_ts"].replace(tzinfo=None) == _ts(500).replace(tzinfo=None)


def test_partial_path_refuses_ddl(spark):
    with tempfile.TemporaryDirectory() as td:
        tb = PagesTable.create(spark, os.path.join(td, "p"), num_buckets=4)
        ev = _mk_events(spark, [
            (1, "I", "u1", _ts(100), b"h", "t", "en", None),
        ]).withColumn("op", F.lit("DDL"))
        with pytest.raises(ValueError, match="DDL"):
            apply_partial_batch(tb, "b1", ev, default_pages_config())


def test_minimalize_refuses_rank_regressions():
    bad = GenSpec(n_events=2_000, n_urls=100, p_out_of_order=0.2,
                  ddl_scenario=(), seed=3)
    with pytest.raises(ValueError, match="monotone"):
        minimalize_event_log(generate_events(bad))


def test_minimal_wire_round_trip_and_bandwidth(spark):
    """MINIMAL images over the REAL wire framing: the used-columns bitmap
    carries the partial after-image; decode surfaces it as `present`; the
    partial path replays it to the same state as the full typed log —
    and the wire bytes genuinely shrink (the point of MINIMAL)."""
    from mysql_syncer_spark.generator import generate_events
    from mysql_syncer_spark.sources.wire_log import (
        decode_wire_events,
        write_wire_event_log,
    )

    with tempfile.TemporaryDirectory() as td:
        full = generate_events(SPEC)
        minimal = minimalize_event_log(full)
        wd_full, wd_min = os.path.join(td, "wf"), os.path.join(td, "wm")
        write_wire_event_log(full, wd_full)
        write_wire_event_log(minimal, wd_min)

        def ubytes(d):
            df = spark.read.parquet(d)
            return df.filter(F.col("op") == "U").agg(
                F.sum(F.length("rows_event"))
            ).head()[0]

        # bandwidth win is workload-shaped: this synthetic corpus rewrites
        # html on almost every re-crawl, so only the metadata-only updates
        # shrink — strictly smaller is the honest claim here
        assert ubytes(wd_min) < ubytes(wd_full)

        dec = decode_wire_events(spark.read.parquet(wd_min))
        # presence rides the bitmap: some updates are genuinely partial
        n_partial = dec.filter(F.size("present") < 6).count()
        assert n_partial > 50
        fd = os.path.join(td, "full_typed")
        write_event_log(full, fd)
        cols = ["url", "warc_ts", "html", "text", "lang"]
        a = _sorted_rows(partial_state(spark.read.parquet(fd)), cols)
        b = _sorted_rows(partial_state(dec), cols)
        assert a == b and len(a) > 100


def test_streaming_partial_replay_equals_full(spark):
    """MINIMAL tail through Structured Streaming: one micro-batch per
    binlog file via apply_partial_batch, exactly-once on the same ledger
    (checkpointed batchIds); resume after completion is a no-op."""
    from mysql_syncer_spark.streaming.runner import run_streaming_replay

    with tempfile.TemporaryDirectory() as td:
        fd, md = _logs(td)
        pa_path = os.path.join(td, "pages_a")
        replay(spark, fd, pa_path, num_buckets=8)
        pb_path = os.path.join(td, "pages_b")
        ck = os.path.join(td, "ck")
        run_streaming_replay(
            spark, md, pb_path, ck, num_buckets=8, partial=True,
            timeout_sec=300,
        )
        tb = PagesTable(spark, pb_path)
        n0 = tb.n_committed()
        cols = ["url", "warc_ts", "html", "text", "lang"]
        assert _sorted_rows(PagesTable(spark, pa_path).read(), cols) == \
            _sorted_rows(tb.read(), cols)
        # resume from the same checkpoint: nothing new to process
        run_streaming_replay(
            spark, md, pb_path, ck, num_buckets=8, partial=True,
            timeout_sec=120,
        )
        assert PagesTable(spark, pb_path).n_committed() == n0


def test_partial_stream_takes_the_full_image_trigger_path(spark):
    """A MINIMAL tail makes the full-image trigger's sink call: only its
    first trigger runs the keys-only probe, threshold folds run on the
    stream's maintenance thread (trigger commits fold nothing, the folds
    land as their own commits), and the final state equals a full
    replay."""
    from mysql_syncer_spark.streaming.runner import run_streaming_replay

    with tempfile.TemporaryDirectory() as td:
        fd, md = _logs(td)
        pa_path = os.path.join(td, "pages_a")
        replay(spark, fd, pa_path, num_buckets=4)
        pb_path = os.path.join(td, "pages_b")
        PagesTable.create(spark, pb_path, num_buckets=4, compact_threshold=1)
        run_streaming_replay(
            spark, md, pb_path, os.path.join(td, "ck"), num_buckets=4,
            partial=True, timeout_sec=300,
        )
        tb = PagesTable(spark, pb_path)
        hist = tb.metrics_history()
        assert len(hist) == 4
        assert [m["skew_probed"] for m in hist] == [True, False, False, False]
        assert all("compacted_buckets" not in m for m in hist)
        cols = ["url", "warc_ts", "html", "text", "lang"]
        assert _sorted_rows(PagesTable(spark, pa_path).read(), cols) == \
            _sorted_rows(tb.read(), cols)
