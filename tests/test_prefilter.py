"""Winner pre-filter (probed duplicate-heavy batches): the broadcast
rank semi-join must be state-invisible — identical final table rows with
the filter forced on, forced off, and under ties / null order columns."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from mysql_syncer_spark.generator import GenSpec, generate_events, write_event_log
from mysql_syncer_spark.plans.replay import replay
from mysql_syncer_spark.sink import pages_table
from mysql_syncer_spark.sink.pages_table import PagesTable


def _force(monkeypatch, on: bool) -> None:
    """Pre-filter every probed batch with duplicates (on), or none (off)."""
    if on:
        monkeypatch.setattr(pages_table, "PREFILTER_MIN_DUP_SHARE", 0.0)
    else:
        monkeypatch.setattr(pages_table, "PREFILTER_MIN_DUP_SHARE", 2.0)
        monkeypatch.setattr(pages_table, "HOT_KEY_SHARE", 2.0)


def _rows(spark, path):
    df = PagesTable(spark, path).read()
    return sorted(
        (r["url"], r["warc_ts"], r["html"], r["text"]) for r in df.collect()
    )


@pytest.fixture(scope="module")
def dup_heavy_log():
    """~10 events per url → dup_share ~0.9, comfortably past the 0.30 gate."""
    tbl = generate_events(GenSpec(n_events=4_000, n_urls=400))
    d = tempfile.mkdtemp(prefix="pflog_")
    write_event_log(tbl, d)
    return d


def test_prefilter_on_off_identical_state(spark, dup_heavy_log, monkeypatch):
    p_on = os.path.join(tempfile.mkdtemp(), "pages_on")
    p_off = os.path.join(tempfile.mkdtemp(), "pages_off")
    with monkeypatch.context() as mp:
        _force(mp, True)
        res = replay(spark, dup_heavy_log, p_on, num_buckets=8)
    assert res["batches"][0]["prefiltered"] is True
    with monkeypatch.context() as mp:
        _force(mp, False)
        res = replay(spark, dup_heavy_log, p_off, num_buckets=8)
    assert not any(b["prefiltered"] for b in res["batches"])
    assert _rows(spark, p_on) == _rows(spark, p_off)


def test_prefilter_gate_respects_max_keys(spark, dup_heavy_log, monkeypatch):
    """PREFILTER_MAX_KEYS=0 must behave exactly like disabled."""
    p_a = os.path.join(tempfile.mkdtemp(), "pages_a")
    p_b = os.path.join(tempfile.mkdtemp(), "pages_b")
    with monkeypatch.context() as mp:
        _force(mp, True)
        mp.setattr(pages_table, "PREFILTER_MAX_KEYS", 0)
        res = replay(spark, dup_heavy_log, p_a, num_buckets=8)
    assert not any(b["prefiltered"] for b in res["batches"])
    with monkeypatch.context() as mp:
        _force(mp, False)
        replay(spark, dup_heavy_log, p_b, num_buckets=8)
    assert _rows(spark, p_a) == _rows(spark, p_b)


def test_prefilter_exact_rank_ties_keep_one_row(spark, monkeypatch):
    """Rows tying on the FULL rank (same ts/file/pos) survive the filter
    together and the final max_by still emits exactly one winner."""
    tbl = PagesTable.create(
        spark, os.path.join(tempfile.mkdtemp(), "pages_ties"), num_buckets=4
    )
    raw = spark.createDataFrame(
        [
            # url, ts_us, pos — u1 has an exact duplicate winner event
            ("u1", 100, 5, b"<b>a</b>"),
            ("u1", 100, 5, b"<b>a</b>"),
            ("u1", 50, 1, b"<b>old</b>"),
            ("u2", 10, 2, b"<b>b</b>"),
        ],
        "url string, ts_us long, pos long, html binary",
    )
    after = F.struct(
        F.col("url"),
        F.timestamp_micros(F.col("ts_us")).alias("warc_ts"),
        F.col("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit("en").alias("lang"),
    )
    events = raw.select(
        F.col("pos").alias("log_pos"),
        F.lit(0).alias("file_seq"),
        F.lit(1).alias("server_id"),
        F.lit("I").alias("op"),
        F.lit("web.pages").alias("table"),
        F.lit(None).cast("long").alias("tx_id"),
        after.alias("before"),
        after.alias("after"),
        F.lit(None).cast(
            "struct<kind:string,col:string,new_name:string,dtype:string>"
        ).alias("ddl"),
    )
    _force(monkeypatch, True)
    res = tbl.apply_batch("b0", events)
    assert not res.get("skipped") and res["prefiltered"] is True
    rows = tbl.read().select("url", "html").collect()
    assert sorted(r["url"] for r in rows) == ["u1", "u2"]
    assert {bytes(r["html"]) for r in rows} == {b"<b>a</b>", b"<b>b</b>"}
