"""Table maintenance: vacuum (orphan GC), the inline ledger fold, compaction,
backfill and rebucket keep exactly-once semantics intact."""

import os

import pytest

from mysql_syncer_spark.oracle import sequential_replay
from mysql_syncer_spark.plans.replay import replay
from mysql_syncer_spark.sink.pages_table import PagesTable
from tests.test_replay_parity import assert_state_equal


def test_vacuum_removes_old_versions_keeps_state(
    spark, event_log_dir, event_table, tmp_table_path
):
    replay(spark, event_log_dir, tmp_table_path, num_buckets=8)
    t = PagesTable(spark, tmp_table_path)
    data_root = os.path.join(tmp_table_path, "data")
    # MoR: deltas stay referenced until compaction folds them
    assert t.compact()["compacted_buckets"] > 0
    n_dirs_before = len(os.listdir(data_root))
    res = t.vacuum()
    assert res["freed_bytes"] > 0
    assert len(os.listdir(data_root)) < n_dirs_before
    oracle, _, _ = sequential_replay(event_table)
    assert_state_equal(t.read().collect(), oracle)
    # idempotent
    assert t.vacuum()["removed_dirs"] == []


def test_ledger_compaction_preserves_idempotence(spark, event_log_dir, tmp_table_path):
    replay(spark, event_log_dir, tmp_table_path, num_buckets=8)
    t = PagesTable(spark, tmp_table_path)
    n_before = t.read().count()
    # commits fold inline now: the explicit list is already empty and the
    # fileseq watermark covers every batch
    m = t.manifest()
    assert m.committed_batches == []
    assert m.ledger_watermarks.get("fileseq", -1) >= 1
    assert t.n_committed(m) >= 2
    # replaying compacted batches must still be a no-op
    res2 = replay(spark, event_log_dir, tmp_table_path, num_buckets=8)
    assert all(b.get("skipped") for b in res2["batches"])
    assert t.read().count() == n_before


def test_manifest_size_stays_flat_over_many_commits(spark, tmp_table_path):
    """200 ordered commits: the manifest must not grow per commit — the
    inline ledger fold keeps committed_batches empty (watermark advances)
    and lineage stays O(buckets)."""
    t = PagesTable.create(spark, tmp_table_path, num_buckets=4)
    m = t.manifest()
    sizes = []
    for k in range(200):
        empty_delta = {
            "new_dirs": {}, "lineage_rows": {}, "events_in": 0,
            "max_key_rows": 0,
        }
        t._commit_batch(m, f"fileseq-{k}", empty_delta, [], 0.0)
        sizes.append(len(m.to_json()))
    assert t.n_committed() == 200
    assert t.manifest().committed_batches == []
    assert t.manifest().ledger_watermarks["fileseq"] == 199
    # byte-size flat: growth over the last 100 commits is only the digit
    # width of version/batch-id counters, never a per-commit ledger entry
    assert sizes[-1] - sizes[99] <= 8, (sizes[99], sizes[-1])
    # out-of-order ids stay explicitly listed until the gap closes
    t._commit_batch(m, "fileseq-250", dict(
        new_dirs={}, lineage_rows={}, events_in=0, max_key_rows=0),
        [], 0.0)
    assert t.manifest().committed_batches == ["fileseq-250"]
    assert t.manifest().ledger_watermarks["fileseq"] == 199


def test_compaction_sorts_buckets_by_key(
    spark, event_log_dir, event_table, tmp_table_path
):
    import glob

    import pyarrow.parquet as pq

    replay(spark, event_log_dir, tmp_table_path, num_buckets=8)
    t = PagesTable(spark, tmp_table_path)
    assert t.compact()["compacted_buckets"] > 0
    m = t.manifest()
    n_checked = 0
    for b, dirs in m.buckets.items():
        assert len(dirs) == 1  # folded to one vintage
        for f in glob.glob(os.path.join(tmp_table_path, dirs[0], "*.parquet")):
            urls = pq.read_table(f, columns=["url"]).column("url").to_pylist()
            assert urls == sorted(urls), f"bucket {b} not key-sorted"
            n_checked += 1
    assert n_checked > 0
    # state unchanged by the sorted rewrite
    oracle, _, _ = sequential_replay(event_table)
    assert_state_equal(t.read().collect(), oracle)


def test_expire_snapshots_keeps_retention_window(
    spark, event_log_dir, event_table, tmp_table_path
):
    replay(spark, event_log_dir, tmp_table_path, num_buckets=8)
    t = PagesTable(spark, tmp_table_path)
    vdir = os.path.join(tmp_table_path, "_versions")
    n_versions = sum(1 for f in os.listdir(vdir) if f.endswith(".json"))
    assert n_versions >= 3
    head = t.manifest().version
    keep = 2
    res = t.expire_snapshots(keep_last=keep)
    assert res["retained_versions"][-1] == head
    assert len(res["expired_versions"]) == n_versions - keep
    # time travel inside the window still reads; outside raises
    prev = res["retained_versions"][0]
    assert t.read(version=prev).count() > 0
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        t.manifest(version=res["expired_versions"][0])
    # head state intact
    oracle, _, _ = sequential_replay(event_table)
    assert_state_equal(t.read().collect(), oracle)
    # idempotent: nothing further to expire or GC
    res2 = t.expire_snapshots(keep_last=keep)
    assert res2["expired_versions"] == [] and res2["removed_dirs"] == []


def test_backfill_recomputes_derived_column(
    spark, event_log_dir, event_table, tmp_table_path
):
    import pyarrow.compute as pc

    replay(spark, event_log_dir, tmp_table_path, num_buckets=8)
    t = PagesTable(spark, tmp_table_path)
    v_before = t.manifest().version
    before = {r["url"]: r.asDict() for r in t.read().collect()}

    def upgraded_extractor(tbl):
        text = tbl["text"]
        return tbl.set_column(
            tbl.schema.get_field_index("text"),
            "text",
            pc.binary_join_element_wise("v2|", pc.fill_null(text, ""), ""),
        )

    res = t.backfill(upgraded_extractor)
    assert res["backfilled_buckets"] > 0
    after = {r["url"]: r.asDict() for r in t.read().collect()}
    assert set(after) == set(before)
    for url, row in after.items():
        want = dict(before[url])
        want["text"] = "v2|" + (want["text"] or "")
        assert row == want, url
    # time travel to the pre-backfill snapshot is untouched
    old = {r["url"]: r.asDict() for r in t.read(version=v_before).collect()}
    assert old == before
    # the ledger is untouched: a replay of committed batches stays a no-op
    res2 = replay(spark, event_log_dir, tmp_table_path, num_buckets=8)
    assert all(b.get("skipped") for b in res2["batches"])


def test_rebucket_online_layout_change(spark, event_log_dir, event_table):
    import glob
    import shutil
    import tempfile

    work = tempfile.mkdtemp(prefix="rebkt_")
    live = os.path.join(work, "log")
    os.makedirs(live)
    files = sorted(glob.glob(os.path.join(event_log_dir, "binlog-*.parquet")))
    assert len(files) >= 2
    shutil.copy(files[0], live)
    path = os.path.join(work, "pages")
    replay(spark, live, path, num_buckets=4)
    t = PagesTable(spark, path)
    v_old = t.manifest().version
    old_state = {r["url"]: r.asDict() for r in t.read().collect()}

    res = t.rebucket(16)
    assert res["rebucketed"] and t.manifest().num_buckets == 16
    assert len(t.manifest().buckets) <= 16 and len(t.manifest().buckets) > 4
    assert {r["url"]: r.asDict() for r in t.read().collect()} == old_state
    # time travel across the boundary reads the OLD layout correctly
    assert {r["url"]: r.asDict() for r in t.read(version=v_old).collect()} == old_state

    # subsequent CDC batches apply into the NEW layout; final state must
    # equal an uninterrupted replay
    for f in files[1:]:
        shutil.copy(f, live)
    replay(spark, live, path, num_buckets=4)  # num_buckets arg ignored: table exists
    oracle, _, _ = sequential_replay(event_table)
    assert_state_equal(t.read().collect(), oracle)

    # point lookup routes by the new bucket count
    url = next(iter(oracle))
    row = t.lookup(url).collect()
    assert len(row) == 1 and row[0]["url"] == url

    # no-op and validation paths
    assert t.rebucket(16)["rebucketed"] is False
    import pytest as _pytest

    with _pytest.raises(ValueError):
        t.rebucket(0)


def test_expiry_vs_tags_interplay(spark, event_log_dir, tmp_table_path):
    """An expired tagged version fails loudly on read_tag (operators keep
    tags inside the retention window by contract); tags inside the
    window keep working after expiry."""
    import pytest as _pytest

    replay(spark, event_log_dir, tmp_table_path, num_buckets=8)
    t = PagesTable(spark, tmp_table_path)
    head = t.manifest().version
    t.tag("head", version=head)
    t.tag("ancient", version=1)
    t.expire_snapshots(keep_last=1)  # only the head survives
    assert t.read_tag("head").count() > 0
    with _pytest.raises(FileNotFoundError):
        t.read_tag("ancient")


def test_gc_grace_window_protects_in_flight_writes(
    spark, event_log_dir, tmp_table_path
):
    """An in-flight writer's uncommitted delta dir (referenced by no
    version file) must survive vacuum/expire until the grace window
    passes; superseded dirs are still removed immediately."""
    replay(spark, event_log_dir, tmp_table_path, num_buckets=8)
    t = PagesTable(spark, tmp_table_path)
    t.compact()
    data_root = os.path.join(tmp_table_path, "data")
    # simulate a concurrent writer mid-flight: fresh dir, no commit yet
    inflight = os.path.join(data_root, "delta-inflight-test")
    os.makedirs(inflight)
    with open(os.path.join(inflight, "part-0.parquet"), "wb") as f:
        f.write(b"x" * 128)

    res = t.vacuum()  # default grace: the young unknown dir is held
    assert "delta-inflight-test" in res["skipped_in_flight"]
    assert os.path.isdir(inflight)
    assert "delta-inflight-test" not in res["removed_dirs"]

    res2 = t.expire_snapshots(keep_last=1)  # same protection on expiry
    assert "delta-inflight-test" in res2["skipped_in_flight"]
    assert os.path.isdir(inflight)

    res3 = t.vacuum(grace_sec=0.0)  # grace elapsed → crash orphan, GC'd
    assert "delta-inflight-test" in res3["removed_dirs"]
    assert not os.path.exists(inflight)


@pytest.mark.parametrize("loop", ["apply_batch", "apply_batches"])
def test_ledger_gap_warns_on_skipped_id(spark, event_log_dir, loop):
    """Skip-a-file resume: applying fileseq-N with N-1 neither committed
    nor explicit warns (the fold's contiguity contract is broken), while
    the batch still applies; contiguous next ids stay silent — in the
    replay loop at depth 2 too, where the previous id is still in flight
    when the next is submitted."""
    import tempfile
    import warnings

    import pyspark.sql.functions as F

    from mysql_syncer_spark.sources.event_log import read_event_log

    path = os.path.join(tempfile.mkdtemp(prefix="gap_"), "pages")
    ev = read_event_log(spark, event_log_dir)
    t = PagesTable.create(spark, path, num_buckets=4)
    t.apply_batch("fileseq-0", ev.filter(F.col("file_seq") == 0), None)
    assert t.manifest().ledger_watermarks.get("fileseq", -1) >= 0

    def apply(*ids):
        batches = [
            (f"fileseq-{k}", ev.filter(F.col("file_seq") == 1)) for k in ids
        ]
        if loop == "apply_batch":
            return [t.apply_batch(bid, b, None) for bid, b in batches]
        return t.apply_batches(batches, depth=2)

    # contiguous ids: no warning
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        apply(1, 2)

    # gap: fileseq-3 skipped, fileseq-4 applied → warn but apply
    with pytest.warns(UserWarning, match="skips uncommitted ids \\[3\\]"):
        (res,) = apply(4)
    assert res["skipped"] is not True
    assert "fileseq-4" in t.manifest().committed_batches  # held explicit


def test_tiered_fold_leaves_base_untouched(spark, event_log_dir):
    """Size-tiered threshold compaction (LSM minor/major split): once a
    bucket has a dominant base vintage, threshold folds merge ONLY the
    delta tail — the base dir stays in the manifest unrewritten — and the
    merged read stays oracle-exact. A major fold (tail grown past the
    ratio) or explicit compact() still folds to one vintage."""
    import tempfile

    import pyspark.sql.functions as F

    from mysql_syncer_spark.generator import GenSpec, generate_events
    from mysql_syncer_spark.sources.event_log import read_event_log

    tbl = generate_events(GenSpec(n_events=4_000, events_per_file=100))
    d = tempfile.mkdtemp(prefix="tiered_")
    from mysql_syncer_spark.generator import write_event_log

    write_event_log(tbl, d)
    ev = read_event_log(spark, d)
    path = os.path.join(tempfile.mkdtemp(prefix="tiered_t_"), "pages")
    t = PagesTable.create(spark, path, num_buckets=4, compact_threshold=2)
    from mysql_syncer_spark.plans.replay import default_pages_config

    cfg = default_pages_config()

    # batch 0 = 3/4 of the log → the base vintage; then 100-event deltas.
    # Pin the size gauge (at toy scale parquet's fixed per-file footer/
    # dict overhead and column compression make on-disk bytes non-
    # proportional to rows, so the real stat would legitimately choose
    # major folds): base dirs read huge, deltas tiny → folds MUST stay
    # minor, proving subset-fold correctness + base preservation.
    t.apply_batch("fileseq-0", ev.filter(F.col("file_seq") <= 29), cfg)
    base_dirs = {
        b: lst[0] for b, lst in t.manifest().buckets.items()
    }
    base_set = set(base_dirs.values())
    t._dir_bytes = lambda rel: 1_000_000 if rel in base_set else 10
    for seq in range(30, 36):
        t.apply_batch(
            f"fileseq-{seq}", ev.filter(F.col("file_seq") == seq), cfg
        )
    m = t.manifest()
    # folds fired (6 deltas, threshold 2) and every one was MINOR: the
    # tail keeps collapsing while the ORIGINAL base dir is never rewritten
    for b, base in base_dirs.items():
        assert len(m.buckets[b]) == 2, (b, m.buckets[b])
        assert base in m.buckets[b], f"minor fold rewrote the base of {b}"

    # drain the rest with the REAL size gauge (later folds may
    # legitimately go major) — state stays exact throughout
    del t._dir_bytes
    for seq in range(36, 40):
        t.apply_batch(
            f"fileseq-{seq}", ev.filter(F.col("file_seq") == seq), cfg
        )
    oracle, _, _ = sequential_replay(tbl)
    assert_state_equal(t.read().collect(), oracle)

    # explicit maintenance compact() keeps FULL-fold semantics
    t.compact()
    m2 = t.manifest()
    assert all(len(lst) == 1 for lst in m2.buckets.values())
    assert_state_equal(t.read().collect(), oracle)


def _four_batches(spark, tmp_path):
    """A 4-file log (1,200 events): its event table and one batch per file."""
    import pyspark.sql.functions as F

    from mysql_syncer_spark.generator import GenSpec, generate_events, write_event_log
    from mysql_syncer_spark.sources.event_log import read_event_log

    tbl = generate_events(GenSpec(n_events=1200, events_per_file=300))
    log_dir = str(tmp_path / "log")
    write_event_log(tbl, log_dir)
    ev = read_event_log(spark, log_dir)
    return tbl, [(f"fileseq-{k}", ev.filter(F.col("file_seq") == k)) for k in range(4)]


def test_failed_fold_never_fails_apply_batch(spark, tmp_path, monkeypatch):
    """apply_batch's threshold fold is best-effort: at compact_threshold=1
    every batch from the second on schedules a fold, each raising compute
    is warned about and dropped, and all four batches commit."""
    import warnings

    from mysql_syncer_spark.plans.replay import default_pages_config

    tbl, batches = _four_batches(spark, tmp_path)
    t = PagesTable.create(spark, str(tmp_path / "pages"), num_buckets=2, compact_threshold=1)
    calls = []

    def failing_compute(self, *args, **kwargs):
        calls.append(1)
        raise OSError("disk full")

    monkeypatch.setattr(PagesTable, "_compact_compute", failing_compute)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        results = [t.apply_batch(bid, ev, default_pages_config()) for bid, ev in batches]
    assert all(r["skipped"] is False for r in results)
    assert t.n_committed() == 4
    dropped = [w for w in caught if "compaction failed" in str(w.message)]
    assert len(calls) == 3 and len(dropped) == 3
    oracle, _, _ = sequential_replay(tbl)
    assert_state_equal(t.read().collect(), oracle)


@pytest.mark.parametrize("op", ["compact", "backfill"])
def test_maintenance_rebases_on_racing_commit(spark, tmp_path, monkeypatch, op):
    """A batch committed by a second writer while compact()/backfill()
    computes its fold: the maintenance commit rebases onto it, the racer's
    vintage stays on top of the rewritten one, and the state equals the
    oracle."""
    from mysql_syncer_spark.plans.replay import default_pages_config

    tbl, batches = _four_batches(spark, tmp_path)
    path = str(tmp_path / "pages")
    t = PagesTable.create(spark, path, num_buckets=4)
    cfg = default_pages_config()
    for bid, ev in batches[:3]:
        t.apply_batch(bid, ev, cfg)
    m0 = t.manifest()
    racer, racer_dirs = PagesTable(spark, path), {}
    compute = PagesTable._compact_compute

    def racing_compute(self, *args, **kwargs):
        fold = compute(self, *args, **kwargs)
        if not racer_dirs:
            racer.apply_batch(*batches[3], cfg)
            m = racer.manifest()
            racer_dirs.update(
                {b: m.buckets[b][-1] for b, e in m.lineage.items() if e["batch_id"] == "fileseq-3"}
            )
        return fold

    monkeypatch.setattr(PagesTable, "_compact_compute", racing_compute)
    if op == "compact":
        assert t.compact()["compacted_buckets"] == len(m0.buckets)
    else:
        assert t.backfill(lambda tb: tb)["backfilled_buckets"] == len(m0.buckets)
    m = t.manifest()
    assert m.metrics["batch_id"] == f"{op}-v{m.version}"
    assert racer_dirs
    assert all(m.buckets[b][-1] == d for b, d in racer_dirs.items())
    assert t.n_committed(m) == 4
    oracle, _, _ = sequential_replay(tbl)
    assert_state_equal(t.read().collect(), oracle)
