"""Optimistic concurrency: a lost manifest-version race rebases and
retries; a concurrently-committed identical batch id is skipped
(exactly-once across writers)."""

import os
import tempfile

import pytest

from mysql_syncer_spark.generator import GenSpec, generate_events, write_event_log
from mysql_syncer_spark.sink.pages_table import (
    CommitConflictError,
    Manifest,
    PagesTable,
)


def _inject_competing_commit(table, extra_batch: str) -> int:
    """Simulate a racing writer: claim the NEXT version file with a copy of
    the current manifest carrying a foreign batch id."""
    m = table.manifest()
    race = Manifest.from_json(m.to_json())
    race.version += 1
    race.committed_batches.append(extra_batch)
    vdir = os.path.join(table.path, "_versions")
    with open(os.path.join(vdir, f"v{race.version:08d}.json"), "w") as f:
        f.write(race.to_json())
    with open(os.path.join(vdir, "CURRENT"), "w") as f:
        f.write(str(race.version))
    return race.version


def test_conflict_rebases_and_retries(spark, monkeypatch):
    tbl = generate_events(GenSpec(n_events=800, events_per_file=800))
    d = tempfile.mkdtemp()
    write_event_log(tbl, d)
    path = tempfile.mkdtemp() + "/pages"
    t = PagesTable.create(spark, path, num_buckets=8)

    raced = {"done": False, "version": None}
    orig_commit = PagesTable._commit

    def racing_commit(self, m):
        # first commit attempt: another writer lands a version just before
        if not raced["done"]:
            raced["done"] = True
            raced["version"] = _inject_competing_commit(self, "foreign-batch")
        return orig_commit(self, m)

    monkeypatch.setattr(PagesTable, "_commit", racing_commit)
    events = spark.read.parquet(d)
    res = t.apply_batch("b0", events)
    assert res["skipped"] is False

    m = t.manifest()
    # our commit landed AFTER the racer's version
    assert m.version == raced["version"] + 1
    # both the foreign batch and ours are in the ledger (rebase kept it)
    assert t._is_committed(m, "foreign-batch")
    assert t._is_committed(m, "b0")
    assert t.read().count() > 0


def test_concurrent_same_batch_is_skipped(spark, monkeypatch):
    tbl = generate_events(GenSpec(n_events=500, events_per_file=500))
    d = tempfile.mkdtemp()
    write_event_log(tbl, d)
    path = tempfile.mkdtemp() + "/pages"
    t = PagesTable.create(spark, path, num_buckets=8)

    raced = {"done": False}
    orig_commit = PagesTable._commit

    def racing_commit(self, m):
        if not raced["done"]:
            raced["done"] = True
            _inject_competing_commit(self, "b0")  # same batch id wins first
        return orig_commit(self, m)

    monkeypatch.setattr(PagesTable, "_commit", racing_commit)
    events = spark.read.parquet(d)
    res = t.apply_batch("b0", events)
    assert res["skipped"] is True and "concurrent" in res["reason"]


def test_exclusive_create_raises_conflict(spark, tmp_path):
    path = str(tmp_path / "pages")
    t = PagesTable.create(spark, path, num_buckets=4)
    m = t.manifest()
    m.version += 1
    t._commit(m)
    m2 = t.manifest()  # same version target from a second handle
    m2.version = m.version
    with pytest.raises(CommitConflictError):
        t._commit(m2)


@pytest.mark.parametrize("kind", ["pages", "corpus"])
def test_current_never_moves_backwards(spark, tmp_path, monkeypatch, kind):
    """Writer v1 pauses at its CURRENT rename while writer v2 commits:
    CURRENT must end at 2 for both table kinds (the pointer advance is
    serialized, so v2 waits for v1 instead of being overwritten by it)."""
    import threading

    from mysql_syncer_spark.sink.corpus_table import CorpusTable

    path = str(tmp_path / kind)
    if kind == "pages":
        t = PagesTable.create(spark, path, num_buckets=2)
    else:
        t = CorpusTable.create(spark, path)
    m1, m2 = t.manifest(), t.manifest()
    m1.version, m2.version = 1, 2

    at_rename, v2_done = threading.Event(), threading.Event()
    real_rename = os.rename

    def paused_rename(src, dst):
        if dst.endswith("CURRENT") and threading.current_thread().name == "v1":
            at_rename.set()
            # with the pointer lock held, v2 cannot finish: give up waiting
            v2_done.wait(timeout=2.0)
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", paused_rename)
    w1 = threading.Thread(target=t._commit, args=(m1,), name="v1")
    w1.start()
    assert at_rename.wait(timeout=30)

    def commit_v2():
        t._commit(m2)
        v2_done.set()

    w2 = threading.Thread(target=commit_v2, name="v2")
    w2.start()
    w1.join(timeout=30)
    w2.join(timeout=30)
    with open(os.path.join(path, "_versions", "CURRENT")) as f:
        assert int(f.read().strip()) == 2
    assert t.manifest().version == 2
