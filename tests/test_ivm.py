"""Incremental view maintenance over the CDC-out changelog: stepping a
grouped-aggregate view through every committed snapshot must equal a
fresh recompute from the table at each step."""

import os
import tempfile

import pyspark.sql.functions as F
import pytest

from mysql_syncer_spark.plans.ivm import maintain_view, merge_view, view_delta
from mysql_syncer_spark.plans.replay import replay
from mysql_syncer_spark.sink.pages_table import PagesTable

DOMAIN_RE = r"https?://([^/]+)/"


def _dim(get):
    return F.regexp_extract(get("url"), DOMAIN_RE, 1)


METRICS = {
    "total_chars": lambda get: F.coalesce(F.length(get("text")), F.lit(0)),
}


def _recompute(table, version):
    df = table.read(version=version)
    return {
        r["_dim"]: (r["n_rows"], r["total_chars"])
        for r in df.groupBy(
            F.regexp_extract("url", DOMAIN_RE, 1).alias("_dim")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.coalesce(F.length("text"), F.lit(0)).cast("double")
            ).alias("total_chars"),
        )
        .collect()
    }


def _as_dict(view):
    return {
        r["_dim"]: (int(r["n_rows"]), float(r["total_chars"]))
        for r in view.collect()
    }


@pytest.fixture(scope="module")
def replayed(spark, event_log_dir):
    path = os.path.join(tempfile.mkdtemp(prefix="ivm_"), "pages")
    replay(spark, event_log_dir, path, num_buckets=8)
    return PagesTable(spark, path)


def test_stepwise_view_equals_recompute(spark, replayed):
    t = replayed
    versions = sorted(
        int(f[1:-5])
        for f in os.listdir(os.path.join(t.path, "_versions"))
        if f.startswith("v") and f.endswith(".json")
    )
    assert len(versions) >= 3
    view = None
    prev = versions[0]
    for v in versions[1:]:
        view = maintain_view(t, _dim, METRICS, prev, v, view=view)
        # keep lineage short; a real deployment persists the view table
        view = view.localCheckpoint(eager=True)
        prev = v
        want = _recompute(t, v)
        got = _as_dict(view)
        assert got.keys() == want.keys(), v
        for k, (n, s) in want.items():
            gn, gs = got[k]
            assert gn == n and abs(gs - s) < 1e-6, (v, k, got[k], (n, s))


def test_one_shot_maintenance_from_zero(spark, replayed):
    t = replayed
    head = t.manifest().version
    view = maintain_view(t, _dim, METRICS, 0, head, view=None)
    assert _as_dict(view) == {
        k: (n, float(s)) for k, (n, s) in _recompute(t, head).items()
    }


def test_delta_is_changed_keys_only(spark, replayed):
    t = replayed
    head = t.manifest().version
    # a null range produces an empty delta and leaves the view untouched
    log = t.changes_between(head, head, with_before=True)
    assert log.count() == 0
    base = maintain_view(t, _dim, METRICS, 0, head, view=None)
    merged = merge_view(base, view_delta(log, _dim, METRICS))
    assert _as_dict(merged) == _as_dict(base)


def test_sync_view_follows_streaming_replay(spark, event_log_dir):
    """Persisted view tails a STREAMING replay across two bounded runs:
    each sync folds only the new changelog range, a re-sync is a no-op,
    and a crash before the CURRENT flip is repaired by re-folding."""
    import glob
    import json
    import shutil

    from mysql_syncer_spark.plans.ivm import sync_view
    from mysql_syncer_spark.streaming.runner import run_streaming_replay

    work = tempfile.mkdtemp(prefix="ivmstream_")
    live_log = os.path.join(work, "log")
    os.makedirs(live_log)
    files = sorted(glob.glob(os.path.join(event_log_dir, "binlog-*.parquet")))
    assert len(files) >= 2
    shutil.copy(files[0], live_log)
    tpath = os.path.join(work, "pages")
    ckpt = os.path.join(work, "ckpt")
    vpath = os.path.join(work, "view")

    run_streaming_replay(spark, live_log, tpath, ckpt, num_buckets=8, timeout_sec=120)
    t = PagesTable(spark, tpath)
    r1 = sync_view(t, vpath, _dim, METRICS)
    assert r1["skipped"] is False and r1["from"] == 0

    def view_now():
        cur = json.load(open(os.path.join(vpath, "CURRENT")))
        return _as_dict(spark.read.parquet(os.path.join(vpath, cur["dir"])))

    assert view_now() == _recompute(t, t.manifest().version)

    # more binlog arrives; the checkpointed stream resumes and the view
    # folds only the tail
    for f in files[1:]:
        shutil.copy(f, live_log)
    run_streaming_replay(spark, live_log, tpath, ckpt, num_buckets=8, timeout_sec=240)
    saved_current = open(os.path.join(vpath, "CURRENT")).read()
    r2 = sync_view(t, vpath, _dim, METRICS)
    assert r2["skipped"] is False and r2["from"] == r1["synced_to"]
    head = t.manifest().version
    want = _recompute(t, head)
    assert view_now() == want

    # same head again → no-op
    assert sync_view(t, vpath, _dim, METRICS)["skipped"] is True

    # crash simulation: CURRENT never flipped after the second fold —
    # the re-run folds the same range again and converges to the same view
    with open(os.path.join(vpath, "CURRENT"), "w") as f:
        f.write(saved_current)
    r3 = sync_view(t, vpath, _dim, METRICS)
    assert r3["skipped"] is False and r3["from"] == r1["synced_to"]
    assert view_now() == want


def test_sync_view_current_never_moves_backwards(spark, replayed, monkeypatch):
    """A syncer at an older head pauses at its CURRENT rename while a
    syncer at the newer head finishes: CURRENT must end at the newer head
    (the pointer advance is serialized and never moves backwards)."""
    import fcntl
    import json
    import threading

    from mysql_syncer_spark.plans.ivm import sync_view

    class AtHead:
        """The table as a syncer that read its manifest at ``version``
        sees it."""

        def __init__(self, table, version):
            self.table, self.version, self.spark = table, version, table.spark

        def manifest(self):
            m = self.table.manifest()
            m.version = self.version
            return m

        def changes_between(self, *args, **kwargs):
            return self.table.changes_between(*args, **kwargs)

    head = replayed.manifest().version
    assert head >= 2
    vpath = os.path.join(tempfile.mkdtemp(prefix="ivmrace_"), "view")
    # "old" holds its rename until "new" has finished or waits at the
    # pointer lock (where a serialized advance must hold it)
    at_rename, new_blocked = threading.Event(), threading.Event()
    real = {"rename": os.rename, "replace": os.replace, "flock": fcntl.flock}

    def pausing(kind):
        def move(src, dst):
            if dst.endswith("CURRENT") and threading.current_thread().name == "old":
                at_rename.set()
                new_blocked.wait(timeout=120)
            return real[kind](src, dst)

        return move

    def flock(fd, op):
        if threading.current_thread().name == "new":
            new_blocked.set()
        return real["flock"](fd, op)

    monkeypatch.setattr(os, "rename", pausing("rename"))
    monkeypatch.setattr(os, "replace", pausing("replace"))
    monkeypatch.setattr(fcntl, "flock", flock)
    errors = []

    def sync_at(version):
        try:
            sync_view(AtHead(replayed, version), vpath, _dim, METRICS)
        except Exception as e:  # surfaced by the assert below
            errors.append(e)
        finally:
            new_blocked.set()

    old = threading.Thread(target=sync_at, args=(head - 1,), name="old")
    old.start()
    assert at_rename.wait(timeout=120)
    new = threading.Thread(target=sync_at, args=(head,), name="new")
    new.start()
    old.join(timeout=120)
    new.join(timeout=120)
    assert not old.is_alive() and not new.is_alive()
    assert not errors
    cur = json.load(open(os.path.join(vpath, "CURRENT")))
    assert cur["table_version"] == head
    got = _as_dict(spark.read.parquet(os.path.join(vpath, cur["dir"])))
    assert got == _recompute(replayed, head)


def test_stepwise_null_dim_folds_into_one_group(spark, replayed):
    """A nullable dim (lang ships as NULL) must fold into ONE group per
    sync: plain equality in merge_view never matches NULL, which would
    leak a fresh NULL-dim row from each side on every step."""
    t = replayed
    dim = lambda get: get("lang")
    versions = sorted(
        int(f[1:-5])
        for f in os.listdir(os.path.join(t.path, "_versions"))
        if f.startswith("v") and f.endswith(".json")
    )
    view = None
    prev = versions[0]
    for v in versions[1:]:
        view = maintain_view(t, dim, METRICS, prev, v, view=view)
        view = view.localCheckpoint(eager=True)
        prev = v
    rows = view.collect()
    dims = [r["_dim"] for r in rows]
    assert len(dims) == len(set(dims)), f"duplicate dim rows: {dims}"
    assert None in dims  # the generator ships NULL lang → one NULL group
    want = {
        r["_dim"]: (r["n"], r["tc"])
        for r in t.read(version=versions[-1])
        .groupBy(F.col("lang").alias("_dim"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.coalesce(F.length("text"), F.lit(0)).cast("double")).alias("tc"),
        )
        .collect()
    }
    assert {r["_dim"]: (int(r["n_rows"]), float(r["total_chars"])) for r in rows} == {
        k: (n, float(s)) for k, (n, s) in want.items()
    }


@pytest.mark.parametrize(
    "spec_kw",
    [
        {"p_delete": 0.25, "seed": 101},          # delete-heavy
        {"p_out_of_order": 0.5, "seed": 102},     # heavy warc_ts regressions
        {"zipf_a": 2.0, "p_duplicate": 0.2, "seed": 103},  # hot keys + redelivery
    ],
)
def test_ivm_equals_recompute_across_workload_shapes(spark, spec_kw):
    """Retraction algebra holds for any workload shape the generator can
    produce: delete storms, out-of-order timestamps, hot-key floods with
    exact redelivery."""
    import tempfile

    from mysql_syncer_spark.generator import GenSpec, generate_events, write_event_log
    from mysql_syncer_spark.plans.replay import replay

    d = tempfile.mkdtemp(prefix="ivmgen_")
    write_event_log(
        generate_events(GenSpec(n_events=2_000, events_per_file=500, **spec_kw)), d
    )
    path = os.path.join(tempfile.mkdtemp(prefix="ivmgen_t_"), "pages")
    replay(spark, d, path, num_buckets=8)
    t = PagesTable(spark, path)
    head = t.manifest().version
    view = maintain_view(t, _dim, METRICS, 0, head, view=None)
    assert _as_dict(view) == {
        k: (n, float(s)) for k, (n, s) in _recompute(t, head).items()
    }
