"""Self-tests of the benchmark's own logic.

    python3 -m pytest perfbench/tests -q

Most tests need no JVM; the digest tests start one small local Spark
session.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import sys
import time
import types
from contextlib import contextmanager

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import harness, inputs, stats, workloads  # noqa: E402
from perfbench.trace import self_times  # noqa: E402

SMALL = {"n_events": 400, "events_per_file": 200, "html_repeat": 1}


# -- percentile rule ----------------------------------------------------


@pytest.mark.parametrize(
    "n, want",
    [(9, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_supported_percentile_leaves_ten_samples_beyond(n, want):
    assert stats.supported_percentile(n) == want


def test_percentile_is_nearest_rank():
    xs = [float(i) for i in range(1, 41)]  # 1..40
    assert stats.percentile(xs, 50) == 20.0
    assert stats.percentile(xs, 75) == 30.0
    # ten samples lie beyond the p75 value
    assert sum(x > stats.percentile(xs, 75) for x in xs) == 10
    assert stats.percentile([3.0], 75) == 3.0
    assert stats.median([4.0, 1.0, 3.0, 2.0]) == 2.5


# -- failure counting ---------------------------------------------------


def test_outcomes_count_raised_calls_as_failed():
    out = stats.Outcomes()

    def boom():
        raise RuntimeError("refused")

    assert out.call(lambda x: x + 1, 1) == (True, 2)
    assert out.call(boom) == (False, None)
    assert out.call(lambda: None) == (True, None)
    assert (out.attempted, out.failed) == (3, 1)
    assert out.fail_ratio == pytest.approx(1 / 3)
    assert out.errors == ["RuntimeError: refused"]
    assert stats.Outcomes().fail_ratio == 0.0


def test_rss_counts_the_jvm_once_while_it_forks_a_helper():
    statm = {
        1: "50 20 5 1 0 15 0",  # the Python process that runs Spark
        2: "100 40 5 1 0 30 0",  # the JVM
        3: "100 40 5 1 0 30 0",  # its child between fork and exec
        4: "20 10 2 1 0 8 0",  # the Python daemon
        5: "20 10 2 1 0 8 0",  # a worker the daemon forked
    }
    parent = {1: 0, 2: 1, 3: 2, 4: 2, 5: 4}
    exe = {1: "python3", 2: "java", 3: "java", 4: "python3", 5: "python3"}
    assert stats.rss_pages(statm, parent, exe) == 20 + 40 + 10 + 10


# -- CPU measurement ----------------------------------------------------


def test_stopwatch_leaves_out_the_benchmarks_own_sampling_threads():
    own0 = stats.own_cpu_s()
    with stats.Stopwatch() as sw:
        with stats.SpeedProbe(interval=0.0) as probe:
            time.sleep(1.0)
    # the probe kept a core busy for the second; the block itself slept
    assert stats.own_cpu_s() - own0 > 0.5
    assert sw.cpu < 0.25
    assert sw.jit == 0.0  # no JVM below this process
    kernel = [k for _, k in probe.samples]
    assert len(kernel) > 2 * probe.MIN_SAMPLES
    assert probe.factor() == pytest.approx(stats.REF_KERNEL_S / stats.median(kernel))
    # a window is corrected by its own samples, a short one by all of them
    t_mid = probe.samples[len(kernel) // 2][0]
    late = [k for t, k in probe.samples if t >= t_mid]
    assert probe.factor(t_mid, math.inf) == pytest.approx(
        stats.REF_KERNEL_S / stats.median(late)
    )
    assert probe.factor(0.0, 1e-9) == probe.factor()
    assert stats.SpeedProbe().factor() == 1.0  # no samples: no correction


def test_quartiles_follow_statistics_quantiles():
    assert stats.quartiles([1.0, 2.0, 3.0, 4.0, 5.0]) == [1.5, 3.0, 4.5]
    assert stats.quartiles([2.0]) == [2.0, 2.0, 2.0]


# -- seed determinism ---------------------------------------------------


def test_same_seed_same_input_other_seed_other_input(tmp_path):
    a = inputs.ensure_pages_log(inputs.Cache(str(tmp_path / "a")), SMALL, 5, False)
    b = inputs.ensure_pages_log(inputs.Cache(str(tmp_path / "b")), SMALL, 5, False)
    c = inputs.ensure_pages_log(inputs.Cache(str(tmp_path / "a")), SMALL, 6, False)
    assert not a["hit"] and not b["hit"]
    assert a["input_hash"] == b["input_hash"]
    assert a["input_hash"] != c["input_hash"]
    again = inputs.ensure_pages_log(inputs.Cache(str(tmp_path / "a")), SMALL, 5, False)
    assert again["hit"] and again["input_hash"] == a["input_hash"]

    d1 = inputs.ensure_docs(inputs.Cache(str(tmp_path / "d")), {"n_docs": 50}, 5)
    d2 = inputs.ensure_docs(inputs.Cache(str(tmp_path / "e")), {"n_docs": 50}, 5)
    d3 = inputs.ensure_docs(inputs.Cache(str(tmp_path / "d")), {"n_docs": 50}, 6)
    assert d1["input_hash"] == d2["input_hash"] != d3["input_hash"]
    assert d1["n_batches"] == inputs.N_CORPUS_BATCHES


# -- oracle check -------------------------------------------------------


def test_greedy_fold_rejects_later_and_same_batch_higher_ids():
    texts = {1: "a b c", 2: "a b c", 3: "a b c d", 4: "x y z", 5: "a b c"}
    pairs = [(1, 2), (1, 3), (2, 3), (4, 5)]
    acc, n_verified = inputs.greedy_accepted([[1, 2, 4], [3, 5]], texts, pairs, 0.7)
    # 2 collides with lower id 1 in its batch; 3 collides with accepted 1;
    # (4, 5) fails the Jaccard gate, so 5 stays
    assert acc == {1, 4, 5}
    assert n_verified == 3


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    from mysql_syncer_spark.session import get_spark

    s = get_spark(app_name="perfbench-selftest", cores=2,
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_engine_digest_matches_python_digest_and_tamper_fails(spark):
    ts = dt.datetime(2024, 1, 2, 3, 4, 5, 6789, tzinfo=dt.timezone.utc)
    rows = [
        ("u1", ts, b"<p>x</p>", "x", "en", None),
        ("u2", ts, None, None, None, "e"),
    ]
    cols = ["warc_ts", "html", "text", "lang", "extra"]
    want = {
        r[0]: inputs.row_digest([inputs.value_token(v) for v in r[1:]]) for r in rows
    }
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, "
        "lang string, extra string",
    )
    assert inputs.spark_digests(df, "url", cols) == want

    from pyspark.sql import functions as F

    tampered = df.withColumn(
        "lang", F.when(F.col("url") == "u1", "xx").otherwise(F.col("lang"))
    )
    assert inputs.compare_digests(
        want, inputs.spark_digests(tampered, "url", cols)
    ) == ["differs u1"]
    assert inputs.compare_digests(
        want, inputs.spark_digests(df.filter("url = 'u2'"), "url", cols)
    ) == ["missing u1"]


def test_pages_oracle_digest_covers_every_live_url(tmp_path):
    out = inputs.ensure_pages_log(inputs.Cache(str(tmp_path)), SMALL, 7, True)
    o = out["oracle"]
    assert o["columns"][:4] == ["warc_ts", "html", "text", "lang"]
    assert out["deleted_urls"] and not set(out["deleted_urls"]) & set(o["digests"])
    assert set(out["hot_urls"]) & set(o["digests"])


# -- tracing --------------------------------------------------------------


def test_self_time_subtracts_union_of_child_intervals():
    spans = [
        {"run": "r", "id": 1, "parent": None, "name": "outer", "start": 0.0, "end": 10.0,
         "jobs": 1, "stages": 2},
        {"run": "r", "id": 2, "parent": 1, "name": "a", "start": 1.0, "end": 3.0},
        {"run": "r", "id": 3, "parent": 1, "name": "a", "start": 2.0, "end": 5.0},
        {"run": "r", "id": 4, "parent": 1, "name": "b", "start": 7.0, "end": 8.0},
    ]
    t = self_times(spans)
    assert t["outer"]["self_s"] == pytest.approx(5.0)
    assert t["a"]["n"] == 2 and t["a"]["total_s"] == pytest.approx(5.0)
    assert t["outer"]["jobs"] == 1 and t["outer"]["stages"] == 2


# -- definition -----------------------------------------------------------


def test_benchmark_json_names_the_runners_and_gives_setup_the_widest_bound():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    assert [w["name"] for w in b["workloads"]] == list(workloads.WORKLOADS)
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])


# -- failed runs ------------------------------------------------------------


class _Tracer:
    overhead_s = 0.0

    def set_enabled(self, on):
        pass

    @contextmanager
    def span(self, name):
        yield {}


def _ctx(tmp_path):
    return types.SimpleNamespace(
        spark=None, seed=1, seconds=0, trace=False, run_dir=str(tmp_path),
        n_paths=0, tracer=_Tracer(),
        listener=types.SimpleNamespace(run_ids=[], progress=[]),
        outcomes=stats.Outcomes(), layer={}, info={}, cores=4,
        probe=stats.SpeedProbe(),
        cache=types.SimpleNamespace(build_s=0.0),
    )


def _refuse(*args, **kwargs):
    raise RuntimeError("refused")


def test_refused_engine_calls_give_a_failed_result_line(tmp_path, monkeypatch):
    from mysql_syncer_spark.plans import replay as replay_mod
    from mysql_syncer_spark.sink.corpus_table import CorpusTable
    from mysql_syncer_spark.streaming import runner

    monkeypatch.setattr(replay_mod, "replay", _refuse)
    monkeypatch.setattr(runner, "run_streaming_replay", _refuse)
    monkeypatch.setattr(CorpusTable, "create", staticmethod(_refuse))

    pages = workloads.PagesCdc(_ctx(tmp_path / "p"))
    pages.bulk = {"log": "none", "n_events": 10, "log_bytes": 10}
    pages.tail = {"log": "none", "log_bytes": 10}
    corpus = workloads.CorpusIngest(_ctx(tmp_path / "c"))
    corpus.docs = {"files": [], "n_docs": 10}
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = {m["name"] for m in json.load(f)["end_to_end"]}
    # every replay of the unit, then the tail; the corpus create
    for wl, n_calls in ((pages, workloads.REPLAYS + 1), (corpus, 1)):
        wl.measure()
        wl.finish()
        result, info = harness.report(wl.ctx, wl, 1.0, 0.0, 0.0, 100.0)
        assert not result["correct"]
        assert (result["attempted"], result["failed"]) == (n_calls, n_calls)
        assert set(result["metrics"]) == names
        assert result["metrics"]["ok_ratio"]["value"] == 0.0
        assert info["errors"][0] == "RuntimeError: refused"


def test_heap_is_sized_from_memory():
    assert stats.heap_mb(6_000) == 1500
    assert stats.heap_mb(2_000) == 1024
    assert stats.heap_mb(64_000) == 2048
