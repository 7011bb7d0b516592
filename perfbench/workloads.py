"""The workloads. Each one prepares its seeded inputs and oracle, warms
the JVM on the same shape, then repeats its measured unit until the run's
seconds are spent (at least once), checking every unit's output against
the oracle.

Why these (see also README.md):
- pages_cdc: a pipelined bulk replay over a few files of ~4 KB pages, where
  payload work dominates (extraction UDF, payload exchange + LWW max_by,
  bucket writes); then an AvailableNow tail over many small files, where
  the per-trigger floor dominates; then point and changelog reads that see
  the vintages the tail's writes and compactions left.
- corpus_ingest: dedup-gated document batches into a CorpusTable. Many
  small serial Spark jobs per batch; shares no sink code with pages_cdc.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
from pyspark.sql import functions as F

from perfbench import inputs
from perfbench.stats import Stopwatch, busy_cores, median, percentile, supported_percentile

# Input shapes. A run starts a fresh JVM, so these are sized to keep each
# run near a minute on a 4-core host.
BULK = {"n_events": 8_000, "events_per_file": 2_000, "html_repeat": 32}
# The bulk log is replayed this many times per unit, each into a fresh
# table, after the tail; events_per_cpu_s is their events over their CPU.
# One replay of twice the size right after the warm-up spread 0.17-0.24
# over five seeds: the JVM was still compiling the code it ran, and the CPU
# of successive replays fell from 11 to 8.8, 8.2 and 7.8 s. It still falls
# from one replay to the next after the tail, so the middle replay
# (median) spread 0.12 over ten seeds where all three together spread 0.07.
REPLAYS = 3
# The warm-up replay has the bulk log's shape (with another seed), so the
# JVM compiles the replay's hot code on the sizes it measures. It took no
# longer than a 2k-event warm-up (median 12.8 s against 13.4 s over ten
# runs each): a cold replay's time is the JVM's, not the events'.
BULK_WARM = BULK
# Ten small files: ten triggers, of which the first WARM_TRIGGERS warm the
# streaming path up and the rest are measured. A bucket passes the
# compaction threshold (8 vintages) during the tail, so the AsyncCompactor
# folds inside it and the reads see what its folds leave.
TAIL = {"n_events": 2_500, "events_per_file": 250, "html_repeat": 4}
# The first two triggers of a JVM's first streaming query ran 3.0-4.9 s and
# 1.6-2.7 s, the later ones 1.1-1.9 s.
WARM_TRIGGERS = 2
CORPUS = {"n_docs": 800}
CORPUS_WARM = {"n_docs": 120}
CORPUS_JACCARD = 0.8
PIPELINE_DEPTH = 4
# Tables hold 1k-5k urls: 16 buckets keep files from being tiny.
NUM_BUCKETS = 16
# A read takes 0.2-0.6 s, and its CPU time varies twofold from call to
# call: the read figures average over several calls, after one unmeasured
# call of each kind.
LOOKUP_CALLS = 5
# 40 keys reach ~14 of the 16 buckets whatever the seed, so the work of a
# lookup does not depend on which keys the seed draws
LOOKUP_KEYS = 40
CHANGES_CALLS = 3
CORPUS_LOOKUPS = 8
CORPUS_FULL_READS = 5
CORPUS_WARM_READS = 3


class Workload:
    """Shared runner: set-up, the timed loop, and the result fields."""

    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.units: list[dict] = []  # one record per measured unit
        self.layer: dict[str, float] = {}
        self.e2e: dict[str, float] = {}
        self.problems: list[str] = []  # oracle mismatches

    def fresh(self, label: str) -> str:
        self.ctx.n_paths += 1
        return os.path.join(self.ctx.run_dir, f"{label}-{self.ctx.n_paths}")

    def call(self, name: str, fn, *args, **kwargs):
        """One engine operation inside a span; counted in the outcomes.
        Returns (ok, result)."""
        with self.ctx.tracer.span(name):
            return self.ctx.outcomes.call(fn, *args, **kwargs)

    def measure(self) -> None:
        """Repeat the unit until the run's seconds are spent (at least
        once). A traced run traces every unit."""
        ctx = self.ctx
        t_end = time.perf_counter() + ctx.seconds
        ctx.tracer.set_enabled(ctx.trace)
        while not self.units or time.perf_counter() < t_end:
            pre = busy_cores()
            t0 = time.perf_counter()
            u = self.unit()
            u["wall_s"] = time.perf_counter() - t0
            u["busy_cores"] = [pre, busy_cores()]
            u["speed_factor"] = {
                "ingests": [ctx.probe.factor(*i["window"]) for i in u["ingests"]],
                "batches": ctx.probe.factor(*u["batch_window"])
                if "batch_window" in u else None,
            }
            self.units.append(u)
        ctx.tracer.set_enabled(False)

    def e2e_common(self, work: int, batched: list[dict], space_amp: float) -> None:
        """The figures both workloads share. ``work`` is the events (docs)
        one ingest applies; ``batched`` are the units whose batches ran.

        The bounded figures are process-tree CPU seconds (without the JIT
        compilers, see Stopwatch) at the reference host's speed (see
        stats.SpeedProbe): on a host whose cores other tenants share, a
        neighbour's load stretched wall times of the same run by 40-130%
        and its CPU seconds by 4-15%. The wall figures, and the reads' CPU
        figures (which spread past any bound over ten seeds), are per-layer
        metrics."""
        ingests = [i for u in self.units for i in u["ingests"]]
        lookups = [x for u in self.units for x in u["lookup_s"]]
        changes = [x for u in self.units for x in u["changes_s"]]
        batch_s = [x for u in batched for x in u["batch_s"]]
        factor = self.ctx.probe.factor

        def per_call(cpu_key: str, n: int, units: list[dict]) -> float:
            # the reads are corrected by the whole run's factor: a single
            # call is too short to hold enough kernel samples
            return sum(u[cpu_key] for u in units) * factor() / n if n else 0.0

        # a failed call leaves no sample: its figure reads 0, and the run
        # is not correct
        e, L = self.e2e, self.layer
        e["events_per_cpu_s"] = (
            work * len(ingests) / sum(i["cpu_s"] * factor(*i["window"]) for i in ingests)
            if ingests else 0.0
        )
        e["batch_cpu_s"] = (
            sum(u["batch_cpu_s"] * factor(*u["batch_window"]) for u in batched)
            / len(batch_s) if batch_s else 0.0
        )
        e["space_amp"] = space_amp
        L["lookup_cpu_s"] = per_call("lookup_cpu_s", len(lookups), self.units)
        L["changes_cpu_s"] = per_call("changes_cpu_s", len(changes), self.units)
        L["events_per_s"] = (
            work * len(ingests) / sum(i["wall_s"] for i in ingests) if ingests else 0.0
        )
        L["batch_p50_s"] = percentile(batch_s, 50) if batch_s else 0.0
        L["lookup_p50_s"] = percentile(lookups, 50) if lookups else 0.0
        L["changes_s"] = median(changes) if changes else 0.0
        # sample counts, and the highest percentile each count supports
        self.ctx.info["samples"] = {
            name: {"n": len(xs), "supported_percentile": supported_percentile(len(xs))}
            for name, xs in (("units", self.units), ("ingests", ingests),
                             ("batches", batch_s),
                             ("lookups", lookups), ("changes", changes))
        }

    @staticmethod
    def new_unit(**fields) -> dict:
        """A unit record with empty samples: one record per ingest, wall
        seconds per call, and the CPU seconds summed over the calls."""
        return {"ingests": [], "batch_s": [], "lookup_s": [], "changes_s": [],
                "batch_cpu_s": 0.0, "lookup_cpu_s": 0.0, "changes_cpu_s": 0.0, **fields}

    @staticmethod
    def ingest_record(sw: Stopwatch, **fields) -> dict:
        return {"wall_s": sw.wall, "cpu_s": sw.cpu, "jit_s": sw.jit,
                "window": (sw.t0, sw.t1), **fields}

    def noop(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()


class PagesCdc(Workload):
    """The pages table's whole path in one JVM: a pipelined bulk replay,
    then a streaming tail onto a second table, then reads of the tail's
    table. Each part feeds its own metrics: events_per_s is the replay's
    (payload work), the batch latencies are the tail's triggers (the
    per-batch floor), and the reads see the vintages the tail's writes and
    compactions left."""

    name = "pages_cdc"

    def setup(self) -> None:
        """The inputs, and one replay of a small log of the bulk shape: the
        first Spark work of a JVM. The rest of the warm-up is part of the
        unit, on its own inputs, and left out of its figures: the tail's CPU
        is counted from the end of its WARM_TRIGGERS-th trigger, each kind
        of read runs once unmeasured, and the replays come after the tail.
        A separate warm-up of each would cost more than the unit."""
        from mysql_syncer_spark.plans.replay import replay

        ctx = self.ctx
        self.bulk = ctx.pages_input(BULK, "bulk")
        self.tail = ctx.pages_input(TAIL, "tail")
        warm = ctx.pages_input(BULK_WARM, "warm", warm=True)
        t0 = time.perf_counter()
        replay(self.spark, warm["log"], self.fresh("warm"),
               num_buckets=NUM_BUCKETS, pipeline_depth=PIPELINE_DEPTH)
        ctx.layer["session.warm_s"] = time.perf_counter() - t0

    def _stream(self, log: str) -> tuple[bool, str, list[dict]]:
        """One AvailableNow catch-up into a fresh table. Returns (ok, table
        path, the listener's progress records of the query)."""
        from mysql_syncer_spark.streaming.runner import run_streaming_replay

        path, ckpt = self.fresh("stream"), self.fresh("ckpt")
        lst = self.ctx.listener
        n_started = len(lst.run_ids)
        ok, _ = self.call("run_streaming_replay", run_streaming_replay,
                          self.spark, log, path, ckpt, num_buckets=NUM_BUCKETS)
        run_id = lst.run_ids[n_started] if len(lst.run_ids) > n_started else None
        if run_id is not None:
            lst.wait_terminated(run_id)
        progress = [p for p in lst.progress if p["run_id"] == run_id]
        return ok, path, progress

    def pages_check(self, table, oracle: dict, label: str) -> None:
        cols = oracle["columns"]
        df = table.read()
        if sorted(c for c in df.columns if c != "url") != sorted(cols):
            self.problems.append(f"{label}: columns {df.columns} != {cols}")
            return
        with self.ctx.tracer.span("oracle_check"):
            got = inputs.spark_digests(self.ctx.tamper(df), "url", cols)
        for d in inputs.compare_digests(oracle["digests"], got):
            self.problems.append(f"{label}: {d}")

    def pages_reads(self, table, inp: dict, u: dict) -> None:
        """Seed-chosen point reads (hot, cold and deleted urls), then the
        changelog between the first and the last committed version; both
        checked against the oracle. A read is timed up to its collected
        result."""
        from perfbench.inputs import compare_digests, digest_columns

        oracle = inp["oracle"]
        want, cols = oracle["digests"], oracle["columns"]

        def collect(df, *extra):
            df = self.ctx.tamper(df)
            return df.select(*digest_columns(df, "url", cols), *extra).toArrow()

        rng = np.random.default_rng(self.ctx.seed + 17)
        pools = [inp["hot_urls"], inp["cold_urls"], inp["deleted_urls"]]
        for k in range(LOOKUP_CALLS):
            keys = []
            for pool, n in zip(pools, (8, 20, 12)):
                if pool:
                    keys += [pool[j] for j in rng.integers(0, len(pool), n)]
            with Stopwatch() as sw:
                ok, got = self.call(
                    "lookup_many", lambda: collect(table.lookup_many(keys))
                )
            u["lookup_s"].append(sw.wall)
            u["lookup_cpu_s"] += sw.cpu
            if ok:
                got = dict(zip(got.column("k").to_pylist(), got.column("d").to_pylist()))
                exp = {key: want[key] for key in keys if key in want}
                for d in compare_digests(exp, got):
                    self.problems.append(f"lookup {k}: {d}")

        last = table.manifest().version
        for _ in range(CHANGES_CALLS):
            with Stopwatch() as sw:
                ok, ch = self.call(
                    "changes_between",
                    lambda: collect(table.changes_between(1, last), "change_op"),
                )
            u["changes_s"].append(sw.wall)
            u["changes_cpu_s"] += sw.cpu
            if not ok:
                return
        keys, ops = ch.column("k").to_pylist(), ch.column("change_op").to_pylist()
        digests = ch.column("d").to_pylist()
        u["changes_rows"] = len(keys)
        with self.ctx.tracer.span("oracle_check"):
            v1 = table.read(version=1).select("url").toArrow()
        v1 = set(v1.column("url").to_pylist())
        final = set(want)
        for op, exp_keys in (("I", final - v1), ("D", v1 - final)):
            got_keys = {k for k, o in zip(keys, ops) if o == op}
            if got_keys != exp_keys:
                self.problems.append(
                    f"changes {op}: {len(got_keys ^ exp_keys)} keys differ"
                )
        if not {k for k, o in zip(keys, ops) if o == "U"} <= (final & v1):
            self.problems.append("changes U: key outside both snapshots")
        live = {k: d for k, o, d in zip(keys, ops, digests) if o != "D"}
        for d in compare_digests({k: want[k] for k in live if k in want}, live):
            self.problems.append(f"changes payload: {d}")

    def sink_counts(self, table_path: str) -> dict:
        """Counts from metrics_history() and the manifests of one table."""
        from mysql_syncer_spark.sink.pages_table import PagesTable

        t = PagesTable(self.spark, table_path)
        seen, batches = set(), []
        # compaction commits carry the previous batch's metrics forward:
        # keep each batch once
        for met in t.metrics_history():
            if met.get("batch_id") not in seen:
                seen.add(met.get("batch_id"))
                batches.append(met)
        vdir = os.path.join(table_path, "_versions")
        compactions, compacted = 0, 0
        for fn in sorted(os.listdir(vdir)):
            if not (fn.startswith("v") and fn.endswith(".json")):
                continue
            with open(os.path.join(vdir, fn)) as f:
                mj = json.load(f)
            tag = f"compact-v{mj['version']}"
            n = sum(1 for e in mj["lineage"].values() if e.get("batch_id") == tag)
            compactions += n > 0
            compacted += n
        m = t.manifest()
        referenced = sum(t._dir_bytes(d) for lst in m.buckets.values() for d in lst)
        return {
            "merge_ms_p50": median([b["merge_ms"] for b in batches]),
            "dedup_hits": sum(b["dedup_hits"] for b in batches),
            "rows_written": sum(b["rows_after_dedup"] for b in batches),
            "buckets_touched": sum(b["buckets_touched"] for b in batches),
            "skew_probes": sum(bool(b.get("skew_probed")) for b in batches),
            "salted_batches": sum(bool(b.get("salted_merge")) for b in batches),
            "compacted_buckets": compacted
            + sum(b.get("compacted_buckets", 0) for b in batches),
            "vintages_max": max((len(v) for v in m.buckets.values()), default=0),
            "table_bytes": inputs.dir_bytes(table_path),
            "orphan_bytes": inputs.dir_bytes(os.path.join(table_path, "data"))
            - referenced,
            "compactions": compactions,
            "events_in": sum(b["events_in"] for b in batches),
        }

    def unit(self) -> dict:
        from mysql_syncer_spark.plans.replay import replay
        from mysql_syncer_spark.sink.pages_table import PagesTable

        u = self.new_unit()
        with Stopwatch() as sw:
            ok, path, progress = self._stream(self.tail["log"])
        u["tail_s"], u["tail_cpu_s"], u["tail_jit_s"] = sw.wall, sw.cpu, sw.jit
        u["tail_path"] = path
        u["progress"] = prog = [p for p in progress if p["input_rows"]]
        u["tail_ok"] = ok
        if ok:
            self.tail_and_reads(u, sw, path, prog)
        else:
            self.problems.append("streaming replay failed")

        for _ in range(REPLAYS):
            path = self.fresh("bulk")
            with Stopwatch() as sw:
                ok, res = self.call(
                    "replay", replay, self.spark, self.bulk["log"], path,
                    num_buckets=NUM_BUCKETS, pipeline_depth=PIPELINE_DEPTH,
                )
            if not ok:
                self.problems.append("replay failed")
                continue
            u["ingests"].append(self.ingest_record(
                sw, path=path, n_batches=res["n_batches"],
                profile=res.get("pipeline_profile") or {},
            ))
            self.pages_check(PagesTable(self.spark, path), self.bulk["oracle"], "replay")
        return u

    def tail_and_reads(self, u: dict, sw: Stopwatch, path: str, prog: list[dict]) -> None:
        """The tail's figures, its check, and the reads of its table."""
        from mysql_syncer_spark.sink.pages_table import PagesTable

        # the measured triggers: from the end of the last warm-up trigger
        # (the listener reads the CPU as each trigger's progress arrives)
        # to the end of the last one
        warm = WARM_TRIGGERS if len(prog) > WARM_TRIGGERS else 0
        u["batch_s"] = [p["trigger_ms"] / 1000 for p in prog[warm:]]
        if warm:
            u["batch_cpu_s"] = prog[-1]["cpu_s"] - prog[warm - 1]["cpu_s"]
            u["batch_window"] = (prog[warm - 1]["t"], prog[-1]["t"])
        else:  # too few triggers to leave a warm-up out
            u["batch_cpu_s"], u["batch_window"] = sw.cpu, (sw.t0, sw.t1)
        table = PagesTable(self.spark, path)
        self.pages_check(table, self.tail["oracle"], "tail")
        table.lookup_many(self.tail["hot_urls"][:LOOKUP_KEYS]).toArrow()
        table.changes_between(1, table.manifest().version).toArrow()
        self.pages_reads(table, self.tail, u)
        u["space_amp"] = inputs.dir_bytes(path) / self.tail["log_bytes"]

    def finish(self) -> None:
        """The run's figures from the units whose calls succeeded; a failed
        replay or tail leaves its figures at 0 (the run is then not
        correct)."""
        replays = [i for u in self.units for i in u["ingests"]]
        tails = [u for u in self.units if u["tail_ok"]]
        space = [u["space_amp"] for u in tails if "space_amp" in u]
        self.e2e_common(self.bulk["n_events"], tails, median(space) if space else 0.0)
        L = self.layer
        L["sources.log_bytes"] = self.bulk["log_bytes"]
        if replays:
            last = replays[-1]
            L["plans.replay_s"] = median([i["wall_s"] for i in replays])
            L["plans.batches"] = last["n_batches"]
            for k in ("head_wait", "serial_floor"):
                L[f"plans.{k}_s"] = median(
                    [i["profile"].get(f"{k}_sec_per_batch", 0.0) for i in replays]
                )
            rep = self.sink_counts(last["path"])
            L["sink.replay_merge_ms_p50"] = rep["merge_ms_p50"]
            for k in ("dedup_hits", "rows_written", "buckets_touched", "skew_probes",
                      "salted_batches", "compacted_buckets"):
                L[f"sink.{k}"] = rep[k]
        if tails:
            self.tail_figures(tails[-1])
        for u in self.units:
            u.pop("progress", None)

    def tail_figures(self, last: dict) -> None:
        L = self.layer
        tail = self.sink_counts(last["tail_path"])
        # exact behaviour counts over both tables; latency, vintages and
        # bytes from the tail's table, where merge-on-read vintages pile up
        for k in ("dedup_hits", "rows_written", "buckets_touched", "skew_probes",
                  "salted_batches", "compacted_buckets"):
            L[f"sink.{k}"] = L.get(f"sink.{k}", 0) + tail[k]
        for k in ("merge_ms_p50", "vintages_max", "table_bytes", "orphan_bytes"):
            L[f"sink.{k}"] = tail[k]
        L["sink.changes_rows"] = last.get("changes_rows", 0)
        prog = last["progress"]
        L["streaming.compactions"] = tail["compactions"]
        L["streaming.triggers"] = len(prog)
        L["streaming.add_batch_p50_ms"] = median([p["add_batch_ms"] for p in prog])
        L["streaming.trigger_overhead_p50_ms"] = median(
            [p["trigger_ms"] - p["add_batch_ms"] for p in prog]
        )
        L["streaming.read_amp"] = sum(p["input_rows"] for p in prog) / max(
            1, tail["events_in"]
        )

    def probes(self) -> None:
        """Layer probes the outer spans cannot reach, on the bulk log: scan,
        LWW reduction, skew probe, extraction of the LWW winners."""
        from mysql_syncer_spark.functions.text import with_filled_text
        from mysql_syncer_spark.operators.dedup import lww_dedup
        from mysql_syncer_spark.operators.skew import needs_salting
        from mysql_syncer_spark.sources.event_log import read_event_log

        tr, L, log = self.ctx.tracer, self.layer, self.bulk["log"]
        tr.set_enabled(True)
        t = tr.totals("replay")
        L["plans.jobs"] = t["jobs"] / max(1, t["n"])
        L["plans.stages"] = t["stages"] / max(1, t["n"])
        look, ch = tr.totals("lookup_many"), tr.totals("changes_between")
        L["sink.lookup_jobs"] = look["jobs"] / max(1, look["n"])
        L["sink.changes_jobs"] = ch["jobs"] / max(1, ch["n"])
        t = tr.totals("run_streaming_replay")
        L["streaming.jobs_per_trigger"] = (
            t["jobs"] / max(1, t["n"]) / max(1, L.get("streaming.triggers", 0))
        )

        with tr.span("read_event_log") as rec:
            self.noop(read_event_log(self.spark, log))
        L["sources.scan_s"] = rec["end"] - rec["start"]
        L["sources.scan_rows"] = self.bulk["n_events"]

        rows = (
            read_event_log(self.spark, log)
            .filter(F.col("op") != "DDL")
            .select("after.*", "file_seq", "log_pos")
        )
        key, order = ["url"], ["warc_ts", "file_seq", "log_pos"]
        with tr.span("lww_dedup") as rec:
            self.noop(lww_dedup(rows, key, order))
        L["operators.lww_s"] = rec["end"] - rec["start"]
        with tr.span("needs_salting") as rec:
            needs_salting(rows, key)
        L["operators.skew_probe_s"] = rec["end"] - rec["start"]
        # the extraction probe's input, materialized in its own span so its
        # jobs are not counted against the probe
        with tr.span("probe_input"):
            L["operators.lww_rows_in"] = rows.count()
            winners_path = self.fresh("winners")
            lww_dedup(rows, key, order).withColumn(
                "text", F.lit(None).cast("string")
            ).write.parquet(winners_path)
            winners = self.spark.read.parquet(winners_path)
            stats = winners.filter(F.col("html").isNotNull()).agg(
                F.count(F.lit(1)).alias("n"), F.sum(F.length("html")).alias("b")
            ).first()
            L["operators.lww_rows_out"] = winners.count()
        with tr.span("with_filled_text") as rec:
            self.noop(with_filled_text(winners, "html", "text"))
        L["functions.extract_s"] = rec["end"] - rec["start"]
        L["functions.extract_rows"] = stats["n"]
        L["functions.extract_bytes"] = stats["b"] or 0


class CorpusIngest(Workload):
    name = "corpus_ingest"

    def setup(self) -> None:
        from mysql_syncer_spark.sink.corpus_table import CorpusTable

        ctx = self.ctx
        t0 = time.perf_counter()
        self.docs = inputs.ensure_docs(ctx.cache, CORPUS, ctx.seed)
        warm = inputs.ensure_docs(ctx.cache, CORPUS_WARM, inputs.WARM_SEED)
        ctx.layer["setup.input_s"] = time.perf_counter() - t0
        ctx.info["cache_hit"] = {"docs": self.docs["hit"], "warm_docs": warm["hit"]}
        ctx.info["input_hash"] = {"docs": self.docs["input_hash"]}
        t0 = time.perf_counter()
        t = CorpusTable.create(self.spark, self.fresh("warm"),
                               verify_jaccard=CORPUS_JACCARD)
        for i, p in enumerate(warm["files"][:2]):
            t.apply_batch(f"b{i}", self.spark.read.parquet(p))
        # the reads warm up too: untouched, the first calls of the measured
        # unit ran up to twice as long as the last
        for _ in range(CORPUS_WARM_READS):
            t.read().filter(F.col("doc_id") < 10).select("doc_id").toArrow()
        ctx.layer["session.warm_s"] = time.perf_counter() - t0
        # after the warm-up, so that the warm-up takes the same time whether
        # the oracle is cached or computed (its Spark jobs would warm the JVM)
        t0 = time.perf_counter()
        self.oracle = inputs.ensure_corpus_oracle(
            ctx.cache, self.spark, self.docs, CORPUS_JACCARD
        )
        ctx.layer["setup.oracle_s"] = time.perf_counter() - t0
        ctx.info["cache_hit"]["oracle"] = self.oracle["hit"]
        ctx.set_tamper_key("doc_id", min(self.oracle["accepted"]))

    def unit(self) -> dict:
        from mysql_syncer_spark.sink.corpus_table import CorpusTable

        path = self.fresh("corpus")
        u = self.new_unit(path=path)
        with Stopwatch() as ingest:
            ok, table = self.call(
                "CorpusTable.create", CorpusTable.create, self.spark, path,
                verify_jaccard=CORPUS_JACCARD,
            )
            for i, p in enumerate(self.docs["files"] if ok else []):
                with Stopwatch() as sw:
                    self.call(
                        "CorpusTable.apply_batch", table.apply_batch, f"b{i}",
                        self.spark.read.parquet(p),
                    )
                u["batch_s"].append(sw.wall)
                u["batch_cpu_s"] += sw.cpu
        # the batches fill the ingest but for one create call
        u["batch_window"] = (ingest.t0, ingest.t1)
        u["created"] = ok
        if not ok:
            self.problems.append("create failed")
            return u
        u["ingests"].append(self.ingest_record(ingest))
        self.corpus_reads(table, u)
        u["space_amp"] = inputs.dir_bytes(path) / self.docs["docs_bytes"]
        return u

    def corpus_reads(self, table, u: dict) -> None:
        """Point reads by doc id and the full read of the accepted corpus,
        both checked against the oracle's accepted set."""
        accepted = set(self.oracle["accepted"])
        n = self.docs["n_docs"]
        rng = np.random.default_rng(self.ctx.seed + 17)
        for k in range(CORPUS_LOOKUPS):
            ids = [int(i) for i in rng.integers(0, n, LOOKUP_KEYS)]
            with Stopwatch() as sw:
                ok, got = self.call(
                    "CorpusTable.read", lambda: self.ctx.tamper(table.read())
                    .filter(F.col("doc_id").isin(ids)).select("doc_id")
                    .toArrow().column("doc_id").to_pylist(),
                )
            u["lookup_s"].append(sw.wall)
            u["lookup_cpu_s"] += sw.cpu
            if ok and set(got) != accepted & set(ids):
                self.problems.append(f"lookup {k}: ids differ from the oracle")
        for _ in range(CORPUS_FULL_READS):
            with Stopwatch() as sw:
                ok, got = self.call(
                    "CorpusTable.read", lambda: self.ctx.tamper(table.read())
                    .select("doc_id").toArrow().column("doc_id").to_pylist(),
                )
            u["changes_s"].append(sw.wall)
            u["changes_cpu_s"] += sw.cpu
            if ok and (len(got) != len(set(got)) or set(got) != accepted):
                self.problems.append(
                    f"corpus: {len(set(got) ^ accepted)} doc ids differ from the oracle"
                )
        m = table.manifest()
        if (m.n_docs, m.n_rejected) != (len(accepted), n - len(accepted)):
            self.problems.append(
                f"manifest counts {m.n_docs}/{m.n_rejected} != oracle "
                f"{len(accepted)}/{n - len(accepted)}"
            )

    def finish(self) -> None:
        from mysql_syncer_spark.sink.corpus_table import CorpusTable

        units = [u for u in self.units if u["created"]]
        self.e2e_common(self.docs["n_docs"], units,
                        median([u["space_amp"] for u in units]) if units else 0.0)
        if not units:
            return
        m = CorpusTable(self.spark, units[-1]["path"]).manifest()
        L = self.layer
        L["sink.corpus_batch_p50_s"] = median([x for u in units for x in u["batch_s"]])
        L["sink.corpus_accepted"] = m.n_docs
        L["sink.corpus_rejected"] = m.n_rejected

    def probes(self) -> None:
        """The dedup functions on the whole corpus: signatures, LSH
        candidate pairs, and the verified near-duplicate pipeline."""
        from mysql_syncer_spark.functions.dedup_text import (
            lsh_candidate_pairs,
            minhash_signatures,
            verified_near_duplicates,
        )

        tr, L = self.ctx.tracer, self.layer
        tr.set_enabled(True)
        t = tr.totals("CorpusTable.apply_batch")
        L["sink.corpus_jobs_per_batch"] = t["jobs"] / max(1, t["n"])
        L["sink.corpus_stages_per_batch"] = t["stages"] / max(1, t["n"])
        docs = self.spark.read.parquet(*self.docs["files"]).select("doc_id", "text")
        sig_path = self.fresh("signatures")
        with tr.span("minhash_signatures") as rec:
            minhash_signatures(docs).write.parquet(sig_path)
        L["functions.minhash_s"] = rec["end"] - rec["start"]
        with tr.span("lsh_candidate_pairs") as rec:
            L["functions.lsh_pairs"] = lsh_candidate_pairs(
                self.spark.read.parquet(sig_path)
            ).count()
        L["functions.lsh_pairs_s"] = rec["end"] - rec["start"]
        with tr.span("verified_near_duplicates") as rec:
            L["functions.verified_pairs"] = verified_near_duplicates(
                docs, threshold=CORPUS_JACCARD
            ).count()
        # the verified pipeline recomputes signatures and candidates: its
        # verify step is what it takes beyond the two spans above
        L["functions.verify_s"] = max(
            0.0,
            rec["end"] - rec["start"] - L["functions.minhash_s"]
            - L["functions.lsh_pairs_s"],
        )


WORKLOADS = {w.name: w for w in (PagesCdc, CorpusIngest)}
