"""One benchmark run: environment, Spark session, set-up, the timed phase,
the oracle check and the result line.

Everything a run writes lives under ``.perfbench_work/`` at the checkout
root: the input cache (kept between runs), a per-run scratch directory for
tables, checkpoints, Spark local dirs and temp files (deleted at the end),
and the traces of traced runs.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

from perfbench import stats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")



def metric_specs() -> tuple[list[tuple[str, str]], list[tuple[str, str]]]:
    """(name, unit) of the end-to-end and the per-layer metrics, as
    BENCHMARK.json at the checkout root defines them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return tuple(
        [(m["name"], m["unit"]) for m in spec[kind]] for kind in ("end_to_end", "per_layer")
    )


class Ctx:
    """State of one run, passed to the workload."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool,
                 tamper: bool = False):
        from perfbench.inputs import Cache

        self.workload, self.seed, self.seconds, self.trace = (
            workload, seed, seconds, trace,
        )
        self.run_id = uuid.uuid4().hex[:10]
        self.cache = Cache(os.path.join(WORK, "cache"))
        self.run_dir = os.path.join(WORK, "runs", self.run_id)
        self.cores = len(os.sched_getaffinity(0))
        self.heap_mb = stats.heap_mb(stats.mem_total_mb())
        self.layer: dict[str, float] = {}
        self.info: dict = {"workload": workload, "seed": seed, "trace": int(trace),
                           "run_id": self.run_id, "cache_hit": {}}
        self.n_paths = 0
        # runs through set-up and the measured units: set-up time and CPU
        # figures are multiplied by its factor over their own seconds, to
        # give reference-host seconds
        self.probe = stats.SpeedProbe()
        self.spark = self.tracer = self.listener = None
        self.outcomes = stats.Outcomes()
        self._tamper = tamper
        self._tamper_key = None

    # -- environment ----------------------------------------------------
    def start_spark(self) -> None:
        tmp = os.path.join(self.run_dir, "tmp")
        local = os.path.join(self.run_dir, "spark-local")
        os.makedirs(tmp)
        os.makedirs(local)
        # temp files of the driver, the JVM and the Python workers stay in
        # the run directory
        os.environ.update(
            TMPDIR=tmp,
            SPARK_LOCAL_DIRS=local,
            # the JVM that spark-submit runs to build the driver's command
            SPARK_LAUNCHER_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            SPARK_DRIVER_MEM=f"{self.heap_mb}m",
            PYSPARK_PYTHON=sys.executable,
        )
        os.environ.pop("PYSPARK_DRIVER_PYTHON", None)
        from mysql_syncer_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            cores=self.cores,
            extra_conf={
                "spark.local.dir": local,
                # a fixed heap size: lazy heap growth made peak RSS vary
                # by a third between runs of the same input; JIT compiler
                # threads that live as long as the JVM, so that their CPU
                # can be read per thread (stats.jit_cpu_s)
                "spark.driver.extraJavaOptions":
                    f"-Xms{self.heap_mb}m -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                    " -XX:-UseDynamicNumberOfCompilerThreads",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.layer["session.jvm_s"] = time.perf_counter() - t0
        conf = self.spark.conf
        self.info.update(
            cores=self.cores,
            heap_mb=self.heap_mb,
            shuffle_partitions=int(conf.get("spark.sql.shuffle.partitions")),
            master=self.spark.sparkContext.master,
        )
        from perfbench.trace import BatchListener, Tracer

        self.tracer = Tracer(self.spark, self.run_id)
        self.listener = BatchListener()
        # jobs a streaming query runs under its own run-id group
        self.tracer.extra_groups = self.listener.run_ids
        self.spark.streams.addListener(self.listener)

    def stop_spark(self) -> None:
        """Stop Spark, then the JVM, then anything still below us; wait for
        each to end."""
        from pyspark import SparkContext

        if self.spark is not None:
            try:
                self.spark.streams.removeListener(self.listener)
            finally:
                self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        reap_descendants()

    # -- inputs ---------------------------------------------------------
    def pages_input(self, shape: dict, label: str, warm: bool = False) -> dict:
        """A generated change log; a measured one comes with its oracle."""
        from perfbench import inputs

        seed = inputs.WARM_SEED if warm else self.seed
        t0 = time.perf_counter()
        out = inputs.ensure_pages_log(self.cache, shape, seed, oracle=not warm)
        wall = time.perf_counter() - t0
        # a hit costs only the cache read; a miss splits into generation
        # and oracle time
        self.layer["setup.input_s"] = (
            self.layer.get("setup.input_s", 0.0) + wall - out["oracle_s"]
        )
        self.layer["setup.oracle_s"] = (
            self.layer.get("setup.oracle_s", 0.0) + out["oracle_s"]
        )
        self.info["cache_hit"][label] = out["hit"]
        self.info.setdefault("input_hash", {})[label] = out["input_hash"]
        if not warm:
            self._tamper_key = ("url", min(out["oracle"]["digests"]))
        return out

    def set_tamper_key(self, column: str, value) -> None:
        self._tamper_key = (column, value)

    def tamper(self, df):
        """With --tamper, corrupt one row of what the check reads (the
        table's smallest live key): the run must then report correct=false.
        Without it, the identity."""
        if not self._tamper or self._tamper_key is None:
            return df
        from pyspark.sql import functions as F

        col, val = self._tamper_key
        if col not in df.columns:
            return df
        if "lang" in df.columns:
            return df.withColumn(
                "lang",
                F.when(F.col(col) == F.lit(val), F.lit("tampered"))
                .otherwise(F.col("lang")),
            )
        return df.filter(F.col(col) != F.lit(val))


def reap_descendants(timeout: float = 20.0) -> None:
    """TERM, then KILL, every process below this one, and wait until /proc
    shows none left."""
    me = os.getpid()
    deadline = time.time() + timeout
    sig = signal.SIGTERM
    while True:
        pids = [p for p in stats.tree_pids(me) if p != me]
        if not pids:
            return
        if time.time() > deadline:
            if sig == signal.SIGKILL:
                raise RuntimeError(f"processes {pids} did not exit")
            sig, deadline = signal.SIGKILL, time.time() + timeout
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        for p in pids:
            try:  # reap direct children; others vanish from /proc alone
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.2)


def run(workload: str, seed: int, seconds: int, trace: bool, t_start: float,
        tamper: bool = False) -> tuple[dict, dict]:
    """Run one workload. ``t_start`` is the process start (perf_counter);
    set-up time is measured from it. Returns (result, info)."""
    from perfbench.workloads import WORKLOADS

    ctx = Ctx(workload, seed, seconds, trace, tamper)
    os.makedirs(ctx.run_dir)
    setup_s = cpu_s = wall = 0.0
    try:
        with stats.RssSampler() as rss, ctx.probe:
            try:
                ctx.start_spark()
                wl = WORKLOADS[workload](ctx)
                try:
                    wl.setup()
                    # building a missing cache entry (generation, oracle) is
                    # not the engine's set-up: it is kept out, so that runs
                    # with and without a warm cache compare
                    t0 = time.perf_counter()
                    setup_wall = t0 - t_start - ctx.cache.build_s
                    setup_s = setup_wall * ctx.probe.factor(t_start, t0)
                    cpu0 = stats.tree_cpu_s()
                    wl.measure()
                    cpu_s, wall = stats.tree_cpu_s() - cpu0, time.perf_counter() - t0
                    ctx.probe.stop()
                    kernel_s = [k for _, k in ctx.probe.samples]
                    ctx.info["speed"] = {
                        "setup_factor": ctx.probe.factor(t_start, t0),
                        "factor": ctx.probe.factor(), "kernel_samples": len(kernel_s),
                        "kernel_quartiles_s": stats.quartiles(kernel_s),
                    }
                    ctx.info["setup_wall_s"] = setup_wall
                    wl.finish()
                    if trace:
                        wl.layer["trace.overhead_s"] = ctx.tracer.overhead_s
                        wl.probes()
                except Exception as e:
                    # an error outside the counted engine calls ends the
                    # run, which still reports, as a failed one
                    ctx.outcomes.record_failure(e)
                    wl.problems.append(f"run aborted: {type(e).__name__}: {e}"[:500])
            finally:
                if ctx.spark is not None and ctx.tracer.spans:
                    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
                    path = os.path.join(
                        WORK, "traces", f"{workload}-s{seed}-{ctx.run_id}.jsonl"
                    )
                    ctx.tracer.write(path)
                    ctx.info["trace_file"] = os.path.relpath(path, ROOT)
                ctx.stop_spark()
    finally:
        shutil.rmtree(ctx.run_dir, ignore_errors=True)
    return report(ctx, wl, setup_s, cpu_s, wall, rss.peak_mb)


def report(ctx, wl, setup_s: float, cpu_s: float, wall: float,
           peak_rss_mb: float) -> tuple[dict, dict]:
    """The result line and the context line of a finished run. A metric
    the run could not measure reads 0; such a run is never correct."""
    out = ctx.outcomes
    layer = {**ctx.layer, **wl.layer}
    layer["proc.cpu_s"] = cpu_s
    layer["proc.cpu_util"] = cpu_s / (wall * ctx.cores) if wall else 0.0
    e2e = dict(wl.e2e)
    e2e["setup_s"] = setup_s
    e2e["peak_rss_mb"] = peak_rss_mb
    e2e["ok_ratio"] = (out.attempted - out.failed) / out.attempted if out.attempted else 0.0
    end_to_end, per_layer = metric_specs()
    source = layer if ctx.trace else e2e
    metrics = {
        name: {"value": float(source.get(name, 0.0)), "unit": unit}
        for name, unit in (per_layer if ctx.trace else end_to_end)
    }
    ctx.info.update(
        setup={k: layer.get(k, 0.0) for k in (
            "session.jvm_s", "session.warm_s", "setup.input_s", "setup.oracle_s")},
        cache_build_s=ctx.cache.build_s,
        fail_ratio=out.fail_ratio,
        problems=wl.problems[:20],
        errors=out.errors[:5],
        units=[
            {k: v for k, v in u.items() if not k.endswith("path")}
            for u in wl.units
        ],
    )
    result = {
        "correct": not wl.problems and out.failed == 0 and out.attempted > 0,
        "attempted": max(1, out.attempted),
        "failed": out.failed,
        "metrics": metrics,
    }
    return result, ctx.info
