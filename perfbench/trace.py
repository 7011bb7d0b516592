"""Spans around the benchmark's calls into the engine, and the report that
turns them into per-layer self time.

A span records name, start, end, parent and run id. Spark jobs are
attributed to the innermost open span through a job group the tracer sets
on the calling thread; jobs the engine starts on its own threads carry no
group (or a streaming query's run id) and go to the span that is open when
they are first seen. Spans stay in memory and are written as JSON lines
when the run ends.

Report:  python3 perfbench/trace.py <trace.jsonl> [...]
"""

from __future__ import annotations

import itertools
import json
import sys
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self.extra_groups: list[str] = []  # e.g. streaming query run ids
        self._stack: list[int] = []
        self._ids = itertools.count(1)
        self._claimed: set[int] = set()
        # wall time the tracer's own bookkeeping added to traced spans
        self.overhead_s = 0.0

    def set_enabled(self, on: bool) -> None:
        """Turn spans on or off. Jobs that ran while spans were off belong
        to no span: turning them on sets those aside."""
        if on and not self.enabled:
            self._claim([])
        self.enabled = on

    @contextmanager
    def span(self, name: str):
        """Time a block. Yields the span record."""
        rec = {"run": self.run_id, "name": name}
        if not self.enabled:
            yield rec
            return
        t_book = time.perf_counter()
        sid = next(self._ids)
        rec.update(id=sid, parent=self._stack[-1] if self._stack else None)
        group = f"perfbench-{self.run_id}-{sid}"
        self.sc.setJobGroup(group, name)
        self._stack.append(sid)
        rec["start"] = time.time()
        self.overhead_s += time.perf_counter() - t_book
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            t_book = time.perf_counter()
            self._stack.pop()
            jobs = self._claim([group, *self.extra_groups])
            rec["jobs"], rec["stages"] = len(jobs), self._stages(jobs)
            self.spans.append(rec)
            if self._stack:
                self.sc.setJobGroup(
                    f"perfbench-{self.run_id}-{self._stack[-1]}", "parent"
                )
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += time.perf_counter() - t_book

    def _claim(self, groups: list[str]) -> list[int]:
        st = self.sc.statusTracker()
        ids = set(st.getJobIdsForGroup(None))
        for g in groups:
            ids |= set(st.getJobIdsForGroup(g))
        new = sorted(ids - self._claimed)
        self._claimed |= set(new)
        return new

    def _stages(self, jobs: list[int]) -> int:
        st = self.sc.statusTracker()
        n = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                n += len(info.stageIds)
        return n

    def totals(self, name: str) -> dict:
        """Summed duration, jobs and stages (self plus descendants) of every
        span called ``name``."""
        kids: dict = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s)

        def subtree(s):
            jobs, stages = s["jobs"], s["stages"]
            for c in kids.get(s["id"], []):
                j, g = subtree(c)
                jobs, stages = jobs + j, stages + g
            return jobs, stages

        out = {"n": 0, "seconds": 0.0, "jobs": 0, "stages": 0}
        for s in self.spans:
            if s["name"] == name:
                j, g = subtree(s)
                out["n"] += 1
                out["seconds"] += s["end"] - s["start"]
                out["jobs"] += j
                out["stages"] += g
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, sort_keys=True) + "\n")


class BatchListener(StreamingQueryListener):
    """Collects each micro-batch's progress: trigger and addBatch duration,
    input rows. Also remembers the run ids of the queries it saw, so the
    tracer can claim the jobs Spark runs under them."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self.run_ids: list[str] = []
        self.terminated: set[str] = set()

    def onQueryStarted(self, event) -> None:
        self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        # the process tree's CPU (stats.work_cpu_s) as the progress of a
        # trigger arrives, a few milliseconds after the trigger ended: the
        # CPU of a run of triggers is the difference of two readings
        from perfbench.stats import work_cpu_s  # trace.py also runs as a script

        cpu_s, t = work_cpu_s()[0], time.perf_counter()
        p = event.progress
        d = p.durationMs or {}
        self.progress.append(
            {
                "run_id": str(p.runId),
                "batch_id": p.batchId,
                "trigger_ms": d.get("triggerExecution"),
                "add_batch_ms": d.get("addBatch"),
                "input_rows": p.numInputRows,
                "cpu_s": cpu_s,
                "t": t,
            }
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        self.terminated.add(str(event.runId))

    def wait_terminated(self, run_id: str, timeout: float = 15.0) -> None:
        """The listener bus is asynchronous but ordered: once a query's
        terminated event arrived, all its progress events have too."""
        deadline = time.time() + timeout
        while run_id not in self.terminated and time.time() < deadline:
            time.sleep(0.05)


def self_times(spans: list[dict]) -> dict[str, dict]:
    """Per span name: count, total seconds, self seconds (duration minus
    the part of its interval that child spans cover), jobs and stages."""
    kids: dict = {}
    for s in spans:
        kids.setdefault((s["run"], s.get("parent")), []).append(s)
    out: dict[str, dict] = {}
    for s in spans:
        dur = s["end"] - s["start"]
        ivs = sorted(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in kids.get((s["run"], s["id"]), [])
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivs:
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        r = out.setdefault(
            s["name"], {"n": 0, "total_s": 0.0, "self_s": 0.0, "jobs": 0, "stages": 0}
        )
        r["n"] += 1
        r["total_s"] += dur
        r["self_s"] += max(0.0, dur - covered)
        r["jobs"] += s.get("jobs", 0)
        r["stages"] += s.get("stages", 0)
    return out


def main(paths: list[str]) -> int:
    if not paths:
        print(__doc__.strip().splitlines()[-1], file=sys.stderr)
        return 2
    spans = []
    for p in paths:
        with open(p) as f:
            spans.extend(json.loads(line) for line in f if line.strip())
    rows = sorted(self_times(spans).items(), key=lambda kv: -kv[1]["self_s"])
    print(f"{'span':34} {'n':>4} {'total_s':>9} {'self_s':>9} {'jobs':>6} {'stages':>7}")
    for name, r in rows:
        print(
            f"{name:34} {r['n']:>4} {r['total_s']:>9.3f} {r['self_s']:>9.3f} "
            f"{r['jobs']:>6} {r['stages']:>7}"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
