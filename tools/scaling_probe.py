"""Scaling decomposition probe: which stage of the per-batch pipeline
stops scaling 1→4 cores on this host? Fresh JVM per measurement (cores
are fixed per session). Modes:

  scan      — parquet scan + decode of the html payload (bandwidth-bound)
  merge     — scan + bucket shuffle + LWW max_by aggregate (count only)
  extract   — merge + Arrow-UDF text extraction (count only)
  write     — the full delta write (merge + extract + bucketed write)
  sha2      — ALU-bound JVM baseline (the bench's ceiling probe)

Usage: python tools/scaling_probe.py <mode> <cores> <event_dir>
Prints one JSON line {mode, cores, wall_sec, cpu_sec_tree, util_of_cores}.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _tree_cpu(app_name: str) -> float:
    """CPU seconds consumed so far by the whole process tree (JVM +
    pyspark.daemon python workers + this driver). utilization =
    cpu/(wall*cores): low util at 4 cores = idle cores (serial fraction /
    scheduling); high util but long wall = the host stole cycles
    (co-tenant) — distinguishes engine from host without a quiet window."""
    tick = os.sysconf("SC_CLK_TCK")
    me = os.getpid()
    total = 0.0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                parts = f.read().rsplit(")", 1)[1].split()
            ppid = int(parts[1])
            utime, stime = int(parts[11]), int(parts[12])
            with open(f"/proc/{pid}/cmdline") as f:
                cmd = f.read()
        except (OSError, IndexError, ValueError):
            continue
        if (
            int(pid) == me
            or ppid == me
            or "pyspark.daemon" in cmd
            or app_name in cmd
        ):
            total += (utime + stime) / tick
    return total


def main() -> None:
    mode, cores, event_dir = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    from pyspark.sql import functions as F

    from mysql_syncer_spark.session import get_spark

    app = f"probe_{mode}_{cores}"
    shm = tempfile.mkdtemp(dir="/dev/shm", prefix=f"probe_{cores}_")
    spark = get_spark(
        app_name=app,
        cores=cores,
        shuffle_partitions=32,
        extra_conf={"spark.local.dir": os.path.join(shm, "tmp")},
    )
    # warmup: JIT + python workers
    spark.range(2_000_000).selectExpr("sum(id)").collect()
    if mode in ("extract", "write"):
        from mysql_syncer_spark.functions.text import with_filled_text

        wdf = spark.createDataFrame(
            [("u", b"<html><body>w</body></html>", None)],
            "url string, html binary, text string",
        )
        with_filled_text(wdf, "html", "text").collect()

    cpu0 = _tree_cpu(app)
    t0 = time.time()
    if mode == "sha2":
        spark.range(20_000_000).select(
            F.sha2(F.concat(F.lit("x"), F.col("id").cast("string")), 256).alias("h")
        ).selectExpr("max(h)").collect()
    else:
        df = spark.read.parquet(event_dir)
        if mode == "scan":
            df.select(F.sum(F.length(F.col("after.html"))).alias("s")).collect()
        else:
            from mysql_syncer_spark.plans.replay import default_pages_config
            from mysql_syncer_spark.sink.pages_table import PagesTable
            from mysql_syncer_spark.sources.event_log import read_event_log

            cfg = default_pages_config()
            ev = read_event_log(spark, event_dir)
            if mode == "write":
                path = os.path.join(shm, "pages")
                tbl = PagesTable.create(spark, path, num_buckets=64)
                cpu0 = _tree_cpu(app)
                t0 = time.time()
                tbl.apply_batch("b0", ev, cfg)
            else:
                from mysql_syncer_spark.operators.filters import op_filter
                from mysql_syncer_spark.operators.merge import batch_to_state
                from mysql_syncer_spark.operators.routing import split_row_and_ddl

                rows, _ = split_row_and_ddl(ev)
                rows = op_filter(rows)
                mapping = {
                    c: c for c in ("url", "warc_ts", "html", "text", "lang")
                }
                types = {
                    "url": "string",
                    "warc_ts": "timestamp",
                    "html": "binary",
                    "text": "string",
                    "lang": "string",
                }
                st = batch_to_state(rows, mapping, cfg.on_delete, types)
                st = st.withColumn(
                    "_bucket", F.pmod(F.xxhash64("url"), F.lit(64)).cast("int")
                )
                t = PagesTable.__new__(PagesTable)
                merged = PagesTable._bucket_merge(t, st, ["url"])
                if mode == "extract":
                    merged = with_filled_text(merged, "html", "text")
                merged.select(
                    F.count(F.lit(1)), F.sum(F.length("text"))
                ).collect()
    wall = round(time.time() - t0, 2)
    cpu = round(_tree_cpu(app) - cpu0, 2)
    print(
        json.dumps(
            {
                "mode": mode,
                "cores": cores,
                "wall_sec": wall,
                "cpu_sec_tree": cpu,
                "util_of_cores": round(cpu / (wall * cores), 3),
            }
        )
    )
    spark.stop()
    import shutil

    shutil.rmtree(shm, ignore_errors=True)


if __name__ == "__main__":
    main()
