"""spark-submit entry point for the CDC replay job.

Cluster usage (the north-rule deployment shape):

    python tools/package.py                       # builds dist/mysql_syncer_spark.zip
    spark-submit --py-files dist/mysql_syncer_spark.zip \
        tools/submit_replay.py \
        --events /path/to/event-log --table /path/to/pages \
        [--buckets 4096] [--streaming --checkpoint /path/ckpt]

In local sandbox testing the same command runs under local[N]; on a real
cluster add --master/--deploy-mode and executor sizing. The job itself is
identical — the engine has no local-mode assumptions (all state lives in
the table dir / checkpoint dir, which would be object-store paths).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--events", required=True)
    p.add_argument("--table", required=True)
    p.add_argument("--buckets", type=int, default=64)
    p.add_argument("--streaming", action="store_true")
    p.add_argument("--checkpoint", default=None)
    p.add_argument("--on-delete", choices=["delete", "ignore"], default="delete")
    args = p.parse_args()

    # Under spark-submit the session is provided/configured externally;
    # getOrCreate picks it up instead of building a new local one.
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("cdc_replay").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from mysql_syncer_spark.config import TableConfig
    from mysql_syncer_spark.functions.text import fill_text_arrow
    from mysql_syncer_spark.plans.replay import replay

    cfg = TableConfig(
        name="web.pages",
        on_delete=args.on_delete,
        transform=fill_text_arrow,
    )

    if args.streaming:
        if not args.checkpoint:
            raise SystemExit("--streaming requires --checkpoint")
        from mysql_syncer_spark.streaming.runner import run_streaming_replay

        res = run_streaming_replay(
            spark, args.events, args.table, args.checkpoint, cfg, args.buckets
        )
        print(json.dumps({"mode": "streaming", "n_commits": res["n_commits"]}))
    else:
        res = replay(spark, args.events, args.table, cfg, num_buckets=args.buckets)
        print(
            json.dumps(
                {
                    "mode": "batch",
                    "n_batches": res["n_batches"],
                    "events_applied": res["events_applied"],
                }
            )
        )
    spark.stop()


if __name__ == "__main__":
    main()
