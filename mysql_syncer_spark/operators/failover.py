"""Multi-source failover merge: dedup overlapping GTID-framed binlog
archives from a primary and its promoted replica(s).

The real-world shape: a MySQL primary dies mid-file; a replica is
promoted and serves from its OWN binlog files (different file numbering
and byte positions) while GTID replication guarantees every transaction
keeps its ``uuid:gno`` identity across servers. A consumer recovering
from archives of BOTH servers sees the overlap window twice — same
transactions, different ``(file_seq, log_pos)`` framing — and must apply
each transaction exactly once, in commit (gno) order.

The reference has no GTID layer (file+position offsets only,
/root/reference/etc/slave.info:1, rs_slave_info.c:118-134), so a
reference deployment cannot survive this scenario without manual offset
surgery; this operator is the GTID-era upgrade of its resume semantics
(S3), built on the GTID framing sources/binlog_file.py already encodes
and scans.

Spark-first plan (100 TB shape): transactions are ATOMIC copies — the
merge picks ONE SOURCE PER GTID (never mixes rows of two copies), via a
``groupBy(gtid).agg(min(priority))`` partial-aggregated shuffle plus one
equi-join back on ``(gtid, priority)``; both stages key on gtid, no
window over the full stream, no all-pairs work. Commit order is
recovered from the gno itself (``commit_seq``), so downstream LWW
ordering is independent of either server's private file numbering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_gtid_streams(
    envs: list[DataFrame], priorities: list[int] | None = None
) -> DataFrame:
    """Union N wire envelopes (read with ``include_gtid=True``) into one
    exactly-once stream: each GTID's transaction is kept from the single
    highest-priority source that has it (lower number = preferred, index
    order by default — put the primary first).

    Output = the envelope columns + ``gtid`` + ``commit_seq`` (the gno,
    the cross-server commit order) + ``src_priority`` (which source won
    — lineage for the merge decision). Rows with a NULL gtid (a log
    without GTID framing) cannot be deduplicated across sources and are
    kept only from the highest-priority source that emits them, which is
    correct for the degenerate single-source case and loudly documented
    here for the rest."""
    if priorities is None:
        priorities = list(range(len(envs)))
    if len(priorities) != len(envs):
        raise ValueError("one priority per source")
    tagged = [
        env.withColumn("src_priority", F.lit(int(pr)))
        for env, pr in zip(envs, priorities)
    ]
    u = tagged[0]
    for t in tagged[1:]:
        u = u.unionByName(t)
    # one partial-agg shuffle keyed on gtid picks the winning source...
    pick = (
        u.filter(F.col("gtid").isNotNull())
        .groupBy("gtid")
        .agg(F.min("src_priority").alias("src_priority"))
    )
    # ...and one equi-join keeps exactly that copy's rows (whole tx)
    gtid_rows = u.filter(F.col("gtid").isNotNull()).join(
        pick, on=["gtid", "src_priority"], how="inner"
    )
    null_rows = u.filter(F.col("gtid").isNull()).filter(
        F.col("src_priority") == min(priorities)
    )
    merged = gtid_rows.unionByName(null_rows)
    return merged.withColumn(
        "commit_seq",
        F.split(F.col("gtid"), ":").getItem(1).cast("long"),
    )


def replay_failover(
    spark,
    bin_dirs: list[str],
    table_path: str,
    tables: tuple[str, ...] | None = None,
    cfg=None,
    num_buckets: int = 64,
) -> dict:
    """End-to-end recovery replay from overlapping binlog archives:
    read each server's raw ``mysql-bin.NNNNNN`` files (GTID framing
    required), merge exactly-once by GTID, and apply ONE LWW batch in
    commit order — ``file_seq`` is remapped to ``commit_seq`` so the
    engine's ``(warc_ts, file_seq, log_pos)`` ordering becomes
    ``(warc_ts, gno, in-tx position)``, the cross-server total order
    (either server's private file numbering would interleave wrongly).

    A recovery merge is a one-shot batch (the overlap window is bounded
    by the failover), so a single apply_batch is the honest cadence;
    resuming the live tail afterwards is the ordinary streaming path."""
    from ..sink.pages_table import PagesTable
    from ..sources.binlog_file import read_binlog_files
    from ..sources.wire_log import decode_wire_events

    envs = [
        read_binlog_files(spark, d, tables=tables, include_gtid=True)
        for d in bin_dirs
    ]
    merged = merge_gtid_streams(envs)
    env = merged.select(
        "log_pos",
        F.col("commit_seq").cast("int").alias("file_seq"),
        "server_id",
        "op",
        "table",
        "tx_id",
        "rows_event",
        "query",
    )
    events = decode_wire_events(env)
    table = PagesTable.open(spark, table_path, num_buckets)
    if cfg is None:
        from ..plans.replay import default_pages_config

        cfg = default_pages_config()
    res = table.apply_batch(
        batch_id="failover-merge", events=events, cfg=cfg
    )
    return {"batches": 1, "results": [res], "table_path": table_path}
