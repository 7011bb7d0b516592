"""Streaming replay runner (SURVEY §2.1 S1/S3, M6).

The reference's live tail is inotify+select on the binlog + a dump loop
(/root/reference/src/master/rs_read_binlog.c:77-208); its offset file is
slave.info (/root/reference/src/slave/rs_slave_info.c:118-134). Spark-first
equivalent:

- ``readStream`` over the event-log dir — micro-batch trigger replaces the
  1 s EOF poll (RS_BINLOG_EOF_WAIT_SEC); new binlog files are discovered
  incrementally (rotation S2 is free).
- the streaming ``checkpointLocation`` is the offset file — resume after a
  kill re-delivers the in-flight batch with the SAME batchId, and the
  table's ledger makes the re-delivery a no-op → exactly-once END TO END
  (source offsets checkpointed + idempotent sink commit).
- ``Trigger.AvailableNow`` = bounded replay (catch-up then stop);
  ``processingTime`` = continuous tail.
"""

from __future__ import annotations

import json
import os
from urllib.parse import unquote, urlparse

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..config import TableConfig
from ..sink.pages_table import PagesTable
from ..sources.event_log import stream_event_log


def batch_source_files(checkpoint_dir: str, batch_id: int) -> list[str]:
    """The input files of trigger ``batch_id``, read from the
    FileStreamSource metadata log of the query checkpointed at
    ``checkpoint_dir`` — a driver-side file read, no Spark job. The
    batch's entries are in ``sources/0/<batchId>``, or, once the log has
    rolled up, among the entries of ``sources/0/<batchId>.compact`` (each
    entry carries its batchId). Entries are URIs, so ``file:`` paths are
    decoded with ``urlparse`` + ``unquote`` (a space is ``%20`` there);
    other schemes are returned as written.

    Reading only ``sources/0`` is correct because the runner uses footer
    DDLs only when it built the query's one source itself (no ``source``
    or ``transform`` argument): a query with a single source checkpoints
    it as source 0."""
    d = os.path.join(checkpoint_dir, "sources", "0")
    out: list[str] = []
    for fn in (str(batch_id), f"{batch_id}.compact"):
        p = os.path.join(d, fn)
        if not os.path.exists(p):
            continue
        with open(p) as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue  # the log's version header
                e = json.loads(line)
                if fn.endswith(".compact") and e.get("batchId") != batch_id:
                    continue
                u = urlparse(e.get("path", ""))
                out.append(
                    unquote(u.path) if u.scheme in ("", "file") else e["path"]
                )
        break
    return out


def start_streaming_replay(
    spark: SparkSession,
    event_dir: str,
    table_path: str,
    checkpoint_dir: str,
    cfg: TableConfig | None = None,
    num_buckets: int = 64,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
    processing_time: str = "1 second",
    transform=None,
    source=None,
    partial: bool = False,
    progress_log: bool = False,
) -> StreamingQuery:
    """Start (or resume from checkpoint) the streaming replay query.

    ``progress_log=True`` registers a ``ProgressLogListener`` (D5): every
    micro-batch's source offsets / row counts / trigger latency append to
    ``<table>/_metrics/stream_progress.jsonl``. The listener object is
    exposed as ``query._msss_listener`` so a caller can
    ``spark.streams.removeListener`` it when the tail stops.

    ``transform`` (DataFrame -> DataFrame, optional) runs on the source
    stream before the sink — e.g. ``sources.wire_log.decode_wire_events``
    to tail a wire-format log of real ROWS_EVENT blobs.

    ``source`` (streaming DataFrame, optional) replaces the typed
    event-log source — e.g. ``sources.binlog_file.stream_binlog_files``
    to tail RAW binlog file bytes (``event_dir`` is then ignored).

    ``partial=True`` tails a ``binlog_row_image=MINIMAL`` stream: each
    micro-batch not yet in the ledger is enriched to full images by
    ``operators.partial.partial_events`` (column-level fold +
    touched-bucket enrichment) and then takes the full-image path: the
    same probe carry, exactly-once sink commit and maintenance-thread
    compaction — checkpointed batchIds stay the ledger keys, so
    kill/resume semantics are identical to the full-image tail."""
    if cfg is None:
        from ..plans.replay import default_pages_config

        cfg = default_pages_config()
    table = PagesTable.open(spark, table_path, num_buckets)
    # only the first trigger that is not skipped runs the keys-only probe
    # (as in the replay loop, PagesTable.apply_batches)
    probe = True
    # threshold compaction runs on a maintenance thread and commits
    # between micro-batches — the trigger never pays the table-sized fold
    # (the cause of the round-5 p95 spikes: a fold landing INSIDE a
    # micro-batch tripled its latency)
    compactor = table.async_compactor()

    def _footer_ddls(batch_id: int) -> list | None:
        """Micro-batch DDL rows from the source files' parquet footers —
        skips the per-batch DDL collect job entirely when every file in
        the trigger carries the writer's ``msss.ddl`` index (same filters
        as the scan path; foreign logs return None and fall back)."""
        from ..plans.replay import _BINLOG_RE, ddl_rows_from_footers

        try:
            files = batch_source_files(checkpoint_dir, batch_id)
        except Exception:
            return None
        if not files or not all(_BINLOG_RE.search(f) for f in files):
            return None
        return ddl_rows_from_footers(files, cfg.name)

    def apply(batch_df, batch_id: int) -> None:
        nonlocal probe
        # batchId is stable across checkpointed restarts → the ledger key.
        bid = f"stream-{batch_id}"
        if partial:
            from ..operators.partial import partial_events

            if table._is_committed(table.manifest(), bid):
                return  # a redelivered trigger runs no enrichment job
            events, ddls = partial_events(table, batch_df, cfg), []
        elif transform is not None or source is not None:
            events, ddls = batch_df, None
        else:
            events, ddls = batch_df, _footer_ddls(batch_id)
        res = table.apply_batch(
            bid, events, cfg, probe=probe, ddls=ddls, inline_compact=False
        )
        if not res.get("skipped"):
            probe = False
            compactor.tick()

    stream = (
        source
        if source is not None
        else stream_event_log(spark, event_dir, max_files_per_trigger)
    )
    if transform is not None:
        stream = transform(stream)
    writer = (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("cdc_replay")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    listener = None
    if progress_log:
        from .listener import ProgressLogListener

        listener = ProgressLogListener(
            os.path.join(table_path, "_metrics"), query_name="cdc_replay"
        )
        spark.streams.addListener(listener)
    q = writer.start()
    q._msss_listener = listener
    # callers that stop the query directly should drain this (a pending
    # fold is committed; a never-drained one only leaves vacuumable
    # orphans) — run_streaming_replay does it automatically
    q._msss_compactor = compactor
    return q


def run_streaming_replay(
    spark: SparkSession,
    event_dir: str,
    table_path: str,
    checkpoint_dir: str,
    cfg: TableConfig | None = None,
    num_buckets: int = 64,
    max_files_per_trigger: int = 1,
    timeout_sec: float | None = None,
    transform=None,
    source=None,
    partial: bool = False,
    progress_log: bool = False,
) -> dict:
    """Bounded replay: process everything available, then stop."""
    q = start_streaming_replay(
        spark,
        event_dir,
        table_path,
        checkpoint_dir,
        cfg,
        num_buckets,
        max_files_per_trigger,
        available_now=True,
        transform=transform,
        source=source,
        partial=partial,
        progress_log=progress_log,
    )
    q.awaitTermination(timeout_sec)
    if q.isActive:
        q.stop()
    if getattr(q, "_msss_compactor", None) is not None:
        q._msss_compactor.close()
    if q._msss_listener is not None:
        # the listener bus is async but ORDERED: once this query's
        # terminated event lands in the log, every progress line before
        # it has been flushed — safe to deregister without losing the
        # final micro-batch's row
        import time as _time

        from .listener import read_progress_log

        mdir = os.path.join(table_path, "_metrics")
        qid = str(q.id)
        deadline = _time.time() + 15
        while _time.time() < deadline:
            if any(
                r.get("event") == "terminated" and r.get("id") == qid
                for r in read_progress_log(mdir)
            ):
                break
            _time.sleep(0.1)
        spark.streams.removeListener(q._msss_listener)
    table = PagesTable(spark, table_path)
    return {
        "table_path": table_path,
        "n_commits": table.n_committed(),
        "last_progress": q.lastProgress,
    }
