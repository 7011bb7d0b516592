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
from ..plans.replay import _BINLOG_RE, ddl_rows_from_footers, default_pages_config
from ..sink.pages_table import AsyncCompactor, PagesTable
from ..sources.event_log import stream_event_log


def _log_entries(path: str):
    """(batchId, input file) of each entry of one FileStreamSource log
    file. Entries are URIs, so ``file:`` paths are decoded with
    ``urlparse`` + ``unquote`` (a space is ``%20`` there); other schemes
    are returned as written."""
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line.startswith("{"):
                continue  # the log's version header
            e = json.loads(line)
            u = urlparse(e.get("path", ""))
            yield e.get("batchId"), (
                unquote(u.path) if u.scheme in ("", "file") else e["path"]
            )


def batch_source_files(checkpoint_dir: str, batch_id: int) -> list[str]:
    """The input files of trigger ``batch_id``, read from the
    FileStreamSource metadata log of the query checkpointed at
    ``checkpoint_dir`` — a driver-side file read, no Spark job. The
    batch's entries are in ``sources/0/<batchId>``, or, once the log has
    rolled up, among the entries of ``sources/0/<batchId>.compact`` (each
    entry carries its batchId).

    Reading only ``sources/0`` is correct because the runner uses footer
    DDLs only when it built the query's one source itself (no ``source``
    or ``transform`` argument): a query with a single source checkpoints
    it as source 0."""
    d = os.path.join(checkpoint_dir, "sources", "0")
    p = os.path.join(d, str(batch_id))
    if os.path.exists(p):
        return [f for _, f in _log_entries(p)]
    p += ".compact"
    if os.path.exists(p):
        return [f for b, f in _log_entries(p) if b == batch_id]
    return []


def _source_log_files(checkpoint_dir: str, below: int) -> list[str]:
    """Every input file of the triggers before ``below``, from all of the
    checkpoint's ``sources/0`` log files (plain and ``.compact``)."""
    d = os.path.join(checkpoint_dir, "sources", "0")
    if not os.path.isdir(d):
        return []
    out: set[str] = set()
    for fn in os.listdir(d):
        head = fn.split(".")[0]
        if not head.isdigit():
            continue
        for b, f in _log_entries(os.path.join(d, fn)):
            if (int(head) if b is None else b) < below:
                out.add(f)
    return sorted(out)


class _FooterDdls:
    """Each trigger's DDL rows from binlog footers, applied in binlog-seq
    order whatever order the file source delivers the files in.

    The file source orders files by modification time, and files whose
    mtimes tie (a coarse file-system clock, or a rotation within one
    tick) come in listing order, so ``binlog-5`` can arrive before
    ``binlog-4``. LWW ranks rows by (ts, file, pos), so rows land right in
    any order; DDL must not: if file 4 adds a column and file 5's rows
    are applied first, their values for it are lost. So a trigger whose
    highest seq is ``s`` applies the DDL of every binlog file in the
    directory with a seq above the highest seq delivered so far, up to
    ``s`` — the DDL of a file the source has not delivered yet goes in
    ahead of its rows, which is safe: ADD, RENAME and WIDEN change target
    columns, never wire names, so the rows map as they would have.

    A late file (seq below the highest delivered) therefore brings no
    DDL. ``for_trigger`` raises before anything is written when one
    brings DDL that is not yet in effect (the file appeared only after a
    later file was applied, whose rows then missed that DDL) or when a
    later applied file dropped a column (its rows could land in a
    re-added column of the same name)."""

    def __init__(self, event_dir: str, table_name: str, max_seq: int):
        self._dir, self._name = event_dir, table_name
        self.max_seq = max_seq
        self._rows: dict[str, list[dict] | None] = {}  # footer cache

    def _by_seq(self, paths) -> dict[int, list[dict]] | None:
        """binlog seq -> footer DDL rows for the table; None when a file is
        not a ``binlog-<seq>`` file carrying the footer index."""
        out: dict[int, list[dict]] = {}
        for p in paths:
            m = _BINLOG_RE.search(p)
            if m is None:
                return None
            if p not in self._rows:
                self._rows[p] = ddl_rows_from_footers([p], self._name)
            if self._rows[p] is None:
                return None
            out[int(m.group(1))] = self._rows[p]
        return out

    def for_trigger(self, batch_id: int, files: list[str], table) -> list | None:
        """The DDL rows to apply with the trigger delivering ``files``, or
        None when its files do not all carry the footer index."""
        got = self._by_seq(files) if files else None
        if got is None:
            return None
        listing = {}
        for fn in os.listdir(self._dir):
            m = _BINLOG_RE.search(fn)
            if m:
                listing[int(m.group(1))] = os.path.join(self._dir, fn)
        hi = max(got)
        span = self._by_seq(
            [p for x, p in listing.items() if self.max_seq < x <= hi]
        )
        if span is None:
            return None
        span.update({x: rows for x, rows in got.items() if x > self.max_seq})
        late = sorted(x for x in got if x < self.max_seq)
        if late:
            m = table.manifest()
            before = m.to_json()
            for x in late:
                for d in got[x]:
                    table._apply_ddl(m, d)
            after = self._by_seq(
                [listing[x] for x in listing if late[0] < x <= self.max_seq]
            ) or {}
            if m.to_json() != before or any(
                d.get("kind") == "drop_column" for rows in after.values() for d in rows
            ):
                raise RuntimeError(
                    f"trigger {batch_id} delivers binlog seq(s) {late} after seq "
                    f"{self.max_seq} was applied, and their DDL is not in "
                    "effect or a later file dropped a column: applying them "
                    "would map rows under the wrong schema"
                )
        self.max_seq = max(self.max_seq, hi)
        return [d for x in sorted(span) for d in span[x]]


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
        cfg = default_pages_config()
    table = PagesTable.open(spark, table_path, num_buckets)
    # only the first trigger that is not skipped runs the keys-only probe
    # (as in the replay loop, PagesTable.apply_batches)
    probe = True
    # threshold compaction runs on a maintenance thread and commits
    # between micro-batches — the trigger never pays the table-sized fold
    # (the cause of the round-5 p95 spikes: a fold landing INSIDE a
    # micro-batch tripled its latency)
    compactor = AsyncCompactor(table)

    footer: _FooterDdls | None = None  # seeded from the checkpoint once

    def _footer_ddls(batch_id: int) -> list | None:
        """Micro-batch DDL rows from the binlog files' parquet footers —
        skips the per-batch DDL collect job entirely when every file in
        the trigger carries the writer's ``msss.ddl`` index (same filters
        as the scan path; foreign logs return None and fall back). DDL
        applies in binlog-seq order whatever order the files arrive in
        (``_FooterDdls``)."""
        nonlocal footer
        try:
            files = batch_source_files(checkpoint_dir, batch_id)
        except Exception:
            return None
        if footer is None:
            seen = _source_log_files(checkpoint_dir, batch_id)
            seqs = [int(m.group(1)) for m in map(_BINLOG_RE.search, seen) if m]
            footer = _FooterDdls(event_dir, cfg.name, max(seqs, default=-1))
        return footer.for_trigger(batch_id, files, table)

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
