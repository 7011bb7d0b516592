"""Batch replay plan: event log → final-state table (SURVEY §3.4, M1).

Replays the log one binlog file per batch (batch_id = file_seq →
deterministic, so a re-run is idempotent end-to-end via the table ledger).
This is the ``Trigger.AvailableNow``-shaped driver loop; the streaming
runner (streaming/runner.py) is the same apply under foreachBatch.

Transaction gating (F5): the reference emits checkpoint records only
OUTSIDE transactions (gate ``!bi->tran`` at
/root/reference/src/master/rs_parse_binlog.c:428), so a reader never
observes half a transaction. A binlog rotation can split a transaction
across two files; since our commit unit is the file-batch, the tail
transaction that continues into the next file is HELD BACK and applied
with the next batch. Spanning is detected from parquet footer tx_id
min/max statistics — O(row groups) driver-side metadata reads, no data
scan — and the held-back filter is a pushed-down tx_id predicate that
parquet row-group pruning serves cheaply.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import TableConfig
from ..functions.text import fill_text_arrow
from ..operators.routing import filter_and_split, ordered_ddls
from ..sink.pages_table import PagesTable
from ..sources.event_log import read_event_log

_BINLOG_RE = re.compile(r"binlog-(\d+)\.parquet$")


def default_pages_config() -> TableConfig:
    """web.pages binding. The transform runs on MERGE WINNERS (post-LWW),
    inside the sink's Arrow write pass: the fill-missing extractor touches
    only rows newly won from the change stream (current-state winners
    already carry text), so extraction cost scales with the batch's unique
    winning urls, not table size or raw event count."""
    return TableConfig(
        name="web.pages",
        transform=fill_text_arrow,
        derived_columns={"text": ("html",)},
    )


def replay_multi(
    spark: SparkSession,
    event_dir: str,
    base_path: str,
    registry: dict[str, TableConfig],
    num_buckets: int = 64,
) -> dict:
    """Multi-table replay (SURVEY R1): one event log carrying several
    ``db.tb`` streams, routed to one target table per registered config —
    the dict-registry equivalent of the reference's compile-time handler
    array (/root/reference/src/slave/rs_register_tables.c:6-36).
    Unregistered tables are skipped (hash-miss behavior). Each target keeps
    its own ledger, so per-table idempotence is independent."""
    results = {}
    for name, cfg in registry.items():
        path = os.path.join(base_path, name.replace(".", "_"))
        results[name] = replay(spark, event_dir, path, cfg, num_buckets)
    return results


def _tx_bounds(path: str) -> tuple[int | None, int | None]:
    """(min, max) of tx_id from parquet footer statistics — metadata only,
    no data read. NULL tx_ids (DDL events) are excluded by the stats."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    idx = next(
        (i for i in range(md.num_columns) if md.schema.column(i).name == "tx_id"),
        None,
    )
    if idx is None:
        return None, None
    mins: list[int] = []
    maxs: list[int] = []
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx).statistics
        if st is not None and st.has_min_max:
            mins.append(st.min)
            maxs.append(st.max)
    if not mins:
        return None, None
    return min(mins), max(maxs)


def plan_batches(
    spark: SparkSession, event_dir: str
) -> list[tuple[int, str | None]]:
    """One batch per binlog file; discover by the index (filename), like
    the reference's mysql-bin.index walk (/root/reference/src/master/
    rs_read_binlog.c:210-252) — no data scan needed to plan batches."""
    by_name = {}
    for fn in os.listdir(event_dir):
        mm = _BINLOG_RE.search(fn)
        if mm:
            by_name[int(mm.group(1))] = os.path.join(event_dir, fn)
    if by_name:
        return [(seq, by_name[seq]) for seq in sorted(by_name)]
    # arbitrary layout: fall back to a pruned scan
    events = read_event_log(spark, event_dir)
    seqs = [
        r[0]
        for r in events.select("file_seq").distinct().orderBy("file_seq").collect()
    ]
    return [(seq, None) for seq in seqs]


def ddl_rows_from_footers(
    paths: list[str], table_name: str
) -> list[dict] | None:
    """Flat DDL rows for the given binlog parquet files, read from the
    writers' footer metadata (``msss.ddl``), in (file_seq, in-file) order.
    Returns None when ANY file lacks the key — a foreign log must take
    the scan path, else its DDL would silently never apply. Applies the
    same filters the scan path applies: table ownership (F1) and the
    oversized-DDL cap (F3, 2×RS_SQL_MAX_LEN — reference
    /root/reference/src/master/rs_parse_binlog.c:128-131)."""
    import json as _json

    import pyarrow.parquet as pq

    rows: list[dict] = []
    for path in sorted(paths):
        try:
            meta = pq.read_schema(path).metadata or {}
        except Exception:
            return None
        raw = meta.get(b"msss.ddl")
        if raw is None:
            return None
        for d in _json.loads(raw):
            if d.pop("table", None) != table_name:
                continue  # another table's DDL (F1 ownership filter)
            if (
                len(d.get("col") or "") + len(d.get("new_name") or "")
                > 2048
            ):
                continue  # oversized DDL (F3 cap), like the scan path
            rows.append(d)
    return rows


def _ddl_index_from_footers(
    event_dir: str, table_name: str
) -> dict[str, list[dict]] | None:
    """Batch-id → DDL rows from the writers' parquet footer metadata
    (one entry per binlog file); see :func:`ddl_rows_from_footers`."""
    files = sorted(
        os.path.join(event_dir, fn)
        for fn in os.listdir(event_dir)
        if _BINLOG_RE.search(fn)
    )
    if not files:
        return None
    rows = ddl_rows_from_footers(files, table_name)
    if rows is None:
        return None
    index: dict[str, list[dict]] = {}
    for d in rows:
        index.setdefault(f"fileseq-{d['file_seq']}", []).append(d)
    return index


def _read_file_self_schema(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema taken from the file's
    OWN parquet footer via pyarrow instead of JVM-side inference.

    Semantics are identical — the schema still comes from the file itself
    (self-describing, so DDL-added wire fields survive; forcing one
    common schema across the log would prune them) — but the driver-side
    cost drops ~10-20x (measured 0.6s -> 0.04s per file): JVM inference
    pays an InMemoryFileIndex + footer-read round trip PER QUERY, which
    at one-batch-per-binlog-file cadence became the largest single
    main-thread cost of a pipelined replay (~26s of serial floor over a
    40-file sf1 run, paid at every cluster size). Falls back to plain
    inference for arrow types without a Spark mapping."""
    try:
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        schema = from_arrow_schema(pq.read_schema(path))
        return spark.read.schema(schema).parquet(path)
    except Exception:
        return spark.read.parquet(path)


def iter_tx_gated_batches(
    spark: SparkSession,
    event_dir: str,
    from_file_seq: int | None = None,
):
    """Yield ``(file_seq, DataFrame)`` batches with transaction gating: a
    transaction whose tx_id continues into the next file is deferred to
    that file's batch, so every yielded batch closes on a transaction
    boundary (F5). Deterministic: the batch for file N is a pure function
    of the log, so resumed/re-run replays build identical batches."""
    batches_src = plan_batches(spark, event_dir)
    # Arbitrary layouts (path=None) have no per-file footer to probe; one
    # pruned aggregate (file_seq, min/max tx_id — column-pruned scan, tiny
    # shuffle) supplies the same bounds so gating holds for EVERY layout,
    # not just named binlog files.
    agg_bounds: dict[int, tuple[int | None, int | None]] = {}
    if any(p is None for _, p in batches_src):
        rows = (
            read_event_log(spark, event_dir)
            .groupBy("file_seq")
            .agg(F.min("tx_id").alias("mn"), F.max("tx_id").alias("mx"))
            .collect()
        )
        agg_bounds = {r["file_seq"]: (r["mn"], r["mx"]) for r in rows}

    def bounds(seq: int, path: str | None) -> tuple[int | None, int | None]:
        return _tx_bounds(path) if path is not None else agg_bounds.get(seq, (None, None))

    deferred = None
    for i, (seq, path) in enumerate(batches_src):
        if path is not None:
            batch = _read_file_self_schema(spark, path)
        else:
            batch = read_event_log(spark, event_dir).filter(
                F.col("file_seq") == seq
            )
        if deferred is not None:
            batch = deferred.unionByName(batch, allowMissingColumns=True)
        deferred = None
        has_next = i + 1 < len(batches_src)
        if has_next:
            nseq, npath = batches_src[i + 1]
            _, cur_max = bounds(seq, path)
            nxt_min, _ = bounds(nseq, npath)
            if cur_max is not None and nxt_min == cur_max:
                # the tail transaction straddles the rotation: hold it back
                deferred = batch.filter(F.col("tx_id") == cur_max)
                batch = batch.filter(
                    F.col("tx_id").isNull() | (F.col("tx_id") != cur_max)
                )
        if from_file_seq is not None and seq < from_file_seq:
            continue  # skipped, but the deferral chain stays intact
        yield seq, batch
    # a trailing deferred set can only exist if the LAST file spans into a
    # file that doesn't exist — impossible by construction (no next file →
    # no hold), so nothing is ever dropped.


def replay(
    spark: SparkSession,
    event_dir: str,
    table_path: str,
    cfg: TableConfig | None = None,
    num_buckets: int = 64,
    from_file_seq: int | None = None,
    pipeline_depth: int = 1,
    event_filter=None,
) -> dict:
    """Full (or resumed) replay. Returns summary metrics.

    Batches run through ``PagesTable.apply_batches``, the one replay
    loop; ``pipeline_depth > 1`` overlaps delta writes of consecutive
    batches (merge-on-read makes them independent) while manifests commit
    strictly in order — the cure for the fixed per-batch serial floor at
    10^4+ batches. DDL is pre-collected in ONE scan of the log (or the
    loop collects each batch's at submit), so each batch still projects
    with the schema at its log position.

    ``event_filter`` (DataFrame -> DataFrame) narrows each batch before
    apply — the snapshot-bootstrap hook; it must keep non-row events (DDL
    etc.) or schema history is lost."""
    cfg = cfg or default_pages_config()
    table = PagesTable.open(spark, table_path, num_buckets)

    # ONE pushed-predicate scan collects every batch's DDL up front — DDL
    # events are never transaction-deferred (tx_id is NULL), so the
    # per-file grouping matches the batch boundaries exactly. With an
    # event_filter active (bootstrap trims events) the loop collects
    # each filtered batch's DDL instead, so filtered-out DDL is never
    # applied.
    ddl_index: dict[str, list[dict]] | None = None
    n_named = sum(1 for fn in os.listdir(event_dir) if _BINLOG_RE.search(fn))
    if event_filter is None:
        # fastest path: the writer embeds each file's DDL rows in the
        # parquet footer (schema history out of the data path — the
        # Debezium schema-history-topic pattern), so a millisecond
        # pyarrow footer read replaces the pushed-predicate Spark scan
        ddl_index = _ddl_index_from_footers(event_dir, cfg.name)
        if ddl_index is None and n_named != 1:
            # foreign log without footer metadata: ONE pushed-predicate
            # scan (a 1-file log gains nothing from it — the per-batch
            # collect is the same single job). The scan applies the SAME
            # F1/F3 filters apply_batch would have run per-batch (table
            # ownership + oversized-DDL cap): pre-supplied ddls bypass
            # apply_batch's own filtering, and in a multi-table log an
            # unfiltered index would apply every OTHER table's DDL to
            # this target (schema corruption).
            _, ddl_events = filter_and_split(
                read_event_log(spark, event_dir), cfg.name
            )
            ddl_index = {}
            for d in ordered_ddls(ddl_events):
                ddl_index.setdefault(f"fileseq-{d['file_seq']}", []).append(d)

    gated = (
        (f"fileseq-{seq}", batch if event_filter is None else event_filter(batch))
        for seq, batch in iter_tx_gated_batches(spark, event_dir, from_file_seq)
    )
    batches = table.apply_batches(
        gated, cfg=cfg, depth=pipeline_depth, ddl_index=ddl_index
    )
    return {
        "n_batches": len(batches),
        "events_applied": sum(b.get("events_in", 0) for b in batches),
        "batches": batches,
        "table_path": table_path,
        "pipeline_profile": table._last_pipeline_profile,
    }


def snapshot_events(
    snapshot: DataFrame,
    offset: tuple[int, int],
    table_name: str = "web.pages",
) -> DataFrame:
    """Wrap a consistent table snapshot as change events ranked at (or
    before) the snapshot offset — the bootstrap half of the dump-then-tail
    lifecycle (the reference slave's "request dump from saved (file, pos)"
    handshake, /root/reference/src/slave — SURVEY §3.2; Debezium-style
    initial snapshot → streaming cutover).

    Two accepted snapshot shapes:

    * **Raw state** (``PagesTable.state()`` — payload + hidden LWW cols,
      INCLUDING tombstones): the production shape. Every row keeps its
      ORIGINAL rank (``_lww_ts_us``, ``_lww_file``, ``_lww_pos``) and
      tombstones cross the bootstrap as ``op='D'`` events, so a
      pre-offset DELETE whose warc_ts exceeds every post-offset event
      for its key still wins in the new table — exactly as in a full
      replay. Any post-offset event compares against a wrapped row with
      the SAME (warc_ts, file, pos) triple the original event carried,
      so the merge outcome is identical to whole-log LWW by
      construction.

    * **Live view** (``read()`` — user columns, no tombstones): rows
      become ``op='I'`` ranked AT the offset. Rank equivalence holds for
      surviving rows (the warc_ts leg is the row's own; on a tie the
      post-offset position exceeds the offset just as it exceeded the
      original position) — but deleted keys are simply ABSENT, so this
      shape silently loses out-of-order deletes: a post-offset event
      older than a pre-offset DELETE resurrects the key. Only safe when
      the log has no out-of-order deletes; prefer ``state()``.

    Map-only — no shuffle either way."""
    from ..operators.merge import HIDDEN_COLS

    fs, pos = offset
    hidden = [c for c in HIDDEN_COLS if c in snapshot.columns]
    if hidden and set(hidden) != set(HIDDEN_COLS):
        raise ValueError(
            f"partial hidden-column snapshot (has {hidden}); pass "
            "PagesTable.state() (all hidden cols) or read() (none)"
        )
    payload = [c for c in snapshot.columns if c not in HIDDEN_COLS]
    dtypes = dict(snapshot.dtypes)
    if hidden:
        op = F.when(F.col("_deleted"), F.lit("D")).otherwise(F.lit("I"))
        log_pos = F.col("_lww_pos").cast("long")
        file_seq = F.col("_lww_file").cast("int")
        # the LWW ts IS the rank — restate it as the event's warc_ts so
        # batch_to_state re-derives the identical _lww_ts_us
        after_fields = [
            F.timestamp_micros(F.col("_lww_ts_us")).alias(c)
            if c == "warc_ts"
            else F.col(c)
            for c in payload
        ]
    else:
        op = F.lit("I")
        log_pos = F.lit(pos).cast("long")
        file_seq = F.lit(fs).cast("int")
        after_fields = [F.col(c) for c in payload]
    ev_cols = [
        log_pos.alias("log_pos"),
        file_seq.alias("file_seq"),
        F.lit(None).cast("int").alias("server_id"),
        op.alias("op"),
        F.lit(table_name).alias("table"),
        F.lit(None).cast("long").alias("tx_id"),
    ]
    after = F.struct(*after_fields).alias("after")
    before = F.lit(None).cast(
        "struct<" + ", ".join(f"{c}: {dtypes[c]}" for c in payload) + ">"
    ).alias("before")
    ddl = F.lit(None).cast(
        "struct<kind: string, col: string, new_name: string, dtype: string>"
    ).alias("ddl")
    return snapshot.select(*ev_cols, before, after, ddl)


def bootstrap_then_replay(
    spark: SparkSession,
    snapshot: DataFrame,
    offset: tuple[int, int],
    event_dir: str,
    table_path: str,
    cfg: TableConfig | None = None,
    num_buckets: int = 64,
    wire_mapping: dict[str, str] | None = None,
    renames: list[list[str]] | None = None,
) -> dict:
    """Bootstrap a NEW target table from a consistent snapshot taken at
    ``offset = (file_seq, log_pos)``, then cut over to the binlog and
    replay everything strictly after the offset. Final state equals a
    full from-scratch replay (tests/test_bootstrap.py proves it at file
    and mid-file offsets).

    Pass the source's RAW state (``PagesTable.state()`` — includes
    tombstones + LWW ranks) so pre-offset DELETEs survive the handoff;
    a live-view snapshot (``read()``) also works but silently loses
    out-of-order deletes — see ``snapshot_events``.

    The offset must sit on a transaction boundary — the same rule the
    reference enforces by emitting checkpoint positions only outside
    transactions (rs_parse_binlog.c:428 gate). The table is created with
    the SNAPSHOT's schema (the schema at the offset), so pre-offset DDL
    history is not replayed; post-offset DDL applies normally.

    ``wire_mapping`` / ``renames``: when pre-offset DDL RENAMED columns,
    the tail's wire events still carry the ORIGINAL field names (wire
    names never change — operators/merge.py batch_to_state), but the
    snapshot carries post-rename names, so the identity mapping derived
    from the snapshot would silently NULL those columns. Pass the source
    table's manifest ``column_mapping`` (wire field → current column) and
    ``renames`` — the schema-registry half of a snapshot handoff. The
    bootstrap batch itself always applies under the identity mapping
    (its events ARE snapshot-shaped); the wire mapping is committed
    before the tail starts.

    Scale: the snapshot load is one apply_batch — a single payload
    shuffle into bucket layout, O(snapshot); the tail replay prunes
    pre-offset files by name without scanning them, and trims the
    straddling file with a (file_seq, log_pos) predicate that parquet
    row-group stats serve cheaply."""
    from ..operators.merge import HIDDEN_COLS

    cfg = cfg or default_pages_config()
    fs, pos = offset
    if PagesTable.exists(table_path):
        raise ValueError("bootstrap requires a fresh table path")
    schema = [[c, t] for c, t in snapshot.dtypes if c not in HIDDEN_COLS]
    table = PagesTable.create(spark, table_path, num_buckets=num_buckets, schema=schema)
    boot = table.apply_batch(
        batch_id=f"bootstrap-{fs}-{pos}",
        events=snapshot_events(snapshot, offset, cfg.name),
        cfg=cfg,
    )
    if wire_mapping is not None:
        m = table.manifest()
        targets = {c for c, _ in m.schema}
        unknown = set(wire_mapping.values()) - targets
        if unknown:
            raise ValueError(f"wire_mapping targets not in snapshot schema: {unknown}")
        m.column_mapping = dict(wire_mapping)
        m.renames = [list(r) for r in (renames or [])]
        m.version += 1
        table._commit(m)

    def past_offset(df: DataFrame) -> DataFrame:
        return df.filter(
            (F.col("file_seq") > fs)
            | ((F.col("file_seq") == fs) & (F.col("log_pos") > pos))
        )

    tail = replay(
        spark, event_dir, table_path, cfg,
        from_file_seq=fs, event_filter=past_offset,
    )
    tail["bootstrap"] = boot
    return tail


def _binlog_seqs(bin_dir: str) -> list[int]:
    """Sorted file_seqs of a raw binlog dir, from ``mysql-bin.index`` when
    present (the rotation index), else from the file names."""
    from ..sources.binlog_file import _file_seq_of

    idx_path = os.path.join(bin_dir, "mysql-bin.index")
    if os.path.exists(idx_path):
        with open(idx_path) as f:
            return sorted(_file_seq_of(ln.strip()) for ln in f if ln.strip())
    return sorted(
        _file_seq_of(fn)
        for fn in os.listdir(bin_dir)
        if fn.startswith("mysql-bin.") and not fn.endswith(".index")
    )


def replay_binlog(
    spark: SparkSession,
    bin_dir: str,
    table_path: str,
    cfg: TableConfig | None = None,
    num_buckets: int = 64,
    tables: tuple[str, ...] | None = None,
    expected_server_id: int | None = None,
    after_gtid: str | None = None,
) -> dict:
    """Engine replay driven from RAW binlog FILE bytes (mysql-bin.NNNNNN
    + mysql-bin.index), one idempotent batch per binlog file — the
    file-level twin of ``replay`` for consumers that hold the actual
    binlog rather than the typed parquet log.

    ``after_gtid="uuid:gno"`` resumes AFTER that transaction: the
    PREVIOUS_GTIDS header index prunes to the single containing file
    (pre-offset files' bytes are never read — the source prunes via the
    rotation index), one scan of that file finds the offset past the
    transaction's closing event, and the partial first batch gets an
    offset-qualified batch id so it never collides with a full-file
    batch in the ledger.

    Scale: each batch reads exactly ONE file (to_file_seq == from_file_seq
    bound), so a K-file replay reads K files total, not K^2/2; within a
    batch the scan parallelism is per-file (the file is sequential by
    nature — reference fread-walk), and everything after the envelope is
    the same ``apply_batches`` loop the typed path uses."""
    from ..sources.binlog_file import gtid_position, read_binlog_files
    from ..sources.wire_log import decode_wire_events

    cfg = cfg or default_pages_config()
    from_seq, from_pos = None, 0
    if after_gtid is not None:
        from_seq, from_pos = gtid_position(spark, bin_dir, after_gtid)

    seqs = _binlog_seqs(bin_dir)
    if from_seq is not None:
        seqs = [s for s in seqs if s >= from_seq]

    def batch(seq: int) -> tuple[str, DataFrame]:
        partial = from_seq == seq and from_pos > 0
        env = read_binlog_files(
            spark,
            bin_dir,
            tables=tables or (cfg.name,),
            expected_server_id=expected_server_id,
            from_file_seq=seq,
            from_pos=from_pos if partial else 0,
            to_file_seq=seq,
        )
        batch_id = f"fileseq-{seq}@{from_pos}" if partial else f"fileseq-{seq}"
        return batch_id, decode_wire_events(env)

    table = PagesTable.open(spark, table_path, num_buckets)
    results = table.apply_batches((batch(seq) for seq in seqs), cfg)
    return {
        "n_batches": len(results),
        "resumed_at": (from_seq, from_pos) if after_gtid else None,
        "batches": results,
    }


def replay_binlog_multi(
    spark: SparkSession,
    bin_dir: str,
    base_path: str,
    registry: dict[str, TableConfig],
    num_buckets: int = 64,
    expected_server_id: int | None = None,
) -> dict:
    """Multi-table replay from RAW binlog FILE bytes: one file-level scan
    per binlog file SHARED across the whole registry (unlike the typed
    ``replay_multi``, which re-reads the cheap parquet log per table, a
    byte-level decode is the expensive stage — so each file's decoded
    events are localCheckpoint-ed once and every registered table applies
    its filtered slice from that materialization). Routing parity:
    ``rs_register_tables.c:6-36`` — unregistered tables are skipped at
    the SCANNER (pushed table filter), each target keeps its own ledger.

    Scale: per file this is one distributed decode + K bucket-shuffled
    apply jobs over disjoint row subsets; the checkpoint holds one
    file's events (binlog-file-sized, bounded by rotation)."""
    from ..sources.binlog_file import read_binlog_files
    from ..sources.wire_log import decode_wire_events

    seqs = _binlog_seqs(bin_dir)
    tables = {
        name: PagesTable.open(
            spark, os.path.join(base_path, name.replace(".", "_")), num_buckets
        )
        for name in registry
    }
    # per table, only the first batch that is not skipped probes (as in
    # PagesTable.apply_batches)
    probe = dict.fromkeys(registry, True)
    results: dict[str, list] = {name: [] for name in registry}
    for seq in seqs:
        env = read_binlog_files(
            spark,
            bin_dir,
            tables=tuple(registry),
            expected_server_id=expected_server_id,
            from_file_seq=seq,
            to_file_seq=seq,
        )
        events = decode_wire_events(env).localCheckpoint(eager=True)
        for name, cfg in registry.items():
            res = tables[name].apply_batch(
                f"fileseq-{seq}",
                events.filter(F.col("table") == name),
                cfg,
                probe=probe[name],
            )
            probe[name] = probe[name] and bool(res.get("skipped"))
            results[name].append(res)
    return results
