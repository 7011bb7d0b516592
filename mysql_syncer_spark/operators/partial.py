"""``binlog_row_image=MINIMAL`` ingestion — partial row images.

MySQL's MINIMAL row-image mode ships UPDATE after-images containing only
the CHANGED columns (plus the key); the 5.5-era reference always sees
full images (rs_binlog_row.c walks the used-bitmap, which FULL mode sets
for every column), but any bandwidth-conscious modern pipeline runs
MINIMAL, so the engine must apply events that only partially describe a
row.

Event contract: the typed event schema plus a ``present:
array<string>`` column naming the ``after``-struct fields the event
actually carries (the used-bitmap, by name). A NULL ``present`` means a
full image, so full-image logs replay unchanged through these operators.
The key and ``warc_ts`` (the version stamp) are always present.

Spark-first design — ordered-fold semantics WITHOUT an ordered fold:
applying partial images in rank order leaves, in each column, the value
of the LAST event that wrote that column (deletes wipe the row). That is
**column-level LWW**: one ``groupBy(key)`` where every payload column
aggregates with its own presence-masked ``max_by`` and the delete
watermark is a masked ``max`` — a single shuffle, all JVM built-ins, the
same partial-aggregate shape as the full-image merge (operators/merge.py)
so it scales identically (map-side combine absorbs hot keys).

Correctness precondition (documented, validated by the fixture
producer): per-key ranks must be monotone in log order — true of a real
binlog, where the MINIMAL diff is taken against the row the PREVIOUS log
event produced and the log position is the rank. An event-time-ordered
feed with warc_ts regressions cannot use MINIMAL images (the omitted
columns would have been diffed against a row that rank-LWW does not
produce); such feeds must ship full images, which the engine's normal
path already handles.

Batch path (``partial_events``): fold the batch column-level → enrich
to FULL images by coalescing unwritten columns from the current table
state of ONLY the touched buckets (partition-pruned scan, the
lookup_many shape) → feed the engine's normal exactly-once
``apply_batch`` (``apply_partial_batch``; the streaming runner makes the
same call as for a full-image trigger). Per batch this costs O(batch +
touched buckets), never O(table), and the ledger/idempotency/skew
machinery is reused rather than reimplemented.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..xxhash import bucket_col

_RANK = ("_pr_ts", "_pr_file", "_pr_pos")


def _rank_col() -> F.Column:
    return F.struct(
        F.unix_micros("after.warc_ts").alias("ts"),
        F.col("file_seq").alias("f"),
        F.col("log_pos").alias("p"),
    )


def _payload_fields(events: DataFrame, key: str) -> list[str]:
    return [
        f.name
        for f in events.schema["after"].dataType.fields
        if f.name not in (key, "warc_ts")
    ]


def _presence(field: str) -> F.Column:
    """Did this event write ``field``? Full images (op=I, or no presence
    list) write every column."""
    if_present = F.array_contains(F.col("present"), field)
    return (
        (F.col("op") == "I")
        | F.col("present").isNull()
        | F.coalesce(if_present, F.lit(False))
    )


def partial_fold(
    events: DataFrame, key: str = "url", fields: list[str] | None = None
) -> DataFrame:
    """One row per key: delete watermark ``_dts``, row rank ``_rrank``
    (max I/U rank), and per payload field ``__v_<f>`` (winning value,
    struct-wrapped so a legitimately-NULL write is distinct from
    no-write) + ``__r_<f>`` (its rank). One shuffle."""
    if "present" not in events.columns:
        events = events.withColumn("present", F.lit(None).cast("array<string>"))
    fields = fields if fields is not None else _payload_fields(events, key)
    ev = events.filter(F.col("op").isin("I", "U", "D")).filter(
        F.col(f"after.{key}").isNotNull()
    )
    rank = _rank_col()
    is_row = F.col("op") != "D"
    aggs = [
        F.max(F.when(~is_row, rank)).alias("_dts"),
        F.max(F.when(is_row, rank)).alias("_rrank"),
    ]
    for f in fields:
        wrote = is_row & _presence(f)
        aggs.append(
            F.max_by(F.struct(F.col(f"after.{f}").alias("v")),
                     F.when(wrote, rank)).alias(f"__v_{f}")
        )
        aggs.append(F.max(F.when(wrote, rank)).alias(f"__r_{f}"))
    return ev.groupBy(F.col(f"after.{key}").alias(key)).agg(*aggs)


def _after_dts(rank_col: F.Column, dts: F.Column) -> F.Column:
    return rank_col.isNotNull() & (dts.isNull() | (rank_col > dts))


def partial_state(
    events: DataFrame, key: str = "url", fields: list[str] | None = None
) -> DataFrame:
    """Whole-log one-shot: final live state of a MINIMAL-image log.
    Columns never written after the last delete are NULL (nothing to
    coalesce from — this is the from-scratch replay; the incremental
    path coalesces from table state instead)."""
    if "present" not in events.columns:
        events = events.withColumn("present", F.lit(None).cast("array<string>"))
    fields = fields if fields is not None else _payload_fields(events, key)
    folded = partial_fold(events, key, fields)
    dts = F.col("_dts")
    live = folded.filter(_after_dts(F.col("_rrank"), dts))
    cols = [
        F.col(key),
        F.timestamp_micros(F.col("_rrank.ts")).alias("warc_ts"),
    ]
    for f in fields:
        cols.append(
            F.when(_after_dts(F.col(f"__r_{f}"), dts), F.col(f"__v_{f}.v"))
            .alias(f)
        )
    return live.select(*cols)


def apply_partial_batch(
    table,
    batch_id,
    events: DataFrame,
    cfg=None,
    server_id: int | None = None,
) -> dict:
    """Apply one micro-batch of MINIMAL-image events to a PagesTable:
    ``partial_events`` → ``PagesTable.apply_batch`` (exactly-once ledger,
    skew probe and threshold fold all reused). A batch already in the
    ledger returns skipped before the enrichment runs any Spark job."""
    from ..config import TableConfig

    cfg = cfg or TableConfig(name="web.pages")
    bid = str(batch_id)
    if table._is_committed(table.manifest(), bid):
        return {"batch_id": bid, "skipped": True, "reason": "already committed"}
    # ddls=[] — partial_events refuses DDL, and it spares apply_batch's
    # DDL collect from requiring a `ddl` column the enriched events lack
    return table.apply_batch(
        bid, partial_events(table, events, cfg, server_id), cfg, ddls=[]
    )


def partial_events(
    table, events: DataFrame, cfg=None, server_id: int | None = None
) -> DataFrame:
    """A micro-batch of MINIMAL-image events as full-image events for
    ``PagesTable.apply_batch``: fold (1 shuffle) → enrich against the
    live state of only the touched buckets (partition-pruned, O(touched
    buckets)) → one U event per surviving key, one D per delete-wins key.
    DDL events are NOT supported on this path — MINIMAL images and
    in-flight schema changes must be serialized by the caller (apply the
    DDL through a normal batch first).
    """
    from ..config import TableConfig
    from ..operators.dedup import lww_dedup
    from ..operators.merge import LWW_ORDER

    cfg = cfg or TableConfig(name="web.pages")
    if events.filter(F.col("op") == "DDL").limit(1).count():
        raise ValueError(
            "partial images do not accept DDL events; apply schema "
            "changes through a full-image batch first"
        )
    m = table.manifest()
    key = m.key_columns[0]
    mapping = dict(m.column_mapping)  # wire -> target
    target_types = dict(m.schema)  # target -> dtype
    wire_fields = [w for w in mapping if w not in (key, "warc_ts")]

    folded = partial_fold(events, key=key, fields=wire_fields)
    folded = folded.localCheckpoint(eager=False)  # consumed twice below

    # touched buckets: bounded collect (≤ num_buckets values), the same
    # O(buckets) driver cost the sink's keys-only probe already pays
    bucket = bucket_col([key], m.num_buckets)
    touched = [
        r[0] for r in folded.select(bucket.alias("b")).distinct().collect()
    ]
    raw = table._read_buckets(m, sorted(touched)) if touched else None
    if raw is not None:
        state = lww_dedup(raw, list(m.key_columns), LWW_ORDER)
        live = state.filter(~F.col("_deleted"))
        sel = [F.col(key)]
        for w in wire_fields:
            sel.append(F.col(mapping[w]).alias(f"__cur_{w}"))
        cur = live.select(*sel)
        joined = folded.join(cur, on=key, how="left")
    else:
        joined = folded
        for w in wire_fields:
            joined = joined.withColumn(
                f"__cur_{w}",
                F.lit(None).cast(target_types.get(mapping[w], "string")),
            )

    dts = F.col("_dts")
    # surviving keys → one full-image U event; delete-wins keys → one D
    def payload(is_delete: bool) -> F.Column:
        parts = [
            F.col(key).alias(key),
            F.timestamp_micros(
                F.col("_dts.ts") if is_delete else F.col("_rrank.ts")
            ).alias("warc_ts"),
        ]
        derived = dict(getattr(cfg, "derived_columns", None) or {})
        for w in wire_fields:
            if is_delete:
                parts.append(
                    F.lit(None).cast(target_types.get(mapping[w], "string"))
                    .alias(w)
                )
                continue
            wrote = _after_dts(F.col(f"__r_{w}"), dts)
            val = F.when(wrote, F.col(f"__v_{w}.v")).when(
                dts.isNotNull(), F.lit(None)  # wiped by in-batch D
            )
            if w in derived:
                # a derived column whose SOURCE was rewritten must reset
                # to NULL (transform recomputes it) — the stored table
                # value was derived from the PREVIOUS source, not the
                # wire value this event's MINIMAL diff compared against
                src_written = F.lit(False)
                for s in derived[w]:
                    src_written = src_written | _after_dts(
                        F.col(f"__r_{s}"), dts
                    )
                val = val.when(src_written, F.lit(None))
            parts.append(val.otherwise(F.col(f"__cur_{w}")).alias(w))
        return F.struct(*parts)

    def event_rows(is_delete: bool) -> DataFrame:
        if is_delete:
            src = joined.filter(
                dts.isNotNull() & ~_after_dts(F.col("_rrank"), dts)
            )
            rank = F.col("_dts")
        else:
            src = joined.filter(_after_dts(F.col("_rrank"), dts))
            rank = F.col("_rrank")
        return src.select(
            rank.getField("p").alias("log_pos"),
            rank.getField("f").alias("file_seq"),
            F.lit(server_id if server_id is not None else 1)
            .cast("int").alias("server_id"),
            F.lit("D" if is_delete else "U").alias("op"),
            F.lit(cfg.name).alias("table"),
            F.lit(None).cast("long").alias("tx_id"),
            payload(is_delete).alias("after"),
            # typed null: the sink's F3 oversized-DDL filter references
            # ddl.col unconditionally
            F.lit(None)
            .cast("struct<kind:string,col:string,new_name:string,dtype:string>")
            .alias("ddl"),
        )

    return event_rows(False).unionByName(event_rows(True))
