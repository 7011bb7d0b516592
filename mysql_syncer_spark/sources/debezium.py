"""Debezium-envelope CDC source + sink (JSON wire format).

Debezium is the de-facto open-source MySQL binlog reader: its connector
tails the same binlog stream the reference's master daemon serves over
TCP (/root/reference/src/master/rs_read_binlog.c) and publishes each row
change as a JSON envelope
``{"payload": {"before", "after", "source": {file, pos, server_id, ...},
"op": "c|u|d|r", "transaction": {...}}}`` — op codes and before/after
image pairing mirror the reference's WRITE/UPDATE/DELETE_ROWS events and
P5 pairing (/root/reference/src/slave/rs_binlog_row.c:510-514,604-612),
and ``source.file``/``source.pos`` is exactly the reference's
``"<file>,<pos>"`` checkpoint prefix
(/root/reference/src/master/rs_filter_binlog.c:39-49). Schema-change
events (the Debezium schema-history topic) carry the DDL statement text,
the same QUERY-event passthrough the reference does
(/root/reference/src/master/rs_parse_binlog.c:119-185).

This module turns that public wire format into the engine's typed event
envelope and back — so a user already running Debezium can point their
topic dumps (JSON lines) at this engine with no connector changes.

Spark-first: decode and encode are 100% JVM expressions — ``from_json``
/ ``to_json`` with an explicit schema, ``unbase64``/``base64`` for the
binary html column (Debezium's ``bytes`` fields are base64 text in
JSON), ``timestamp_micros``/``unix_micros`` for
``io.debezium.time.MicroTimestamp`` columns, and regexp projections for
the DDL statement → typed DDL struct. No Python runs per row, the whole
decode stays inside whole-stage codegen, and the JSON parse pushes
column pruning into the scan (Jackson parses only referenced fields).

Scale note (100 TB): a Debezium topic partitions by key, so the decoded
stream arrives pre-sharded; decode is map-only (no shuffle) and feeds
``PagesTable.apply_batch`` / the streaming runner unchanged. The JSON
layer is ~3-5x bulkier on the wire than the binary ROWS_EVENT path
(sources/wire_log.py) — both are supported; pick by what the upstream
already produces.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..model import DDL_STRUCT
from . import topic_archive

# Engine payload (input_hint base schema + the evolvable column, same
# shape wire_log.WIRE_PAYLOAD_STRUCT decodes to).
DEBEZIUM_PAYLOAD_STRUCT = T.StructType(
    [
        T.StructField("url", T.StringType(), True),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("extra", T.StringType(), True),
    ]
)

# Debezium `source` block (connector metadata; subset we consume).
_SOURCE_STRUCT = T.StructType(
    [
        T.StructField("name", T.StringType(), True),
        T.StructField("ts_ms", T.LongType(), True),
        T.StructField("snapshot", T.StringType(), True),
        T.StructField("db", T.StringType(), True),
        T.StructField("table", T.StringType(), True),
        T.StructField("server_id", T.LongType(), True),
        T.StructField("gtid", T.StringType(), True),
        T.StructField("file", T.StringType(), True),
        T.StructField("pos", T.LongType(), True),
        T.StructField("row", T.IntegerType(), True),
    ]
)

_TXN_STRUCT = T.StructType(
    [
        T.StructField("id", T.StringType(), True),
        T.StructField("total_order", T.LongType(), True),
        T.StructField("data_collection_order", T.LongType(), True),
    ]
)


def _json_payload_struct(payload_struct: T.StructType) -> T.StructType:
    """The JSON-side shape of a payload struct: Debezium serializes
    TIMESTAMP columns as int64 epoch-microseconds
    (``io.debezium.time.MicroTimestamp``) and BINARY columns as base64
    text (Kafka Connect ``bytes`` in JSON)."""
    fields = []
    for f in payload_struct.fields:
        if isinstance(f.dataType, T.TimestampType):
            fields.append(T.StructField(f.name, T.LongType(), True))
        elif isinstance(f.dataType, T.BinaryType):
            fields.append(T.StructField(f.name, T.StringType(), True))
        else:
            fields.append(T.StructField(f.name, f.dataType, True))
    return T.StructType(fields)


def debezium_value_schema(
    payload_struct: T.StructType = DEBEZIUM_PAYLOAD_STRUCT,
) -> T.StructType:
    """Schema of one Debezium JSON value (``schemas.enable=false`` — the
    common production config; with schemas enabled the same ``payload``
    object is nested one level deeper, which this schema also matches
    since Jackson ignores the sibling ``schema`` field). Data-change and
    schema-change (history topic) shapes are UNIONED: whichever fields a
    given line carries parse, the rest stay null."""
    jp = _json_payload_struct(payload_struct)
    return T.StructType(
        [
            T.StructField(
                "payload",
                T.StructType(
                    [
                        T.StructField("before", jp, True),
                        T.StructField("after", jp, True),
                        T.StructField("source", _SOURCE_STRUCT, True),
                        T.StructField("op", T.StringType(), True),
                        T.StructField("ts_ms", T.LongType(), True),
                        T.StructField("transaction", _TXN_STRUCT, True),
                        # schema-change (history topic) fields
                        T.StructField("databaseName", T.StringType(), True),
                        T.StructField("ddl", T.StringType(), True),
                    ]
                ),
                True,
            )
        ]
    )


def _payload_from_json(side: str, payload_struct: T.StructType) -> Column:
    """Rebuild the typed payload struct from the parsed JSON struct:
    epoch-micros → TIMESTAMP, base64 → BINARY; everything else passes
    through codegen untouched."""
    cols = []
    for f in payload_struct.fields:
        c = F.col(f"{side}.{f.name}")
        if isinstance(f.dataType, T.TimestampType):
            c = F.timestamp_micros(c)
        elif isinstance(f.dataType, T.BinaryType):
            c = F.unbase64(c)
        cols.append(c.alias(f.name))
    return F.when(F.col(side).isNotNull(), F.struct(*cols))


# DDL statement → typed struct, JVM regexps (same grammar as
# wire_log.parse_ddl_query, evaluated columnar instead of per-row Python).
# optional `db`. qualifier: real Debezium schema-history topics commonly
# carry "ALTER TABLE `db`.`pages` ..." — capture the TABLE, not the db
_DDL_TBL_RE = r"(?i)ALTER TABLE (?:`?\w+`?\.)?`?(\w+)`?"
_DDL_ADD_RE = r"(?i)ALTER TABLE \S+ ADD COLUMN `?(\w+)`? (\w+)"
_DDL_RENAME_RE = r"(?i)ALTER TABLE \S+ RENAME COLUMN `?(\w+)`? TO `?(\w+)`?"
_DDL_DROP_RE = r"(?i)ALTER TABLE \S+ DROP COLUMN `?(\w+)`?"
_DDL_MODIFY_RE = r"(?i)ALTER TABLE \S+ MODIFY COLUMN `?(\w+)`? (\w+)"


def _nullif_empty(c: Column) -> Column:
    return F.when(c != "", c)


def _ddl_struct_from_sql(sql: Column) -> Column:
    """Typed DDL struct from the statement text. Unrecognized statements
    (CREATE TABLE from snapshots, GRANTs...) yield kind=NULL — callers
    drop them, mirroring the reference treating non-BEGIN/COMMIT QUERY
    events as position-advancing passthrough."""
    kind = (
        F.when(sql.rlike(_DDL_ADD_RE), F.lit("add_column"))
        .when(sql.rlike(_DDL_RENAME_RE), F.lit("rename_column"))
        .when(sql.rlike(_DDL_DROP_RE), F.lit("drop_column"))
        .when(sql.rlike(_DDL_MODIFY_RE), F.lit("widen_column"))
    )
    col = (
        F.when(sql.rlike(_DDL_ADD_RE), F.regexp_extract(sql, _DDL_ADD_RE, 1))
        .when(sql.rlike(_DDL_RENAME_RE), F.regexp_extract(sql, _DDL_RENAME_RE, 1))
        .when(sql.rlike(_DDL_DROP_RE), F.regexp_extract(sql, _DDL_DROP_RE, 1))
        .when(sql.rlike(_DDL_MODIFY_RE), F.regexp_extract(sql, _DDL_MODIFY_RE, 1))
    )
    new_name = F.when(
        sql.rlike(_DDL_RENAME_RE), F.regexp_extract(sql, _DDL_RENAME_RE, 2)
    )
    dtype = F.when(
        sql.rlike(_DDL_ADD_RE), F.regexp_extract(sql, _DDL_ADD_RE, 2)
    ).when(sql.rlike(_DDL_MODIFY_RE), F.regexp_extract(sql, _DDL_MODIFY_RE, 2))
    return F.struct(
        kind.alias("kind"),
        _nullif_empty(col).alias("col"),
        _nullif_empty(new_name).alias("new_name"),
        _nullif_empty(dtype).alias("dtype"),
    )


def decode_debezium(
    df: DataFrame,
    value_col: str = "value",
    payload_struct: T.StructType = DEBEZIUM_PAYLOAD_STRUCT,
) -> DataFrame:
    """Debezium JSON values → the engine's typed CDC event envelope.

    Works on batch AND streaming DataFrames (plain transformation); the
    output feeds ``PagesTable.apply_batch`` / the streaming runner / the
    plans.replay loops unchanged.

    Mapping:
    - op ``c``/``r`` → I (snapshot reads are idempotent upserts, exactly
      the reference's SET semantics — A1), ``u`` → U, ``d`` → D;
      a schema-change line (``payload.ddl`` non-null) → DDL.
    - ``source.file`` numeric suffix → file_seq, ``source.pos`` →
      log_pos: the engine's total order IS the reference's
      ``(file, pos)`` checkpoint pair.
    - ``transaction.id`` → tx_id when numeric (the engine's XID gate);
      Debezium's ``file:pos``-style ids hash to NULL-safe longs via the
      fallback, keeping txn gating usable either way.
    - before/after: epoch-micros → TIMESTAMP, base64 → BINARY.

    Unparseable lines (``payload`` null after ``from_json``) and
    unsupported DDL (kind null) are dropped — deterministic, so
    streaming retries stay consistent (same poison-pill stance as
    ``wire_log.decode_wire_events(on_error='skip')``)."""
    v = F.from_json(F.col(value_col), debezium_value_schema(payload_struct))
    p = "parsed.payload"
    txn_id = F.col(f"{p}.transaction.id")
    tx_long = F.when(
        txn_id.rlike(r"^\d+$"), txn_id.cast("long")
    ).otherwise(
        # non-numeric tx ids (gtid / "file:pos") still gate consistently:
        # same id → same long, distinct ids virtually never collide
        F.when(txn_id.isNotNull(), F.abs(F.xxhash64(txn_id)))
    )
    is_ddl = F.col(f"{p}.ddl").isNotNull()
    ddl = _ddl_struct_from_sql(F.col(f"{p}.ddl"))
    out = (
        df.withColumn("parsed", v)
        .filter(F.col(p).isNotNull())
        .select(
            F.coalesce(F.col(f"{p}.source.pos"), F.lit(0)).alias("log_pos"),
            F.coalesce(
                F.regexp_extract(F.col(f"{p}.source.file"), r"(\d+)$", 1).cast(
                    "int"
                ),
                F.lit(0),
            ).alias("file_seq"),
            F.col(f"{p}.source.server_id").cast("int").alias("server_id"),
            F.when(is_ddl, F.lit("DDL"))
            .when(F.col(f"{p}.op").isin("c", "r"), F.lit("I"))
            .when(F.col(f"{p}.op") == "u", F.lit("U"))
            .when(F.col(f"{p}.op") == "d", F.lit("D"))
            .alias("op"),
            F.when(
                is_ddl,
                F.concat_ws(
                    ".",
                    F.col(f"{p}.databaseName"),
                    F.regexp_extract(F.col(f"{p}.ddl"), _DDL_TBL_RE, 1),
                ),
            )
            .otherwise(
                F.concat_ws(
                    ".", F.col(f"{p}.source.db"), F.col(f"{p}.source.table")
                )
            )
            .alias("table"),
            tx_long.alias("tx_id"),
            # typed-model image placement (generator.py:215): before is
            # populated for U only; I and D carry their single image in
            # `after` — Debezium frames a DELETE's image as `before`
            F.when(
                F.col(f"{p}.op") == "u",
                _payload_from_json(f"{p}.before", payload_struct),
            ).alias("before"),
            F.coalesce(
                _payload_from_json(f"{p}.after", payload_struct),
                F.when(
                    F.col(f"{p}.op") == "d",
                    _payload_from_json(f"{p}.before", payload_struct),
                ),
            ).alias("after"),
            F.when(is_ddl, ddl).alias("ddl"),
        )
        .filter(F.col("op").isNotNull())
        .filter(~F.col("op").eqNullSafe("DDL") | F.col("ddl.kind").isNotNull())
    )
    return out


def debezium_dead_letters(
    df: DataFrame,
    value_col: str = "value",
    payload_struct: T.StructType = DEBEZIUM_PAYLOAD_STRUCT,
) -> DataFrame:
    """The rejects of ``decode_debezium``, with a reason — the dead-letter
    queue every long-running CDC tail needs (Kafka Connect DLQ parity):
    route these raw lines to a quarantine sink instead of losing them
    silently. Deterministic split: a line lands in exactly one of
    decode_debezium / debezium_dead_letters. JVM-only like the decode."""
    v = F.from_json(F.col(value_col), debezium_value_schema(payload_struct))
    p = "parsed.payload"
    is_ddl = F.col(f"{p}.ddl").isNotNull()
    op = (
        F.when(is_ddl, F.lit("DDL"))
        .when(F.col(f"{p}.op").isin("c", "r"), F.lit("I"))
        .when(F.col(f"{p}.op") == "u", F.lit("U"))
        .when(F.col(f"{p}.op") == "d", F.lit("D"))
    )
    ddl_kind = _ddl_struct_from_sql(F.col(f"{p}.ddl"))["kind"]
    reason = (
        F.when(F.col(p).isNull(), F.lit("unparseable_json"))
        .when(op.isNull(), F.lit("unknown_op"))
        .when(is_ddl & ddl_kind.isNull(), F.lit("unsupported_ddl"))
    )
    return (
        df.withColumn("parsed", v)
        .withColumn("_reject_reason", reason)
        .filter(F.col("_reject_reason").isNotNull())
        .select(
            F.col(value_col).alias("raw_value"),
            F.col("_reject_reason").alias("reason"),
        )
    )


def _payload_to_json(side: str, payload_struct: T.StructType) -> Column:
    cols = []
    for f in payload_struct.fields:
        c = F.col(f"{side}.{f.name}")
        if isinstance(f.dataType, T.TimestampType):
            c = F.unix_micros(c)
        elif isinstance(f.dataType, T.BinaryType):
            c = F.base64(c)
        cols.append(c.alias(f.name))
    return F.when(F.col(side).isNotNull(), F.struct(*cols))


def _ddl_sql_from_struct(tbl: Column) -> Column:
    """JVM twin of wire_log.ddl_to_query over the typed DDL struct."""
    k = F.col("ddl.kind")
    return (
        F.when(
            k == "add_column",
            F.concat(
                F.lit("ALTER TABLE "), tbl, F.lit(" ADD COLUMN `"),
                F.col("ddl.col"), F.lit("` "), F.col("ddl.dtype"),
            ),
        )
        .when(
            k == "rename_column",
            F.concat(
                F.lit("ALTER TABLE "), tbl, F.lit(" RENAME COLUMN `"),
                F.col("ddl.col"), F.lit("` TO `"), F.col("ddl.new_name"),
                F.lit("`"),
            ),
        )
        .when(
            k == "drop_column",
            F.concat(
                F.lit("ALTER TABLE "), tbl, F.lit(" DROP COLUMN `"),
                F.col("ddl.col"), F.lit("`"),
            ),
        )
        .when(
            k == "widen_column",
            F.concat(
                F.lit("ALTER TABLE "), tbl, F.lit(" MODIFY COLUMN `"),
                F.col("ddl.col"), F.lit("` "), F.col("ddl.dtype"),
            ),
        )
    )


def encode_debezium(
    events: DataFrame,
    server_name: str = "mysql1",
    payload_struct: T.StructType | None = None,
) -> DataFrame:
    """Typed CDC events → Debezium JSON ``(key, value)`` pairs — the CDC
    OUT / fixture side (a real deployment's producer is the Debezium
    connector itself). Row events become data-change envelopes; DDL
    events become schema-history entries carrying the statement text.
    Pure ``to_json`` projection, map-only, streaming-safe."""
    if payload_struct is None:
        payload_struct = events.schema["after"].dataType
    db = F.split(F.col("table"), r"\.").getItem(0)
    tbl = F.split(F.col("table"), r"\.").getItem(1)
    source = F.struct(
        F.lit(server_name).alias("name"),
        F.unix_millis(F.col("after.warc_ts")).alias("ts_ms"),
        F.lit("false").alias("snapshot"),
        db.alias("db"),
        tbl.alias("table"),
        F.col("server_id").cast("long").alias("server_id"),
        F.lit(None).cast("string").alias("gtid"),
        F.format_string("mysql-bin.%06d", F.col("file_seq")).alias("file"),
        F.col("log_pos").cast("long").alias("pos"),
        F.lit(0).alias("row"),
    )
    ddl_source = F.struct(
        F.lit(server_name).alias("name"),
        F.lit(None).cast("long").alias("ts_ms"),
        F.lit("false").alias("snapshot"),
        db.alias("db"),
        tbl.alias("table"),
        F.col("server_id").cast("long").alias("server_id"),
        F.lit(None).cast("string").alias("gtid"),
        F.format_string("mysql-bin.%06d", F.col("file_seq")).alias("file"),
        F.col("log_pos").cast("long").alias("pos"),
        F.lit(0).alias("row"),
    )
    txn = F.when(
        F.col("tx_id").isNotNull(),
        F.struct(
            F.col("tx_id").cast("string").alias("id"),
            F.lit(None).cast("long").alias("total_order"),
            F.lit(None).cast("long").alias("data_collection_order"),
        ),
    )
    op = (
        F.when(F.col("op") == "I", F.lit("c"))
        .when(F.col("op") == "U", F.lit("u"))
        .when(F.col("op") == "D", F.lit("d"))
    )
    # the typed model places I/D single images in `after`; Debezium
    # frames a DELETE's image as `before` with after=null
    before_j = F.when(
        F.col("op") == "U", _payload_to_json("before", payload_struct)
    ).when(F.col("op") == "D", _payload_to_json("after", payload_struct))
    after_j = F.when(
        F.col("op") != "D", _payload_to_json("after", payload_struct)
    )
    row_value = F.struct(
        F.struct(
            before_j.alias("before"),
            after_j.alias("after"),
            source.alias("source"),
            op.alias("op"),
            F.unix_millis(F.col("after.warc_ts")).alias("ts_ms"),
            txn.alias("transaction"),
        ).alias("payload")
    )
    ddl_value = F.struct(
        F.struct(
            ddl_source.alias("source"),
            db.alias("databaseName"),
            _ddl_sql_from_struct(tbl).alias("ddl"),
        ).alias("payload")
    )
    key = F.when(
        F.col("op") == "D", F.to_json(F.struct(F.col("after.url").alias("url")))
    ).otherwise(
        F.to_json(
            F.struct(
                F.coalesce(F.col("after.url"), F.col("before.url")).alias("url")
            )
        )
    )
    return events.select(
        "file_seq",
        "log_pos",
        F.when(F.col("op") == "DDL", F.lit(None)).otherwise(key).alias("key"),
        F.when(F.col("op") == "DDL", F.to_json(ddl_value))
        .otherwise(F.to_json(row_value))
        .alias("value"),
    )


# topic archive on disk: sources/topic_archive.py, one file per binlog file
_CODEC = topic_archive.TopicCodec(encode_debezium, decode_debezium, topic_archive.JSONL)


def write_debezium_json(
    events: DataFrame, out_dir: str, server_name: str = "mysql1"
) -> list[str]:
    return topic_archive.write(_CODEC, events, out_dir, server_name=server_name)


def read_debezium_json(
    spark: SparkSession,
    path: str,
    payload_struct: T.StructType = DEBEZIUM_PAYLOAD_STRUCT,
    streaming: bool = False,
) -> DataFrame:
    return topic_archive.read(_CODEC, spark, path, streaming, payload_struct=payload_struct)


def replay_debezium_json(
    spark: SparkSession, json_dir: str, table_path: str, cfg=None, num_buckets: int = 64
) -> dict:
    return topic_archive.replay(_CODEC, spark, json_dir, table_path, cfg, num_buckets)
