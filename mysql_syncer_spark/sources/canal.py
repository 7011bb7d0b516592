"""Alibaba Canal CDC source + sink (FlatMessage JSON wire format).

Canal (alibaba/canal) is — with Debezium and Maxwell — the third de-facto
MySQL binlog-to-JSON producer, dominant in the Alibaba-ecosystem MQ
deployments (RocketMQ/Kafka with ``flatMessage=true``). One JSON object
per binlog rows-event (``com.alibaba.otter.canal.protocol.FlatMessage``):

    {"id": 37, "database": "web", "table": "pages",
     "pkNames": ["url"], "isDdl": false, "type": "INSERT|UPDATE|DELETE",
     "es": <mysql execute-time millis>, "ts": <canal process-time millis>,
     "sql": "", "sqlType": {"url": 12, ...}, "mysqlType": {"url":
     "varchar(2048)", ...},
     "data": [{"url": "...", "warc_ts": "2024-01-01 00:00:00.000001",
               "html": "<ISO-8859-1 bytes>", ...}, ...],
     "old":  [{"text": "<before value>"}, ...]}

and DDL messages as ``{"isDdl": true, "type": "ALTER", "sql": "ALTER
TABLE ...", "data": null, "old": null}``.

Format facts this module reproduces exactly (all public FlatMessage
behavior):

- ``data`` is an ARRAY of row objects — one flat message carries every
  row of the binlog rows-event. ``old`` (UPDATE only) pairs INDEX-wise
  with ``data`` and holds ONLY the changed columns' BEFORE values, so
  the before image of row *i* is the overlay ``{**data[i], **old[i]}``
  with "changed to NULL" (key present, null value) distinct from
  "unchanged" (key absent).
- every cell value is a STRING (canal stringifies through the MySQL
  text representation): ints/decimals in decimal text, DATETIME(6) as
  ``yyyy-MM-dd HH:mm:ss.SSSSSS``, and **binary as the ISO-8859-1
  decoding of the raw bytes** (FlatMessage's documented byte[] →
  String(bytes, "ISO-8859-1") round-trip) — JSON escaping carries the
  0x00-0xFF code points losslessly.
- the flat message carries **no binlog file/position** (that lives only
  in canal's protobuf ``EntryHeader``); consumers order and dedupe on
  the monotone per-destination ``id``. The encoder here stamps
  ``id = file_seq * 10^10 + log_pos`` so total order survives the wire;
  the decoder splits it back (foreign archives with small ids decode as
  ``file_seq=0, log_pos=id`` — exactly the ordering a real canal
  consumer has available).

Engine semantics (op codes, image pairing, DDL passthrough) mirror the
reference's row handling — /root/reference/src/slave/rs_binlog_row.c:
510-514,604-612 (before/after pairing) and rs_parse_binlog.c:176-182
(QUERY/DDL passthrough) — re-expressed over the typed envelope shared
with the Debezium/Maxwell modules.

Spark-first: decode is 100% JVM — ``from_json`` with
``array<map<string,string>>`` for the dynamic-key row objects,
``posexplode`` to unpack the rows-event with index-paired ``old``,
``map_contains_key`` for the null-vs-absent overlay, ``F.encode(...,
'ISO-8859-1')`` for binary, ``to_timestamp``/``cast`` for the typed
projection. No per-row Python anywhere; the JSON parse prunes to
referenced fields.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import topic_archive
from .debezium import (
    DEBEZIUM_PAYLOAD_STRUCT as PAYLOAD_STRUCT,
)
from .debezium import (
    _ddl_sql_from_struct,
    _ddl_struct_from_sql,
)

_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"

# id = file_seq * _ID_BASE + log_pos (fits a long for any real binlog:
# log_pos < 10^10 covers the 4 GiB file-offset space 400x over)
_ID_BASE = 10_000_000_000

# java.sql.Types codes canal stamps in sqlType (subset we emit)
_SQL_TYPES = {
    T.StringType(): 12,      # VARCHAR
    T.TimestampType(): 93,   # TIMESTAMP
    T.BinaryType(): 2004,    # BLOB
    T.LongType(): -5,        # BIGINT
    T.IntegerType(): 4,      # INTEGER
    T.DoubleType(): 8,       # DOUBLE
}
_MYSQL_TYPES = {
    T.StringType(): "varchar(4096)",
    T.TimestampType(): "datetime(6)",
    T.BinaryType(): "blob",
    T.LongType(): "bigint(20)",
    T.IntegerType(): "int(11)",
    T.DoubleType(): "double",
}


def canal_value_schema() -> T.StructType:
    """Flat-message JSON shape. ``data``/``old`` parse as
    array<map<string,string>> — the row objects' keys are dynamic (they
    follow the TABLE's columns, not a compile-time struct), which is
    exactly what a map type models; it also preserves the
    null-vs-absent distinction the overlay needs."""
    row_obj = T.MapType(T.StringType(), T.StringType(), True)
    return T.StructType(
        [
            T.StructField("id", T.LongType(), True),
            T.StructField("database", T.StringType(), True),
            T.StructField("table", T.StringType(), True),
            T.StructField("pkNames", T.ArrayType(T.StringType()), True),
            T.StructField("isDdl", T.BooleanType(), True),
            T.StructField("type", T.StringType(), True),
            T.StructField("es", T.LongType(), True),
            T.StructField("ts", T.LongType(), True),
            T.StructField("sql", T.StringType(), True),
            T.StructField("data", T.ArrayType(row_obj, True), True),
            T.StructField("old", T.ArrayType(row_obj, True), True),
        ]
    )


def _cell_to_typed(c: Column, f: T.StructField) -> Column:
    """One stringified canal cell → the typed payload field."""
    if isinstance(f.dataType, T.TimestampType):
        return F.to_timestamp(c, _TS_FMT)
    if isinstance(f.dataType, T.BinaryType):
        return F.encode(c, "ISO-8859-1")
    if isinstance(f.dataType, T.StringType):
        return c
    return c.cast(f.dataType)


def _typed_from_map(m: Column, payload_struct: T.StructType) -> Column:
    return F.struct(
        *[
            _cell_to_typed(F.element_at(m, f.name), f).alias(f.name)
            for f in payload_struct.fields
        ]
    )


def _overlay_from_maps(
    data_m: Column, old_m: Column, payload_struct: T.StructType
) -> Column:
    """Before image of an UPDATE row: take a field from ``old`` iff its
    KEY is present there (map_contains_key — so an explicit null in
    ``old`` wins over the ``data`` value), else from ``data``."""
    return F.struct(
        *[
            _cell_to_typed(
                F.when(
                    F.map_contains_key(old_m, f.name),
                    F.element_at(old_m, f.name),
                ).otherwise(F.element_at(data_m, f.name)),
                f,
            ).alias(f.name)
            for f in payload_struct.fields
        ]
    )


def decode_canal(
    df: DataFrame,
    value_col: str = "value",
    payload_struct: T.StructType = PAYLOAD_STRUCT,
) -> DataFrame:
    """Canal flat-message JSON lines → the engine's typed CDC envelope
    (same output shape as ``decode_debezium``/``decode_maxwell``; batch
    AND streaming).

    The rows-event array is unpacked with ``posexplode`` and ``old[i]``
    pairs with ``data[i]`` by index; per-row order within a message is
    the binlog row order, so the decoded ``log_pos`` is the message
    position plus the array index (ties within one rows-event resolve
    in array order — the apply order the reference walks the event in,
    rs_binlog_row.c:498-628).

    Unparseable lines, unknown types, unsupported DDL, and DML with a
    null/empty ``data`` array (posexplode of nothing) drop
    deterministically; ``canal_dead_letters`` is the exact complement."""
    v = F.from_json(F.col(value_col), canal_value_schema())
    p = "parsed"
    typ = F.upper(F.col(f"{p}.type"))
    is_ddl = F.col(f"{p}.isDdl").eqNullSafe(F.lit(True))
    ddl = _ddl_struct_from_sql(F.col(f"{p}.sql"))
    base = (
        df.withColumn(p, v)
        .filter(F.col(p).isNotNull() & F.col(f"{p}.type").isNotNull())
        .withColumn(
            "file_seq",
            (F.col(f"{p}.id") / F.lit(_ID_BASE)).cast("int"),
        )
        .withColumn("msg_pos", F.pmod(F.col(f"{p}.id"), F.lit(_ID_BASE)))
    )
    dml = (
        base.filter(~is_ddl & typ.isin("INSERT", "UPDATE", "DELETE"))
        .select(
            "file_seq",
            "msg_pos",
            typ.alias("typ"),
            F.col(f"{p}.database").alias("database"),
            F.col(f"{p}.table").alias("tbl"),
            F.col(f"{p}.es").alias("es"),
            F.posexplode(F.col(f"{p}.data")).alias("row_idx", "data_m"),
            F.col(f"{p}.old").alias("old_arr"),
        )
        .withColumn(
            "old_m", F.element_at(F.col("old_arr"), F.col("row_idx") + 1)
        )
    )
    dml_out = dml.select(
        (F.col("msg_pos") + F.col("row_idx")).alias("log_pos"),
        F.col("file_seq"),
        F.lit(None).cast("int").alias("server_id"),
        F.when(F.col("typ") == "INSERT", F.lit("I"))
        .when(F.col("typ") == "UPDATE", F.lit("U"))
        .when(F.col("typ") == "DELETE", F.lit("D"))
        .alias("op"),
        F.concat_ws(".", F.col("database"), F.col("tbl")).alias("table"),
        # canal flat messages carry no xid; es (the binlog execute time,
        # shared by every event of the transaction) is the closest
        # public transaction-correlation key
        F.col("es").alias("tx_id"),
        F.when(
            F.col("typ") == "UPDATE",
            _overlay_from_maps(
                F.col("data_m"),
                F.coalesce(
                    F.col("old_m"),
                    F.from_json(F.lit("{}"), "map<string,string>"),
                ),
                payload_struct,
            ),
        ).alias("before"),
        _typed_from_map(F.col("data_m"), payload_struct).alias("after"),
        F.lit(None)
        .cast(
            "struct<kind:string,col:string,new_name:string,dtype:string>"
        )
        .alias("ddl"),
    )
    ddl_out = base.filter(is_ddl & ddl["kind"].isNotNull()).select(
        F.col("msg_pos").alias("log_pos"),
        F.col("file_seq"),
        F.lit(None).cast("int").alias("server_id"),
        F.lit("DDL").alias("op"),
        F.concat_ws(
            ".", F.col(f"{p}.database"), F.col(f"{p}.table")
        ).alias("table"),
        F.col(f"{p}.es").alias("tx_id"),
        F.lit(None).cast(dml_out.schema["before"].dataType).alias("before"),
        F.lit(None).cast(dml_out.schema["after"].dataType).alias("after"),
        ddl.alias("ddl"),
    )
    out_cols = [
        "log_pos", "file_seq", "server_id", "op", "table", "tx_id",
        "before", "after", "ddl",
    ]
    return dml_out.select(out_cols).unionByName(ddl_out.select(out_cols))


def canal_dead_letters(
    df: DataFrame, value_col: str = "value"
) -> DataFrame:
    """The rejects of ``decode_canal`` with a reason — exact complement
    (JVM-only, same parse)."""
    v = F.from_json(F.col(value_col), canal_value_schema())
    p = "parsed"
    typ = F.upper(F.col(f"{p}.type"))
    is_ddl = F.col(f"{p}.isDdl").eqNullSafe(F.lit(True))
    ddl = _ddl_struct_from_sql(F.col(f"{p}.sql"))
    reason = (
        F.when(F.col(p).isNull() | typ.isNull(), F.lit("unparseable_json"))
        .when(
            ~is_ddl & ~typ.isin("INSERT", "UPDATE", "DELETE"),
            F.lit("unknown_type"),
        )
        .when(is_ddl & ddl["kind"].isNull(), F.lit("unsupported_ddl"))
        .when(
            ~is_ddl
            & (
                F.col(f"{p}.data").isNull()
                | (F.size(F.col(f"{p}.data")) == 0)
            ),
            F.lit("empty_data"),
        )
    )
    return (
        df.withColumn(p, v)
        .select(F.col(value_col).alias("raw_value"), reason.alias("reason"))
        .filter(F.col("reason").isNotNull())
    )


def encode_canal(
    events: DataFrame,
    payload_struct: T.StructType | None = None,
    rows_per_message: int = 1,
) -> DataFrame:
    """Typed CDC events → Canal flat-message JSON lines (CDC OUT /
    fixture side — the production producer is the canal server).
    ``rows_per_message=1`` emits one message per row (the archive the
    oracle-backed replay consumes: exact per-row id ordering);
    ``rows_per_message>1`` packs consecutive same-(op, table) rows into
    one message's ``data`` array the way a real rows-event does — the
    multi-row decode path's fixture generator (ids stay the FIRST row's,
    so decoded log_pos = id + array index reproduces the originals iff
    the packed rows were consecutive)."""
    if payload_struct is None:
        payload_struct = events.schema["after"].dataType
    db = F.split(F.col("table"), r"\.").getItem(0)
    tbl = F.split(F.col("table"), r"\.").getItem(1)
    msg_id = (
        F.col("file_seq").cast("long") * F.lit(_ID_BASE) + F.col("log_pos")
    )
    es = F.unix_millis(
        F.coalesce(F.col("after.warc_ts"), F.col("before.warc_ts"))
    )

    def _cell_to_str(side: str, f: T.StructField) -> Column:
        c = F.col(f"{side}.{f.name}")
        if isinstance(f.dataType, T.TimestampType):
            return F.date_format(c, _TS_FMT)
        if isinstance(f.dataType, T.BinaryType):
            return F.decode(c, "ISO-8859-1")
        if isinstance(f.dataType, T.StringType):
            return c
        return c.cast("string")

    def _obj(side: str, changed_only: bool) -> Column:
        """JSON row object, JVM-built so explicit nulls survive and
        changed-only objects omit unchanged keys entirely."""
        frags = []
        for f in payload_struct.fields:
            j = F.to_json(
                F.struct(_cell_to_str(side, f).alias(f.name)),
                {"ignoreNullFields": "false"},
            )
            frag = j.substr(F.lit(2), F.length(j) - 2)
            if changed_only:
                changed = ~F.col(f"before.{f.name}").eqNullSafe(
                    F.col(f"after.{f.name}")
                )
                frag = F.when(changed, frag)
            frags.append(frag)
        return F.concat(F.lit("{"), F.concat_ws(",", *frags), F.lit("}"))

    sql_type_json = F.lit(
        "{"
        + ",".join(
            f'"{f.name}":{_SQL_TYPES.get(f.dataType, 12)}'
            for f in payload_struct.fields
        )
        + "}"
    )
    mysql_type_json = F.lit(
        "{"
        + ",".join(
            f'"{f.name}":"{_MYSQL_TYPES.get(f.dataType, "varchar(4096)")}"'
            for f in payload_struct.fields
        )
        + "}"
    )
    head = F.to_json(
        F.struct(
            msg_id.alias("id"),
            db.alias("database"),
            tbl.alias("table"),
            F.array(F.lit("url")).alias("pkNames"),
            F.lit(False).alias("isDdl"),
            F.when(F.col("op") == "I", F.lit("INSERT"))
            .when(F.col("op") == "U", F.lit("UPDATE"))
            .when(F.col("op") == "D", F.lit("DELETE"))
            .alias("type"),
            es.alias("es"),
            es.alias("ts"),
            F.lit("").alias("sql"),
        ),
        {"ignoreNullFields": "false"},
    )
    data_obj = _obj("after", changed_only=False)
    old_obj = F.when(F.col("op") == "U", _obj("before", changed_only=True))
    if rows_per_message == 1:
        data_arr = F.concat(F.lit("["), data_obj, F.lit("]"))
        old_arr = F.when(
            old_obj.isNotNull(),
            F.concat(F.lit(',"old":['), old_obj, F.lit("]")),
        ).otherwise(F.lit(',"old":null'))
        dml_value = F.concat(
            F.regexp_replace(head, r"\}$", ""),
            F.lit(',"sqlType":'), sql_type_json,
            F.lit(',"mysqlType":'), mysql_type_json,
            F.lit(',"data":'), data_arr,
            old_arr,
            F.lit("}"),
        )
        per_msg = events.filter(F.col("op").isin("I", "U", "D")).select(
            "file_seq", "log_pos", dml_value.alias("value")
        )
    else:
        # pack up to rows_per_message consecutive same-(table, op) rows:
        # group key = row rank within its (table, op) run, quantized
        w_parts = ["table", "op", "file_seq"]
        from pyspark.sql import Window

        w = Window.partitionBy(*w_parts).orderBy("log_pos")
        packed = (
            events.filter(F.col("op").isin("I", "U", "D"))
            .withColumn("rn", F.row_number().over(w) - 1)
            .withColumn(
                "grp", (F.col("rn") / F.lit(rows_per_message)).cast("long")
            )
            .withColumn("data_frag", data_obj)
            .withColumn("old_frag", old_obj)
            .withColumn("head_json", head)
            .groupBy(*w_parts, "grp")
            .agg(
                F.min("log_pos").alias("log_pos"),
                F.min_by("head_json", "log_pos").alias("head_json"),
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct("log_pos", "data_frag")
                            )
                        ),
                        lambda s: s["data_frag"],
                    ),
                    ",",
                ).alias("data_list"),
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    "log_pos",
                                    F.coalesce(
                                        old_obj, F.lit("{}")
                                    ).alias("old_frag"),
                                )
                            )
                        ),
                        lambda s: s["old_frag"],
                    ),
                    ",",
                ).alias("old_list"),
                (F.max(F.when(F.col("op") == "U", 1).otherwise(0)) == 1)
                .alias("has_old"),
            )
        )
        dml_value = F.concat(
            F.regexp_replace(F.col("head_json"), r"\}$", ""),
            F.lit(',"sqlType":'), sql_type_json,
            F.lit(',"mysqlType":'), mysql_type_json,
            F.lit(',"data":['), F.col("data_list"), F.lit("]"),
            F.when(
                F.col("has_old"),
                F.concat(F.lit(',"old":['), F.col("old_list"), F.lit("]")),
            ).otherwise(F.lit(',"old":null')),
            F.lit("}"),
        )
        per_msg = packed.select(
            "file_seq", "log_pos", dml_value.alias("value")
        )
    ddl_value = F.to_json(
        F.struct(
            msg_id.alias("id"),
            db.alias("database"),
            tbl.alias("table"),
            F.lit(None).cast("array<string>").alias("pkNames"),
            F.lit(True).alias("isDdl"),
            F.lit("ALTER").alias("type"),
            F.lit(0).cast("long").alias("es"),
            F.lit(0).cast("long").alias("ts"),
            _ddl_sql_from_struct(tbl).alias("sql"),
        ),
        {"ignoreNullFields": "false"},
    )
    ddl_msgs = events.filter(F.col("op") == "DDL").select(
        "file_seq", "log_pos", ddl_value.alias("value")
    )
    return per_msg.unionByName(ddl_msgs)


# topic archive on disk: sources/topic_archive.py, one file per binlog file
_CODEC = topic_archive.TopicCodec(encode_canal, decode_canal, topic_archive.JSONL)


def write_canal_json(
    events: DataFrame, out_dir: str, rows_per_message: int = 1
) -> list[str]:
    return topic_archive.write(_CODEC, events, out_dir, rows_per_message=rows_per_message)


def read_canal_json(
    spark: SparkSession,
    path: str,
    payload_struct: T.StructType = PAYLOAD_STRUCT,
    streaming: bool = False,
) -> DataFrame:
    return topic_archive.read(_CODEC, spark, path, streaming, payload_struct=payload_struct)


def replay_canal_json(
    spark: SparkSession, json_dir: str, table_path: str, cfg=None, num_buckets: int = 64
) -> dict:
    return topic_archive.replay(_CODEC, spark, json_dir, table_path, cfg, num_buckets)
