"""Maxwell-daemon CDC source + sink (JSON wire format).

Maxwell (zendesk/maxwell) is, next to Debezium, the most common MySQL
binlog-to-JSON producer. One JSON object per row change:

    {"database": "web", "table": "pages", "type": "insert|update|delete",
     "ts": <epoch-sec>, "xid": <txn id>, "commit": true,
     "position": "mysql-bin.000001:4567", "server_id": 7,
     "data": {<full AFTER image>}, "old": {<changed cols' BEFORE values>}}

plus DDL messages when ``output_ddl=true``:

    {"type": "table-alter", "database": "web", "table": "pages",
     "sql": "ALTER TABLE ...", "position": ...}

Semantics mapped to the engine's typed envelope (same reference parity
as the Debezium module — op codes / image pairing mirror
/root/reference/src/slave/rs_binlog_row.c:510-514,604-612 and
``position`` is the reference's ``"<file>,<pos>"`` checkpoint prefix,
/root/reference/src/master/rs_filter_binlog.c:39-49):

- ``data`` is the full AFTER image; DELETE's ``data`` is the deleted
  row (typed model puts it in ``after``).
- ``old`` carries ONLY the columns the update changed (Maxwell default)
  — the full BEFORE image is the overlay ``{**data, **old}``. The
  decode distinguishes "changed to NULL" from "absent" via
  ``json_object_keys`` (a missing key falls back to ``data``), so the
  reconstruction is exact.
- binary columns ride base64 (Maxwell's binary encoding), timestamps as
  ``yyyy-MM-dd HH:mm:ss.SSSSSS`` datetime strings.

Spark-first: decode AND encode are 100% JVM expressions (``from_json``
with an explicit schema, ``json_object_keys`` for the overlay,
``unbase64`` / ``to_timestamp``, regexp DDL projection) — no per-row
Python anywhere, whole-stage codegen end to end, and the JSON parse
prunes to referenced fields.
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
    _DDL_TBL_RE,
    _ddl_sql_from_struct,
    _ddl_struct_from_sql,
)

_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def _maxwell_json_payload_struct(payload_struct: T.StructType) -> T.StructType:
    """JSON-side shape: timestamps are datetime STRINGS (Maxwell), binary
    is base64 text."""
    fields = []
    for f in payload_struct.fields:
        if isinstance(f.dataType, (T.TimestampType, T.BinaryType)):
            fields.append(T.StructField(f.name, T.StringType(), True))
        else:
            fields.append(T.StructField(f.name, f.dataType, True))
    return T.StructType(fields)


def maxwell_value_schema(
    payload_struct: T.StructType = PAYLOAD_STRUCT,
) -> T.StructType:
    jp = _maxwell_json_payload_struct(payload_struct)
    return T.StructType(
        [
            T.StructField("database", T.StringType(), True),
            T.StructField("table", T.StringType(), True),
            T.StructField("type", T.StringType(), True),
            T.StructField("ts", T.LongType(), True),
            T.StructField("xid", T.LongType(), True),
            T.StructField("commit", T.BooleanType(), True),
            T.StructField("position", T.StringType(), True),
            T.StructField("server_id", T.LongType(), True),
            T.StructField("data", jp, True),
            T.StructField("old", jp, True),
            T.StructField("sql", T.StringType(), True),  # DDL messages
        ]
    )


def _typed(side: str, payload_struct: T.StructType) -> dict[str, Column]:
    """Per-field typed projections of a parsed JSON payload struct."""
    out = {}
    for f in payload_struct.fields:
        c = F.col(f"{side}.{f.name}")
        if isinstance(f.dataType, T.TimestampType):
            c = F.to_timestamp(c, _TS_FMT)
        elif isinstance(f.dataType, T.BinaryType):
            c = F.unbase64(c)
        out[f.name] = c
    return out


def decode_maxwell(
    df: DataFrame,
    value_col: str = "value",
    payload_struct: T.StructType = PAYLOAD_STRUCT,
) -> DataFrame:
    """Maxwell JSON lines → the engine's typed CDC envelope (same output
    shape as ``decode_debezium``; batch AND streaming).

    The BEFORE image of an update is the exact overlay of ``data`` with
    ``old``: a field is taken from ``old`` iff its KEY appears in the
    raw ``old`` object (``json_object_keys``), else from ``data`` — so
    "changed to NULL" (key present, value null) and "unchanged" (key
    absent) decode differently, which a naive coalesce would conflate.

    Unparseable lines, unknown types, and unsupported DDL drop
    deterministically; ``maxwell_dead_letters`` is the complement."""
    v = F.from_json(
        F.col(value_col),
        maxwell_value_schema(payload_struct),
        {"timestampFormat": _TS_FMT},
    )
    p = "parsed"
    old_keys = F.json_object_keys(
        F.get_json_object(F.col(value_col), "$.old")
    )
    data_t = _typed(f"{p}.data", payload_struct)
    old_t = _typed(f"{p}.old", payload_struct)
    before_overlay = F.struct(
        *[
            F.when(
                F.array_contains(F.coalesce(old_keys, F.array()), f.name),
                old_t[f.name],
            )
            .otherwise(data_t[f.name])
            .alias(f.name)
            for f in payload_struct.fields
        ]
    )
    after_img = F.struct(
        *[data_t[f.name].alias(f.name) for f in payload_struct.fields]
    )
    is_ddl = F.col(f"{p}.type").isin("table-alter")
    typ = F.col(f"{p}.type")
    ddl = _ddl_struct_from_sql(F.col(f"{p}.sql"))
    out = (
        df.withColumn("parsed", v)
        .filter(F.col(p).isNotNull() & F.col(f"{p}.type").isNotNull())
        .select(
            F.coalesce(
                F.regexp_extract(F.col(f"{p}.position"), r":(\d+)$", 1).cast(
                    "long"
                ),
                F.lit(0),
            ).alias("log_pos"),
            F.coalesce(
                F.regexp_extract(
                    F.col(f"{p}.position"), r"\.(\d+):", 1
                ).cast("int"),
                F.lit(0),
            ).alias("file_seq"),
            F.col(f"{p}.server_id").cast("int").alias("server_id"),
            F.when(is_ddl, F.lit("DDL"))
            .when(typ == "insert", F.lit("I"))
            .when(typ == "update", F.lit("U"))
            .when(typ == "delete", F.lit("D"))
            .alias("op"),
            F.concat_ws(
                ".", F.col(f"{p}.database"), F.col(f"{p}.table")
            ).alias("table"),
            F.col(f"{p}.xid").alias("tx_id"),
            # typed-model placement: before only for U (full overlay);
            # I and D carry their single image in `after`
            F.when(typ == "update", before_overlay).alias("before"),
            F.when(~is_ddl, after_img).alias("after"),
            F.when(is_ddl, ddl).alias("ddl"),
        )
        .filter(F.col("op").isNotNull())
        .filter(~F.col("op").eqNullSafe("DDL") | F.col("ddl.kind").isNotNull())
    )
    return out


def maxwell_dead_letters(
    df: DataFrame,
    value_col: str = "value",
    payload_struct: T.StructType = PAYLOAD_STRUCT,
) -> DataFrame:
    """The rejects of ``decode_maxwell`` with a reason — exact complement
    (JVM-only, same parse)."""
    v = F.from_json(
        F.col(value_col),
        maxwell_value_schema(payload_struct),
        {"timestampFormat": _TS_FMT},
    )
    p = "parsed"
    typ = F.col(f"{p}.type")
    is_ddl = typ.isin("table-alter")
    ddl = _ddl_struct_from_sql(F.col(f"{p}.sql"))
    reason = (
        F.when(F.col(p).isNull() | typ.isNull(), F.lit("unparseable_json"))
        .when(
            ~is_ddl & ~typ.isin("insert", "update", "delete"),
            F.lit("unknown_type"),
        )
        .when(is_ddl & ddl["kind"].isNull(), F.lit("unsupported_ddl"))
    )
    return (
        df.withColumn("parsed", v)
        .select(F.col(value_col).alias("raw_value"), reason.alias("reason"))
        .filter(F.col("reason").isNotNull())
    )


def encode_maxwell(
    events: DataFrame,
    payload_struct: T.StructType | None = None,
) -> DataFrame:
    """Typed CDC events → Maxwell JSON lines (CDC OUT / fixture side —
    the production producer is the Maxwell daemon itself). ``old``
    carries exactly the changed columns (Maxwell default), emitted as a
    JVM-built JSON object so changed-to-NULL keys survive
    (``ignoreNullFields=false`` per-field fragments)."""
    if payload_struct is None:
        payload_struct = events.schema["after"].dataType
    db = F.split(F.col("table"), r"\.").getItem(0)
    tbl = F.split(F.col("table"), r"\.").getItem(1)
    position = F.format_string(
        "mysql-bin.%06d:%d", F.col("file_seq"), F.col("log_pos")
    )

    def _json_value(side: str, f: T.StructField) -> Column:
        c = F.col(f"{side}.{f.name}")
        if isinstance(f.dataType, T.TimestampType):
            c = F.date_format(c, _TS_FMT)
        elif isinstance(f.dataType, T.BinaryType):
            c = F.base64(c)
        return c

    def _obj(side: str, changed_only: bool) -> Column:
        frags = []
        for f in payload_struct.fields:
            val = _json_value(side, f)
            # '"name":<json-escaped value or null>': serialize a
            # one-field struct (ignoreNullFields=false keeps explicit
            # nulls) and strip the outer braces
            j = F.to_json(
                F.struct(val.alias(f.name)), {"ignoreNullFields": "false"}
            )
            frag = j.substr(F.lit(2), F.length(j) - 2)
            if changed_only:
                changed = ~F.col(f"before.{f.name}").eqNullSafe(
                    F.col(f"after.{f.name}")
                )
                frag = F.when(changed, frag)
            frags.append(frag)
        return F.concat(F.lit("{"), F.concat_ws(",", *frags), F.lit("}"))

    row_value = F.to_json(
        F.struct(
            db.alias("database"),
            tbl.alias("table"),
            F.when(F.col("op") == "I", F.lit("insert"))
            .when(F.col("op") == "U", F.lit("update"))
            .when(F.col("op") == "D", F.lit("delete"))
            .alias("type"),
            F.unix_seconds(
                F.coalesce(
                    F.col("after.warc_ts"), F.col("before.warc_ts")
                )
            ).alias("ts"),
            F.col("tx_id").alias("xid"),
            F.lit(True).alias("commit"),
            position.alias("position"),
            F.col("server_id").cast("long").alias("server_id"),
        ),
        {"ignoreNullFields": "false"},
    )
    # splice the variable-key objects in (data always; old for U only)
    data_obj = _obj("after", changed_only=False)
    old_obj = F.when(F.col("op") == "U", _obj("before", changed_only=True))
    spliced = F.concat(
        F.regexp_replace(row_value, r"\}$", ""),
        F.lit(',"data":'),
        data_obj,
        F.when(
            old_obj.isNotNull(), F.concat(F.lit(',"old":'), old_obj)
        ).otherwise(F.lit("")),
        F.lit("}"),
    )
    ddl_value = F.to_json(
        F.struct(
            F.lit("table-alter").alias("type"),
            db.alias("database"),
            tbl.alias("table"),
            _ddl_sql_from_struct(tbl).alias("sql"),
            position.alias("position"),
            F.col("server_id").cast("long").alias("server_id"),
        )
    )
    return events.select(
        "file_seq",
        "log_pos",
        F.when(F.col("op") == "DDL", ddl_value)
        .otherwise(spliced)
        .alias("value"),
    )


# topic archive on disk: sources/topic_archive.py, one file per binlog file
_CODEC = topic_archive.TopicCodec(encode_maxwell, decode_maxwell, topic_archive.JSONL)


def write_maxwell_json(events: DataFrame, out_dir: str) -> list[str]:
    return topic_archive.write(_CODEC, events, out_dir)


def read_maxwell_json(
    spark: SparkSession,
    path: str,
    payload_struct: T.StructType = PAYLOAD_STRUCT,
    streaming: bool = False,
) -> DataFrame:
    return topic_archive.read(_CODEC, spark, path, streaming, payload_struct=payload_struct)


def replay_maxwell_json(
    spark: SparkSession, json_dir: str, table_path: str, cfg=None, num_buckets: int = 64
) -> dict:
    return topic_archive.replay(_CODEC, spark, json_dir, table_path, cfg, num_buckets)


_ = _DDL_TBL_RE  # re-exported for callers that table-route DDL statements
