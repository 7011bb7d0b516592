"""Real-Iceberg sink backend (production path; jars absent in-sandbox).

The parquet-manifest PagesTable reproduces Iceberg's semantics (snapshot
commits, bucket CoW, schema evolution, ledger); this module is the thin
adapter that runs the SAME apply contract against an actual Iceberg
catalog when `IcebergSparkSessionExtensions` is on the classpath
(SURVEY §4 item 5). The MERGE/DDL statement generation is pure and
unit-tested in-sandbox; execution requires the jars:

    spark-submit \
      --packages org.apache.iceberg:iceberg-spark-runtime-3.5_2.12:<ver> \
      --conf spark.sql.extensions=org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions \
      --conf spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog \
      --conf spark.sql.catalog.lake.type=hadoop \
      --conf spark.sql.catalog.lake.warehouse=s3://... \
      ...
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..config import TableConfig
from ..operators.dedup import lww_dedup
from ..operators.merge import batch_to_state
from ..operators.routing import filter_and_split, ordered_ddls


def iceberg_available(spark: SparkSession) -> bool:
    ext = spark.conf.get("spark.sql.extensions", "") or ""
    return "IcebergSparkSessionExtensions" in ext


def build_create_sql(
    table_ident: str, schema: list[list[str]], num_buckets: int, key: str = "url"
) -> str:
    cols = ",\n  ".join(f"{n} {t}" for n, t in schema)
    hidden = (
        "_lww_ts_us bigint,\n  _lww_pos bigint,\n  _lww_file int,\n  _deleted boolean"
    )
    return (
        f"CREATE TABLE IF NOT EXISTS {table_ident} (\n  {cols},\n  {hidden}\n)\n"
        f"USING iceberg\nPARTITIONED BY (bucket({num_buckets}, {key}))"
    )


def build_merge_sql(table_ident: str, columns: list[str], key: str = "url") -> str:
    """LWW MERGE: update only when the source rank is strictly newer;
    tombstones stay as rows (same semantics as the parquet backend)."""
    # file_seq before log_pos: log_pos resets at binlog rotation (see
    # operators/merge.py module docstring)
    rank_src = "(s._lww_ts_us, s._lww_file, s._lww_pos)"
    rank_tgt = "(t._lww_ts_us, t._lww_file, t._lww_pos)"
    sets = ", ".join(f"t.{c} = s.{c}" for c in columns)
    ins_cols = ", ".join(columns)
    ins_vals = ", ".join(f"s.{c}" for c in columns)
    return (
        f"MERGE INTO {table_ident} t\nUSING batch_updates s\n"
        f"ON t.{key} = s.{key}\n"
        f"WHEN MATCHED AND {rank_src} > {rank_tgt} THEN UPDATE SET {sets}\n"
        f"WHEN NOT MATCHED THEN INSERT ({ins_cols}) VALUES ({ins_vals})"
    )


def build_ddl_sql(table_ident: str, d: dict) -> str:
    if d["kind"] == "add_column":
        return f"ALTER TABLE {table_ident} ADD COLUMN {d['col']} {d.get('dtype') or 'string'}"
    if d["kind"] == "rename_column":
        return f"ALTER TABLE {table_ident} RENAME COLUMN {d['col']} TO {d['new_name']}"
    raise ValueError(f"unknown DDL kind {d['kind']}")


def apply_batch_iceberg(
    spark: SparkSession,
    table_ident: str,
    events: DataFrame,
    cfg: TableConfig,
    column_mapping: dict[str, str],
) -> None:
    """Same apply contract as PagesTable.apply_batch, executed as Iceberg
    DDL + MERGE (idempotence via Iceberg's WAP / snapshot-id ledger table
    would wrap this; left to the cluster deployment)."""
    if not iceberg_available(spark):
        raise RuntimeError(
            "Iceberg extensions not on the classpath — use sink.pages_table "
            "in-sandbox (semantically equivalent), or launch with the "
            "iceberg-spark-runtime package (see module docstring)."
        )
    row_events, ddl_events = filter_and_split(events, cfg.name)
    for d in ordered_ddls(ddl_events):
        spark.sql(build_ddl_sql(table_ident, d))
    state = batch_to_state(row_events, column_mapping, cfg.on_delete)
    deduped = lww_dedup(
        state, list(cfg.key_columns), ["_lww_ts_us", "_lww_file", "_lww_pos"]
    )
    if cfg.transform is not None:
        # the Arrow-level transform (same columns in, same columns out)
        # runs in one mapInArrow pass, as in the pages sink's writer
        fn = cfg.transform

        def transform(batches):
            import pyarrow as pa

            for rb in batches:
                yield from fn(pa.Table.from_batches([rb])).to_batches()

        deduped = deduped.mapInArrow(transform, deduped.schema)
    deduped.createOrReplaceTempView("batch_updates")
    spark.sql(build_merge_sql(table_ident, deduped.columns, cfg.key_columns[0]))
