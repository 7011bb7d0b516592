"""Op routing / event-type dispatch (SURVEY §2.1 S5, §2.4 R1-R2).

The reference dispatches through a 27-entry function table
(/root/reference/src/master/rs_parse_binlog.c:5-57) and a per-table hash
registry (/root/reference/src/slave/rs_register_tables.c:11-36). Columnar
equivalent: ``op`` / ``table`` are plain columns — routing is a filter or a
``when`` branch, and "dispatch to handler" is a driver-side dict lookup
(``plans.replay.replay_multi``, one target table per registered config).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..model import ROW_OPS
from .filters import op_filter, oversized_ddl_filter, table_filter


def split_row_and_ddl(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """One pass → (row_events, ddl_events). Cheap: both sides are scans with
    pushed predicates; Spark reads the parquet twice but prunes aggressively,
    and DDL rows are ~0% of the log."""
    return df.filter(F.col("op").isin(list(ROW_OPS))), df.filter(F.col("op") == "DDL")


def filter_and_split(df: DataFrame, table: str) -> tuple[DataFrame, DataFrame]:
    """A sink's filter chain for one batch of ``table``: F1 table filter →
    F3 oversized-DDL skip → split → F2 on the row side. Returns
    (row_events, ddl_events)."""
    rows, ddl = split_row_and_ddl(oversized_ddl_filter(table_filter(df, [table])))
    return op_filter(rows), ddl


def ordered_ddls(ddl_events: DataFrame) -> list[dict]:
    """A batch's DDL rows as dicts, in log order (file_seq, log_pos) — the
    order its schema changes must apply in."""
    return [
        r.asDict()
        for r in ddl_events.select("ddl.*", "file_seq", "log_pos")
        .orderBy("file_seq", "log_pos")
        .collect()
    ]
