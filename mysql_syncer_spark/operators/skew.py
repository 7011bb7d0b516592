"""Hot-key detection (D2 support): find the heavy-hitter tail of a key
column before it floods a reducer.

The reference never faces this — one thread applies everything
(/root/reference/src/slave/rs_redis_thread.c). At 10^10 events with zipf
domains, "which keys are hot" is itself a query: an approximate frequency
pass over the batch keys (count per key is map-side combined, so the pass
costs one light shuffle of (key, count) partials — no payload). Callers
that find hot keys can switch ``lww_dedup`` to ``method='salted'``.

The pages sink does not use this module: its keys-only probe
(sink/pages_table.py) sends a hot or duplicate-heavy batch to the winner
pre-filter, which drops every losing row before the payload exchange, so
a flooded key reaches its reducer as one row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hot_key_candidates(
    df: DataFrame,
    key_cols: list[str],
    min_share: float = 0.01,
    top_k: int = 50,
) -> DataFrame:
    """Keys holding ≥ ``min_share`` of the rows, ranked; at most ``top_k``.
    Output: *key_cols, n_rows, share (rounded 6), rank.
    ONE scan of the input: the total comes from summing the (key, count)
    partials, not a second count(*) pass — both branches consume the same
    groupBy exchange, which Spark's ReuseExchange serves once. The total is
    a 1-row broadcast join, bounded at any scale."""
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n_rows"))
    total = counts.agg(F.sum("n_rows").alias("_total"))
    from pyspark.sql import Window

    ranked = (
        counts.join(F.broadcast(total))
        .withColumn("share", F.round(F.col("n_rows") / F.col("_total"), 6))
        .drop("_total")
        .filter(F.col("share") >= min_share)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.desc("n_rows"), *[F.asc(c) for c in key_cols])
            ),
        )
        .filter(F.col("rank") <= top_k)
    )
    return ranked


def needs_salting(df: DataFrame, key_cols: list[str], threshold: float = 0.05) -> bool:
    """Planner heuristic: True when any single key exceeds ``threshold`` of
    the batch — the signal to switch lww_dedup to method='salted'."""
    hot = hot_key_candidates(df, key_cols, min_share=threshold, top_k=1)
    return len(hot.take(1)) > 0

