"""Training-data quality bucketing and sequence packing for a web corpus.

Not in the reference (no scalar operators at all — SURVEY §2.4); these are
last-mile ops an LLM data pipeline runs after filtering/dedup: label each
document by its quality rank within its domain, and pack documents into
fixed token-budget training shards.

Scale design: packing is bucketed — documents hash into 256 independent
pack groups and a window runs WITHIN each group, so no global sort exists
anywhere and per-task state is one running sum. All randomness derives
from md5 hex (lowercase, engine-portable), so the packing is
bit-identical in Spark and any SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mysql_syncer_spark.functions.text import token_count


def quality_buckets(
    df: DataFrame,
    score_col: str,
    by: str = "source",
    cuts: tuple[float, float] = (1.0 / 3.0, 2.0 / 3.0),
    ascending_is_better: bool = True,
) -> DataFrame:
    """CCNet-style per-domain quality bucketing: label each doc head /
    middle / tail by the PERCENT RANK of its quality score within its
    domain (ascending = better by default, matching perplexity-like
    scores such as :func:`~mysql_syncer_spark.functions.text.unigram_nll`
    where low is typical text). Rank-based, not value-interpolated, so
    ties are handled identically in any engine and parity is exact.

    Adds ``q_rank`` (percent_rank, rounded 6) and ``bucket``. This exact
    form sorts each domain in one window partition — fine up to the
    largest domain a task can sort."""
    order = F.col(score_col) if ascending_is_better else F.col(score_col).desc()
    w = Window.partitionBy(by).orderBy(order)
    pr = F.round(F.percent_rank().over(w), 6)
    lo, hi = cuts
    return df.withColumn("q_rank", pr).withColumn(
        "bucket",
        F.when(F.col("q_rank") < lo, F.lit("head"))
        .when(F.col("q_rank") < hi, F.lit("middle"))
        .otherwise(F.lit("tail")),
    )


def pack_sequences(
    df: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_tokens_col: str | None = None,
    seed: str = "pack1",
) -> DataFrame:
    """Pack documents into fixed token-budget training shards.

    Greedy global packing is inherently serial, so documents are hashed
    into 256 independent PACK GROUPS (first 2 md5 hex chars) and packed
    within each group in a deterministic pseudo-shuffle order (the rest of
    the same md5 — doubles as the corpus shuffle every training run needs).
    Within a group, a document is assigned to the shard where its first
    token lands: shard_idx = floor(tokens_before_it / budget) — one
    running-sum window per group, no global sort, bounded task state.
    A document longer than ``budget`` simply spans shards (the trainer's
    splitter handles truncation).

    Output: id, pack_group, shard_idx, start_tok (offset of the doc's
    first token within the group's stream), n_tokens. Shard identity is
    (pack_group, shard_idx)."""
    nt = (
        token_count(F.col(text_col))
        if n_tokens_col is None
        else F.col(n_tokens_col)
    )
    h = F.md5(F.concat(F.lit(seed + "|"), F.col(id_col).cast("string")))
    base = df.select(
        F.col(id_col),
        F.substring(h, 1, 2).alias("pack_group"),
        F.substring(h, 3, 30).alias("ord"),
        nt.cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("pack_group")
        .orderBy("ord", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    start = (cum - F.col("n_tokens")).alias("start_tok")
    return base.select(
        id_col,
        "pack_group",
        F.floor((cum - F.col("n_tokens")) / budget).cast("bigint").alias("shard_idx"),
        start,
        "n_tokens",
    )
