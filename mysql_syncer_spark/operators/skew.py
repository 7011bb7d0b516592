"""Hot-key detection (D2 support): find the heavy-hitter tail that needs
salting before it floods a reducer.

The reference never faces this — one thread applies everything
(/root/reference/src/slave/rs_redis_thread.c). At 10^10 events with zipf
domains, the decision "which keys get a salted two-phase plan" is itself a
query: an approximate frequency pass over the batch keys (count per key is
map-side combined, so the pass costs one light shuffle of (key, count)
partials — no payload).
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


class SkewPlanner:
    """The salting decision carried across a stream of batches (D2), for
    every multi-batch caller (serial, pipelined, topic, raw-binlog and
    streaming replays).

    A probe is the keys-only stats job ``_write_batch_delta`` runs for
    ``carry_salted=None``; it decides salting exactly. Between probes the
    last decision carries and the duplicate share comes free from an
    ``observe()`` node on the write. Under ``skew_probe="auto"`` the first
    batch probes, then a re-probe happens only when that share has moved
    more than ``salt_reprobe_delta`` since the last probe: skew in a CDC
    stream is persistent (hot domains stay hot), so a stable stream never
    pays the probe again while a hot-key flood moves the share.

    ``carry()`` before submitting a batch, ``observe(result)`` in commit
    order. One probe is requested at a time: batches submitted while it
    is in flight (pipelined) run on the carried decision; a skipped batch
    releases the probe it was given."""

    def __init__(self, cfg):
        self.cfg = cfg
        self.salted = False
        self._probe_share: float | None = None  # dup share at the last probe
        self._latest: float | None = None  # dup share of the last batch
        self._probe_pending = False

    @staticmethod
    def resolve(cfg, carry_salted: bool | None) -> bool | None:
        """The decision one ``apply_batch`` runs under, given a caller's
        carried one (None = probe): ``always`` probes every batch,
        ``never`` never probes and salts only on an explicit carry."""
        if cfg.skew_probe == "always":
            return None
        if cfg.skew_probe == "never":
            return bool(carry_salted)
        return carry_salted

    def carry(self) -> bool | None:
        """The next batch's decision: ``None`` requests a probe."""
        if self.cfg.skew_probe != "auto":
            return self.resolve(self.cfg, self.salted)
        want_probe = self._probe_share is None or (
            self._latest is not None
            and abs(self._latest - self._probe_share) > self.cfg.salt_reprobe_delta
        )
        if not want_probe or self._probe_pending:
            return self.salted
        self._probe_pending = True
        return None

    def observe(self, result: dict) -> None:
        """Feed back one batch's result, in commit order."""
        if result.get("skipped"):
            self._probe_pending = False
            return
        if result.get("skew_probed"):
            self._probe_share = result.get("dup_share")
            self.salted = bool(result.get("salted_merge"))
            self._probe_pending = False
        self._latest = result.get("dup_share")
