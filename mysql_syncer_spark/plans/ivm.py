"""Incremental materialized-view maintenance over the table's CDC-out
changelog (SURVEY §2.7 build-new; no reference counterpart — the
reference's sink IS the final state, consumers re-scan it).

A grouped-aggregate view (dim → count + sums) is kept current by folding
each snapshot range's changelog into it instead of recomputing from the
table: classic delta-processing IVM (the Flink/Materialize shape) done
with plain DataFrame ops.

Scale: the view delta aggregates the CHANGELOG (O(changed keys), not
O(table)) with map-side partial sums; merging delta into the view is one
equi-join on the dim — the view itself is dims-sized, usually broadcast-
small. Nothing ever rescans the base table.

Algebra: every summable aggregate is maintained as
    +f(after) for the I/U after-image   −f(before) for the U/D before-image
so a row that changes group moves its mass between groups, an in-group
update contributes the net, and count is sum(±1). Groups whose count
reaches 0 are dropped from the view (no zombie dims).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sink import manifest_store


def view_delta(
    changelog: DataFrame,
    dim: Callable[[Callable[[str], Column]], Column],
    metrics: dict[str, Callable[[Callable[[str], Column]], Column]],
) -> DataFrame:
    """Per-dim signed deltas from a ``changes_between(..., with_before=
    True)`` changelog.

    ``dim`` and each metric are functions of a column-getter: they are
    evaluated twice — once over after-image columns (getter returns
    ``col(c)``) and once over before-image columns (getter returns
    ``col(f"before_{c}")``) — so one expression defines both sides.
    Output: _dim, n_rows (±count), plus one signed sum per metric."""

    def after_get(c: str) -> Column:
        return F.col(c)

    def before_get(c: str) -> Column:
        # the key column has no before_ twin (it is the join identity and
        # can never differ between images) — fall through to the shared one
        if f"before_{c}" in changelog.columns:
            return F.col(f"before_{c}")
        return F.col(c)

    add = changelog.filter(F.col("change_op").isin("I", "U")).select(
        dim(after_get).alias("_dim"),
        F.lit(1).alias("_n"),
        *[m(after_get).cast("double").alias(k) for k, m in metrics.items()],
    )
    retract = changelog.filter(F.col("change_op").isin("U", "D")).select(
        dim(before_get).alias("_dim"),
        F.lit(-1).alias("_n"),
        *[(-m(before_get)).cast("double").alias(k) for k, m in metrics.items()],
    )
    return (
        add.unionByName(retract)
        .groupBy("_dim")
        .agg(
            F.sum("_n").alias("n_rows"),
            *[F.sum(k).alias(k) for k in metrics],
        )
    )


def merge_view(view: DataFrame | None, delta: DataFrame) -> DataFrame:
    """Fold a signed delta into the view (full-outer on the dim, summed,
    zero-count groups dropped). ``view=None`` bootstraps from the delta
    alone (the changelog from version 0 IS the initial view input)."""
    if view is None:
        return delta.filter(F.col("n_rows") > 0)
    metric_cols = [c for c in delta.columns if c != "_dim"]
    d = delta.select(
        F.col("_dim").alias("_ddim"),
        *[F.col(c).alias(f"_d_{c}") for c in metric_cols],
    )
    # eqNullSafe: a nullable dim (NULL lang etc.) must fold into ONE
    # group — plain equality never matches NULL, which would accumulate a
    # fresh never-merging NULL-dim row from each side on every sync
    merged = view.join(d, view["_dim"].eqNullSafe(d["_ddim"]), "full_outer")
    out = merged.select(
        F.coalesce(view["_dim"], d["_ddim"]).alias("_dim"),
        *[
            (
                F.coalesce(view[c], F.lit(0.0) if c != "n_rows" else F.lit(0))
                + F.coalesce(F.col(f"_d_{c}"), F.lit(0.0) if c != "n_rows" else F.lit(0))
            ).alias(c)
            for c in metric_cols
        ],
    )
    return out.filter(F.col("n_rows") > 0)


def maintain_view(
    table,
    dim: Callable,
    metrics: dict[str, Callable],
    v_from: int,
    v_to: int | None = None,
    view: DataFrame | None = None,
) -> DataFrame:
    """Advance a grouped-aggregate view from snapshot ``v_from`` to
    ``v_to`` using only the table's changelog between them. Equivalent to
    recomputing the view from the v_to snapshot (tests/test_ivm.py proves
    it stepwise across a full replay), at O(changed keys) cost."""
    log = table.changes_between(v_from, v_to, with_before=True)
    return merge_view(view, view_delta(log, dim, metrics))


def sync_view(
    table,
    view_path: str,
    dim: Callable,
    metrics: dict[str, Callable],
) -> dict:
    """Advance a PERSISTED materialized view to the table's current head
    using only the changelog since the last synced version — the consumer
    loop a downstream team would run on a schedule or per commit
    notification.

    Layout: ``<view_path>/view-v<N>/`` parquet snapshots + an atomically
    renamed ``CURRENT`` JSON recording {table_version, dir}, advanced
    under the manifest store's ``flock`` and never backwards, so two
    concurrent syncers cannot leave it at the older head. Crash-safe
    and idempotent: the fold is a deterministic function of (old view,
    changelog range), and CURRENT flips only after the new snapshot is
    fully written — a re-run after any crash folds the same range again
    from the still-referenced old snapshot. Syncing twice at the same
    head is a no-op."""
    import json
    import os
    import uuid

    spark = table.spark
    head = table.manifest().version
    os.makedirs(view_path, exist_ok=True)
    cur_path = os.path.join(view_path, "CURRENT")
    state = None
    if os.path.exists(cur_path):
        with open(cur_path) as f:
            state = json.load(f)
    last = state["table_version"] if state else 0
    if state and last >= head:
        return {"synced_to": last, "skipped": True}
    view = (
        spark.read.parquet(os.path.join(view_path, state["dir"]))
        if state
        else None
    )
    new_view = maintain_view(table, dim, metrics, last, head, view=view)
    rel = f"view-v{head}-{uuid.uuid4().hex[:8]}"
    new_view.write.mode("error").parquet(os.path.join(view_path, rel))
    # a concurrent syncer that already advanced CURRENT to >= head wins;
    # this sync's snapshot is then an unreferenced orphan
    moved = manifest_store.advance(
        cur_path,
        head,
        json.dumps({"table_version": head, "dir": rel}),
        lambda t: json.loads(t)["table_version"],
    )
    return {"synced_to": head, "from": last, "dir": rel, "skipped": not moved}
