"""Bucket-partitioned, snapshot-versioned target table with atomic commits,
an idempotent batch ledger, transactional schema evolution, and per-bucket
lineage — the engine's sink (SURVEY §2.5 + §2.7 D3/D5).

This is the pure-parquet stand-in for an Iceberg table (the sandbox has no
Iceberg jars — SURVEY §4 item 5, §7.4 risk 1). It reproduces the parts of
the Iceberg model the CDC engine depends on, so swapping in real Iceberg is
a storage change, not a semantics change:

- **Snapshot isolation / atomic commit**: every ``apply_batch`` writes new
  data files, then commits ONE manifest JSON via atomic rename. Readers see
  the previous complete snapshot until the rename lands. A crash between
  data write and manifest commit leaves orphan files and no state change.
- **Merge-on-read deltas + threshold compaction** (Iceberg MoR parity):
  each batch writes only its OWN winners as a bucket-partitioned delta —
  per-batch write cost is O(batch), not O(table). Readers LWW-merge the
  bucket's delta vintages (exactly Iceberg's merge-on-read); when a
  bucket accumulates more than ``compact_threshold`` vintages it is
  compacted back to one file in the same atomic commit, bounding read
  amplification. Copy-on-write (the round-1 design) re-read and re-wrote
  every touched bucket per batch — a uniformly-keyed stream touches ALL
  buckets, so CoW cost per batch was O(table): quadratic total work over
  a replay. MoR makes replay work O(events + table·vintages/threshold).
  The table stays hash-bucketed on the key (``pmod(xxhash64(url), N)`` ≈
  Iceberg ``bucket(N, url)``), so bucket pruning and co-located merges
  are unchanged.
- **Exactly-once**: the manifest carries ``committed_batches``; re-applying
  a committed batch_id is a no-op (the reference gets only at-least-once +
  idempotent SET — SURVEY §3.2; this is strictly stronger). The ledger and
  the data commit are the SAME atomic rename, so there is no window where
  one is visible without the other.
- **Transactional schema evolution**: a batch's DDL events mutate the
  manifest schema/column-mapping in the same commit as its data (D3). The
  reference only passes DDL text through (/root/reference/src/master/
  rs_parse_binlog.c:119-185); applying it is new capability.
- **Heartbeat**: an empty/fully-filtered batch still commits a manifest
  (position advances with no data — /root/reference/src/master/
  rs_filter_binlog.c:22-27 semantics).
- **Lineage + metrics** (D5): per-bucket {writing batch, rows, files} in
  the manifest; per-commit metrics history readable via ``metrics_history``.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import TableConfig
from ..model import DDL_DTYPES
from ..operators.filters import op_filter, oversized_ddl_filter, table_filter
from ..operators.merge import batch_to_state, live_view
from ..operators.routing import split_row_and_ddl
from ..operators.skew import SkewPlanner
from . import manifest_store
from .manifest_store import CommitConflictError


def _fold_result(fut):
    """(snapshot, dirs, rows) of a finished fold compute, or None when it
    failed. Best-effort maintenance never fails the run whose batches it
    serves (they are already committed): the fold is dropped with a
    warning, and its written dirs are unreferenced orphans vacuum()
    removes."""
    try:
        return fut.result()
    except Exception as e:
        import warnings

        warnings.warn(f"compaction failed, fold dropped: {e!r}", stacklevel=3)
        return None

BASE_SCHEMA: list[list[str]] = [
    ["url", "string"],
    ["warc_ts", "timestamp"],
    ["html", "binary"],
    ["text", "string"],
    ["lang", "string"],
]
_HIDDEN_DDL = [
    ["_lww_ts_us", "bigint"],
    ["_lww_pos", "bigint"],
    ["_lww_file", "int"],
    ["_deleted", "boolean"],
]

# Tiered compaction: a fold touches the bucket's base vintage only when
# the delta tail has grown to this fraction of it (see _plan_fold).
_MAJOR_FOLD_RATIO = 0.5


@dataclass
class Manifest:
    version: int
    num_buckets: int
    schema: list[list[str]]  # [name, spark simpleString dtype]
    column_mapping: dict[str, str]  # wire field -> target column
    renames: list[list[str]]  # accumulated [old, new]
    buckets: dict[str, list]  # bucket id (str) -> delta dirs, oldest first
    committed_batches: list[str]
    lineage: dict[str, dict]  # bucket id -> {batch_id, rows}
    metrics: dict
    # compacted-ledger watermarks: prefix -> max contiguous committed id
    ledger_watermarks: dict = None  # type: ignore[assignment]
    # MoR knobs: read-side LWW keys + max delta vintages before compaction
    key_columns: list = None  # type: ignore[assignment]
    compact_threshold: int = 8
    # JVM xxhash64 of xxhash.CANARY_KEY, captured at create: lookups verify
    # the local hash twin against it before routing reads by a local bucket
    xxh64_canary: int | None = None
    # field-id-style drop/re-add safety (Iceberg uses numeric field ids;
    # we use a per-name generation): dropped_gens counts drops per column
    # name, physical maps a re-added logical name to its generation-
    # suffixed on-disk name so pre-drop file vintages can never resurrect
    physical: dict = None  # type: ignore[assignment]  # logical -> on-disk
    dropped_gens: dict = None  # type: ignore[assignment]  # name -> n drops

    def __post_init__(self) -> None:
        if self.ledger_watermarks is None:
            self.ledger_watermarks = {}
        if self.key_columns is None:
            self.key_columns = ["url"]
        if self.physical is None:
            self.physical = {}
        if self.dropped_gens is None:
            self.dropped_gens = {}
        # round-1 manifests stored one dir per bucket
        self.buckets = {
            b: (d if isinstance(d, list) else [d]) for b, d in self.buckets.items()
        }

    def to_json(self) -> str:
        return json.dumps(self.__dict__, indent=1, sort_keys=True)

    @staticmethod
    def from_json(s: str) -> "Manifest":
        return Manifest(**json.loads(s))


class PagesTable:
    """One replicated target table (the analogue of a registered handler +
    its Redis keyspace, /root/reference/src/slave/rs_register_tables.c:6-9).
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    # ------------------------------------------------------------------
    # lifecycle
    # ------------------------------------------------------------------
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        num_buckets: int = 64,
        schema: list[list[str]] | None = None,
        key_columns: tuple[str, ...] = ("url",),
        compact_threshold: int = 8,
    ) -> "PagesTable":
        from ..xxhash import CANARY_KEY

        os.makedirs(manifest_store.versions_dir(path), exist_ok=True)
        os.makedirs(os.path.join(path, "data"), exist_ok=True)
        t = cls(spark, path)
        schema = [list(x) for x in (schema or BASE_SCHEMA)]
        # one tiny JVM job, once per table: the stored canary lets every
        # future point lookup trust the LOCAL xxhash64 twin (no Spark job
        # on the read path)
        canary = int(
            spark.createDataFrame([(CANARY_KEY,)], "k string")
            .select(F.xxhash64("k").alias("h"))
            .head()["h"]
        )
        m = Manifest(
            version=0,
            num_buckets=num_buckets,
            schema=schema,
            column_mapping={c: c for c, _ in schema},
            renames=[],
            buckets={},
            committed_batches=[],
            lineage={},
            metrics={},
            key_columns=list(key_columns),
            compact_threshold=compact_threshold,
            xxh64_canary=canary,
        )
        t._commit(m)
        return t

    @classmethod
    def exists(cls, path: str) -> bool:
        return manifest_store.exists(path)

    @classmethod
    def open(cls, spark: SparkSession, path: str, num_buckets: int = 64) -> "PagesTable":
        """The table at ``path``, created with ``num_buckets`` if absent."""
        if manifest_store.exists(path):
            return cls(spark, path)
        return cls.create(spark, path, num_buckets=num_buckets)

    def manifest(self, version: int | None = None) -> Manifest:
        """CURRENT manifest, or a historical snapshot (time travel — every
        commit's manifest persists until expired; vacuum() GCs only data
        dirs the CURRENT snapshot no longer references, so travel depth is
        bounded by vacuum cadence, exactly Iceberg expire_snapshots)."""
        return Manifest.from_json(manifest_store.load(self.path, version))

    def _commit(self, m: Manifest) -> None:
        """Atomic + optimistic (sink/manifest_store.py): a lost version
        race raises CommitConflictError; the caller rebases on the fresh
        manifest and retries."""
        manifest_store.commit(self.path, m.version, m.to_json())

    # ------------------------------------------------------------------
    # read
    # ------------------------------------------------------------------
    def _read_buckets(self, m: Manifest, bucket_ids: list[int] | None) -> DataFrame | None:
        """Scan the data files of the given buckets (None = all), aligned to
        the manifest schema + hidden columns. Bucket pruning = reading only
        these dirs; Iceberg would do the same from its manifest lists."""
        if bucket_ids is None:
            dirs = [d for lst in m.buckets.values() for d in lst]
        else:
            dirs = [
                d
                for b in bucket_ids
                if str(b) in m.buckets
                for d in m.buckets[str(b)]
            ]
        if not dirs:
            return None
        paths = [os.path.join(self.path, d) for d in sorted(set(dirs))]
        # Explicit manifest-derived schema instead of mergeSchema=true:
        # schema merging reads EVERY file's footer on the driver, a per-
        # batch cost that grows with table file count; the manifest already
        # knows the union schema (current names + pre-rename names still
        # present in old file vintages). Files missing a column are
        # NULL-filled by the reader; _align coalesces old→new.
        df = self.spark.read.schema(self._read_schema(m)).parquet(*paths)
        return self._align(df, m)

    def _read_schema(self, m: Manifest):
        from pyspark.sql.types import StructType

        phys = m.physical or {}
        # generation-bound columns are read under their ON-DISK name;
        # older generations of the same logical name (pre-drop vintages)
        # are simply never requested — the resurrection guard
        cols: dict[str, str] = {
            phys.get(n, n): t for n, t in list(m.schema)
        } | {n: t for n, t in _HIDDEN_DDL}
        dtype_of = dict(cols)
        # old rename names may still exist in earlier file vintages; they
        # carry the same dtype as their current name (walk chains forward)
        for old, new in reversed(list(m.renames)):
            if new in dtype_of:
                dtype_of[old] = dtype_of[new]
        for old, new in m.renames:
            if old not in cols and old in dtype_of:
                cols[old] = dtype_of[old]
        ddl = ", ".join(f"`{n}` {t}" for n, t in cols.items())
        return StructType.fromDDL(ddl)

    def _align(self, df: DataFrame, m: Manifest) -> DataFrame:
        """Apply accumulated renames (coalesce old→new across file vintages)
        then project to manifest schema + hidden columns, NULL-filling
        columns added after a file was written."""
        for logical, p in (m.physical or {}).items():
            if p in df.columns and logical not in df.columns:
                df = df.withColumnRenamed(p, logical)
        for old, new in m.renames:
            if old in df.columns and new in df.columns:
                df = df.withColumn(new, F.coalesce(F.col(new), F.col(old))).drop(old)
            elif old in df.columns:
                df = df.withColumnRenamed(old, new)
        cols = []
        for name, dtype in list(m.schema) + _HIDDEN_DDL:
            if name in df.columns:
                cols.append(F.col(name))
            else:
                cols.append(F.lit(None).cast(dtype).alias(name))
        return df.select(*cols)

    def state(self, version: int | None = None) -> DataFrame | None:
        """Full internal state (incl. tombstones + hidden cols), CURRENT or
        at a historical snapshot ``version`` (time travel).

        Merge-on-read: a key may appear in several delta vintages of its
        bucket; the reader LWW-merges them (Iceberg MoR semantics). When
        every bucket holds a single vintage (fresh table or just
        compacted), the merge is skipped — the scan is served as-is."""
        m = self.manifest(version)
        raw = self._read_buckets(m, None)
        if raw is None:
            return None
        if all(len(v) <= 1 for v in m.buckets.values()):
            return raw
        from ..operators.dedup import lww_dedup  # local: avoid cycle

        return lww_dedup(
            raw, list(m.key_columns), ["_lww_ts_us", "_lww_file", "_lww_pos"]
        )

    def read(self, version: int | None = None) -> DataFrame:
        """Public snapshot view (live rows, user columns), optionally AS OF
        an older committed version."""
        st = self.state(version)
        if st is None:
            m = self.manifest(version)
            fields = ", ".join(f"`{n}` {t}" for n, t in m.schema)
            return self.spark.createDataFrame([], schema=fields)
        return live_view(st)

    def version_as_of(self, ts_ms: int) -> int:
        """Newest committed version whose commit wall clock is <= ts_ms
        (Iceberg timestamp-based time travel). Driver-side walk of the
        O(retained versions) manifest JSONs; versions predating the
        commit_ts_ms metric count as arbitrarily old."""
        best = None
        for mj in manifest_store.load_all(self.path):
            cts = (mj.get("metrics") or {}).get("commit_ts_ms", 0)
            if int(cts) <= ts_ms:
                best = int(mj["version"])
        if best is None:
            raise ValueError(f"no committed version at or before ts {ts_ms}")
        return best

    def read_as_of(self, ts_ms: int) -> DataFrame:
        """Snapshot view as of a WALL-CLOCK instant (commit time)."""
        return self.read(version=self.version_as_of(ts_ms))

    def replication_lag_ms(self) -> int | None:
        """Commit-time minus event-time high-water of the latest data
        commit — the replication-lag gauge a monitoring stack alerts on.
        None until a batch with events has committed."""
        m = self.manifest()
        met = m.metrics or {}
        wm_us = int(met.get("max_event_ts_us", 0) or 0)
        cts = int(met.get("commit_ts_ms", 0) or 0)
        if not wm_us or not cts:
            return None
        return max(0, cts - wm_us // 1000)

    def changes_between(
        self, v_from: int, v_to: int | None = None, with_before: bool = False
    ) -> DataFrame:
        """Incremental changelog (CDC OUT — Iceberg incremental read): the
        net change per key between two committed snapshots, classified as
        I (new/resurrected live row), U (live row whose LWW rank advanced),
        D (live row tombstoned). Unchanged keys are excluded, so a reader
        consuming the changelog applies exactly the delta. Implemented as
        one full-outer join of the two snapshot states on the key —
        tombstones persist across snapshots, so no key silently vanishes.

        ``with_before=True`` adds ``before_<col>`` columns carrying the
        v_from live payload (NULL for I rows) — the Debezium-style before
        image that retraction consumers (incremental view maintenance,
        downstream deletes) need: a D/U row's new-side payload cannot tell
        you which group/amount to retract."""
        m = self.manifest()
        key = m.key_columns[0]
        rank_cols = ["_lww_ts_us", "_lww_file", "_lww_pos"]
        s0 = self.state(v_from)
        s1 = self.state(v_to)
        if s1 is None:
            fields = f"`{key}` string, `change_op` string"
            return self.spark.createDataFrame([], schema=fields)
        payload = [c for c in s1.columns if not c.startswith("_") and c != key]
        new = s1.select(
            F.col(key).alias("_k1"),
            F.struct(*rank_cols).alias("_r1"),
            F.col("_deleted").alias("_d1"),
            *[c for c in s1.columns if not c.startswith("_")],
        )
        before_cols = []
        if s0 is None:
            j = new.withColumn("_k0", F.lit(None).cast("string")).withColumn(
                "_r0", F.lit(None).cast(new.schema["_r1"].dataType)
            ).withColumn("_d0", F.lit(None).cast("boolean"))
            if with_before:
                for c in payload:
                    j = j.withColumn(
                        f"before_{c}", F.lit(None).cast(s1.schema[c].dataType)
                    )
                    before_cols.append(f"before_{c}")
        else:
            old_sel = [
                F.col(key).alias("_k0"),
                F.struct(*rank_cols).alias("_r0"),
                F.col("_deleted").alias("_d0"),
            ]
            if with_before:
                for c in payload:
                    if c in s0.columns:
                        old_sel.append(F.col(c).alias(f"before_{c}"))
                    else:  # column added by post-v_from DDL
                        old_sel.append(
                            F.lit(None).cast(s1.schema[c].dataType).alias(f"before_{c}")
                        )
                    before_cols.append(f"before_{c}")
            old = s0.select(*old_sel)
            j = new.join(old, new._k1 == old._k0, "full_outer")
        live0 = F.col("_k0").isNotNull() & ~F.coalesce(F.col("_d0"), F.lit(True))
        live1 = F.col("_k1").isNotNull() & ~F.coalesce(F.col("_d1"), F.lit(True))
        change = (
            F.when(~live0 & live1, "I")
            .when(live0 & ~live1, "D")
            .when(live0 & live1 & (F.col("_r0") != F.col("_r1")), "U")
        )
        return (
            j.withColumn("change_op", change)
            .filter(F.col("change_op").isNotNull())
            .select(
                F.coalesce(F.col("_k1"), F.col("_k0")).alias(key),
                "change_op",
                *payload,
                *before_cols,
            )
        )

    def history(self) -> DataFrame:
        """Commit history as a DataFrame — the Iceberg ``snapshots`` /
        ``history`` metadata-table parity surface. One row per persisted
        manifest version with its commit metrics (events_in, dedup_hits,
        merge_ms, ...). Reads only the O(versions) manifest JSONs on the
        driver — no data files touched."""
        rows = []
        for mj in manifest_store.load_all(self.path):
            met = mj.get("metrics") or {}
            rows.append(
                (
                    int(mj["version"]),
                    met.get("batch_id"),
                    int(met.get("events_in", 0)),
                    int(met.get("rows_after_dedup", 0)),
                    int(met.get("dedup_hits", 0)),
                    int(met.get("ddl_applied", 0)),
                    int(met.get("buckets_touched", 0)),
                    int(met.get("merge_ms", 0)),
                    int(met.get("compacted_buckets", 0)),
                    len(mj.get("committed_batches", []))
                    + sum(
                        int(w) + 1
                        for w in (mj.get("ledger_watermarks") or {}).values()
                    ),
                )
            )
        return self.spark.createDataFrame(
            rows,
            "version int, batch_id string, events_in long, "
            "rows_after_dedup long, dedup_hits long, ddl_applied int, "
            "buckets_touched int, merge_ms long, compacted_buckets int, "
            "ledger_entries long",
        )

    def lookup(self, key_value) -> DataFrame:
        """Point read by key: hash to the bucket LOCALLY (pure-Python
        xxhash64 twin — no Spark job on the probe path; ~100 ms of driver
        latency per read saved), scan ONLY that bucket's delta dirs
        (manifest-level pruning — the Iceberg partition-pruned point
        lookup), LWW-merge its vintages, filter live. At any table size
        the scan touches one bucket's files."""
        from ..xxhash import bucket_of, canary_hash

        m = self.manifest()
        stored = getattr(m, "xxh64_canary", None)
        if stored is not None and int(stored) != canary_hash():
            raise RuntimeError(
                "local xxhash64 twin disagrees with the JVM canary stored "
                "at table create — refusing to route a point read"
            )
        bucket = bucket_of([key_value], m.num_buckets)
        raw = self._read_buckets(m, [int(bucket)])
        if raw is None:
            fields = ", ".join(f"`{n}` {t}" for n, t in m.schema)
            return self.spark.createDataFrame([], schema=fields)
        raw = raw.filter(F.col(m.key_columns[0]) == key_value)
        from ..operators.dedup import lww_dedup  # local: avoid cycle

        merged = lww_dedup(
            raw, list(m.key_columns), ["_lww_ts_us", "_lww_file", "_lww_pos"]
        )
        return live_view(merged)

    def lookup_many(self, key_values: list) -> DataFrame:
        """Batched point reads: hash every key LOCALLY, scan only the
        union of touched buckets (k keys touch ≤ min(k, num_buckets)
        buckets — at production bucket counts a 100-key batch reads a
        handful of files), LWW-merge, filter to the key set. Same
        local-hash canary guard as lookup()."""
        from ..operators.dedup import lww_dedup  # local: avoid cycle
        from ..xxhash import bucket_of, canary_hash

        m = self.manifest()
        stored = getattr(m, "xxh64_canary", None)
        if stored is not None and int(stored) != canary_hash():
            raise RuntimeError(
                "local xxhash64 twin disagrees with the JVM canary stored "
                "at table create — refusing to route point reads"
            )
        keys = list(dict.fromkeys(key_values))
        if not keys:
            fields = ", ".join(f"`{n}` {t}" for n, t in m.schema)
            return self.spark.createDataFrame([], schema=fields)
        buckets = sorted({bucket_of([k], m.num_buckets) for k in keys})
        raw = self._read_buckets(m, [int(b) for b in buckets])
        if raw is None:
            fields = ", ".join(f"`{n}` {t}" for n, t in m.schema)
            return self.spark.createDataFrame([], schema=fields)
        raw = raw.filter(F.col(m.key_columns[0]).isin(*keys))
        merged = lww_dedup(
            raw, list(m.key_columns), ["_lww_ts_us", "_lww_file", "_lww_pos"]
        )
        return live_view(merged)

    # ------------------------------------------------------------------
    # write
    # ------------------------------------------------------------------
    def apply_batch(
        self,
        batch_id: int | str,
        events: DataFrame,
        cfg: TableConfig | None = None,
        carry_salted: bool | None = None,
        ddls: list[dict] | None = None,
        inline_compact: bool = True,
    ) -> dict:
        """Apply one micro-batch of CDC events. Idempotent on ``batch_id``.

        ``inline_compact=False``: skip the synchronous threshold fold in
        this commit — for callers that run compaction on a maintenance
        thread and land its result as a separate commit
        (streaming/runner.py), so the table-sized fold never sits inside
        a micro-batch trigger.

        ``carry_salted``: a caller that streams many batches carries its
        ``SkewPlanner``'s decision here to SKIP the keys-only probe job
        (``apply_batches``, the streaming foreachBatch sink); None probes.
        ``ddls``: this batch's DDL dicts when the caller pre-collected
        them for the whole log in ONE pushed-predicate scan (plans/replay)
        — skips the per-batch DDL collect job; None collects here.

        Pipeline — ONE payload shuffle total:
        filter (F1-F4) → split row/DDL → DDL → manifest schema (D3) →
        project via column mapping → [light keys-only pass: touched buckets
        + event counts, column-pruned scan, no payload] → union touched-
        bucket state → repartition by bucket (the one payload shuffle) →
        groupBy(bucket, key) LWW max_by — batch dedup and merge collapse
        into one aggregate, and hash(bucket) already satisfies its
        distribution so NO second exchange → transform (D4: extraction
        fills only newly-won rows) → bucket-partitioned write with no
        repartition (data is already bucket-clustered) → atomic manifest
        commit (ledger + lineage).
        """
        t0 = time.time()
        profile = os.environ.get("MSSS_PROFILE") == "1"
        marks: list[tuple[str, float]] = []

        def mark(label: str) -> None:
            if profile:
                marks.append((label, time.time() - t0))

        bid = str(batch_id)
        m = self.manifest()
        cfg = cfg or TableConfig(name="web.pages")
        if self._is_committed(m, bid):
            return {"batch_id": bid, "skipped": True, "reason": "already committed"}
        self._check_ledger_gap(m, bid)

        events = table_filter(events, [cfg.name])
        events = oversized_ddl_filter(events)
        row_events, ddl_events = split_row_and_ddl(events)
        row_events = op_filter(row_events)

        # --- DDL → schema/mapping mutation (applied before the merge,
        # committed atomically with it) --------------------------------
        if ddls is None:
            ddls = [
                r.asDict()
                for r in ddl_events.select("ddl.*", "file_seq", "log_pos")
                .orderBy("file_seq", "log_pos")
                .collect()
            ]
        n_ddl = len(ddls)
        for d in ddls:
            self._apply_ddl(m, d)
        mark("ddl_collect")

        delta = self._write_batch_delta(
            row_events,
            cfg,
            dict(m.column_mapping),
            m.num_buckets,
            mark,
            carry_salted=SkewPlanner.resolve(cfg, carry_salted),
            target_types=dict(m.schema),
            physical=dict(m.physical or {}),
        )
        res = self._commit_batch(
            m, bid, delta, n_ddl, t0, mark,
            inline_compact=inline_compact,
            rebase=lambda fm: [self._apply_ddl(fm, d) for d in ddls],
        )
        if profile:
            deltas = [
                f"{label}={t - (marks[i-1][1] if i else 0):.1f}s"
                for i, (label, t) in enumerate(marks)
            ]
            print(f"[profile batch {bid}] " + " ".join(deltas), flush=True)
        return res

    def _commit_batch(
        self,
        m: Manifest,
        bid: str,
        delta: dict,
        n_ddl: int,
        t0: float,
        mark=lambda label: None,
        inline_compact: bool = True,
        rebase=None,
    ) -> dict:
        """Register a written delta + run threshold compaction + commit the
        manifest atomically (ledger + lineage + schema in one rename).
        ``inline_compact=False`` (pipelined mode) skips the synchronous
        fold — the caller runs compaction ASYNCHRONOUSLY and folds its
        result into a later ordered commit (Iceberg's async
        rewrite_data_files shape), so the table-sized merge never sits in
        the serial commit path.

        Optimistic concurrency: a lost version race reloads the manifest,
        replays ``rebase(fresh)`` (the caller's DDL mutations), re-registers
        the delta, and retries — the written delta dirs are version-free so
        a rebase never rewrites data. If the SAME batch id landed via a
        concurrent writer, returns skipped (exactly-once across writers)."""
        new_dirs, lineage_rows = delta["new_dirs"], delta["lineage_rows"]
        rows_in_batch = sum(lineage_rows.values())
        while True:
            m.version += 1
            for b, d in new_dirs.items():
                m.buckets.setdefault(b, []).append(d)
                m.lineage[b] = {"batch_id": bid, "rows": lineage_rows.get(b, 0)}

            # --- threshold compaction, same atomic commit --------------
            # buckets past compact_threshold vintages fold back to ONE
            # file; read amplification stays bounded while per-batch write
            # cost stays O(batch). Rows are already transformed —
            # extraction never re-runs at compaction.
            over = [
                b for b, lst in m.buckets.items() if len(lst) > m.compact_threshold
            ]
            # metric counts buckets the fold PLAN actually touched, not
            # merely past-threshold — _plan_fold may skip some or all
            n_compacted = 0
            if over and inline_compact:
                fold_map = self._plan_fold(m, over)
                if fold_map:
                    self._compact_buckets(
                        m, list(fold_map), bid, fold_map=fold_map
                    )
                    n_compacted = len(fold_map)
                    mark("compaction")
            m.committed_batches.append(bid)
            # inline ledger fold: contiguous numeric ids collapse into the
            # prefix watermark ON EVERY COMMIT, so the manifest stays
            # O(buckets + out-of-order window) over a 10^6-batch replay
            # instead of growing one ledger entry per commit
            # (compact_ledger() remains for one-off maintenance).
            self._fold_ledger(m)
            events_in = delta["events_in"]
            m.metrics = {
                "batch_id": bid,
                "events_in": events_in,
                "rows_after_dedup": rows_in_batch,  # winner rows written
                # events folded away by the batch-level LWW reduction
                "dedup_hits": max(0, events_in - rows_in_batch),
                "ddl_applied": n_ddl,
                "buckets_touched": len(new_dirs),
                "merge_ms": int((time.time() - t0) * 1000),
                # event-time high-water of the batch + commit wall clock:
                # commit_ts_ms - watermark/1000 IS the replication lag a
                # monitoring stack alerts on (D5), and commit_ts_ms gives
                # wall-clock time travel (read_as_of)
                # carried FORWARD across commits: a fully-filtered
                # (heartbeat/empty) batch contributes 0 and must not
                # knock out the gauge exactly when heartbeats are meant
                # to keep it alive
                "max_event_ts_us": max(
                    int(delta.get("max_event_ts_us", 0) or 0),
                    int((m.metrics or {}).get("max_event_ts_us", 0) or 0),
                ),
                "commit_ts_ms": int(time.time() * 1000),
                "salted_merge": bool(delta["use_salted"]),
                "max_key_rows": delta["max_key_rows"],
                "skew_probed": bool(delta.get("skew_probed", True)),
                "dup_share": delta.get("dup_share", 0.0),
                "compacted_buckets": n_compacted,
            }
            try:
                self._commit(m)
                break
            except CommitConflictError:
                fresh = self.manifest()
                if self._is_committed(fresh, bid):
                    self._manifest_after_commit = fresh
                    return {
                        "batch_id": bid,
                        "skipped": True,
                        "reason": "committed by concurrent writer",
                    }
                if rebase is not None:
                    rebase(fresh)
                m = fresh
        mark("commit")
        # pipelined callers rebind their shared manifest to this object
        # after a rebase (the original reference is stale post-conflict)
        self._manifest_after_commit = m
        return dict(m.metrics, skipped=False)

    def apply_batches(
        self,
        batches,
        cfg: TableConfig | None = None,
        ddl_index: dict[str, list[dict]] | None = None,
    ) -> list[dict]:
        """Apply an ORDERED stream of ``(batch_id, events)`` batches one at
        a time — the serial twin of ``apply_batches_pipelined``, with the
        salting decision carried between batches by one ``SkewPlanner``.
        ``ddl_index`` (batch_id → DDL dicts, pre-collected for the whole
        log) skips each batch's DDL collect job; None collects per batch."""
        cfg = cfg or TableConfig(name="web.pages")
        planner = SkewPlanner(cfg)
        results = []
        for batch_id, events in batches:
            res = self.apply_batch(
                batch_id, events, cfg,
                carry_salted=planner.carry(),
                ddls=None if ddl_index is None else ddl_index.get(str(batch_id), []),
            )
            planner.observe(res)
            results.append(res)
        return results

    def apply_batches_pipelined(
        self,
        batches,
        cfg: TableConfig | None = None,
        depth: int = 4,
        ddl_index: dict[str, list[dict]] | None = None,
    ) -> list[dict]:
        """Apply an ORDERED stream of ``(batch_id, events)`` batches with up
        to ``depth`` delta writes in flight (merge-on-read makes batch
        deltas independent: only the manifest commit must stay ordered,
        like the reference's pipelined group commit —
        /root/reference/src/slave/rs_redis_thread.h:10, depth 36).

        DDL ordering: callers pass ``ddl_index`` (batch_id → DDL dicts,
        pre-collected in ONE pushed-predicate scan of the whole log). Each
        batch's DDLs are applied at SUBMIT time to a PLANNING COPY of the
        manifest (so concurrent batches each project with exactly the
        schema at their log position) but mutate the REAL manifest only
        inside the batch's own ordered commit — the committed snapshot for
        batch K (and any time-travel read of it) can therefore never carry
        schema changes from later, not-yet-committed batches, and schema
        visibility stays behind the exactly-once ledger across a crash.
        Exactly-once: commits happen strictly in order; a crash leaves only
        orphan delta dirs (vacuum()-able), never a half commit."""
        from concurrent.futures import ThreadPoolExecutor, wait

        cfg = cfg or TableConfig(name="web.pages")
        m = self.manifest()
        plan_m = Manifest.from_json(m.to_json())  # submit-time schema view
        ddl_index = ddl_index or {}
        results: list[dict] = []
        inflight: list[tuple[str, list[dict], float, object]] = []
        planner = SkewPlanner(cfg)

        # Async threshold compaction (Iceberg async rewrite_data_files):
        # the table-sized fold never sits in the serial commit path — it
        # runs on a maintenance thread over a FROZEN vintage snapshot and
        # its result folds into a later ordered commit. Vintage count can
        # exceed compact_threshold by the batches that land while a fold
        # is in flight — still bounded.
        compaction: dict = {"fut": None}
        maintenance = ThreadPoolExecutor(max_workers=1)

        def fold_compaction_if_ready(bid: str) -> bool:
            """Fold a finished compute into ``m``; False when none was
            ready or it failed (dropped)."""
            fut = compaction["fut"]
            if fut is None or not fut.done():
                return False
            compaction["fut"] = None
            res = _fold_result(fut)
            if res is None:
                return False
            snapshot, cdirs, crows = res
            for b, old in snapshot.items():
                if b not in cdirs:
                    continue
                tail = [x for x in m.buckets.get(b, []) if x not in old]
                m.buckets[b] = [cdirs[b]] + tail
                m.lineage[b] = {"batch_id": bid, "rows": crows.get(b, 0)}
            return True

        def schedule_compaction_if_needed() -> None:
            if compaction["fut"] is not None:
                return
            over = [
                b for b, lst in m.buckets.items() if len(lst) > m.compact_threshold
            ]
            if over:
                fold_map = self._plan_fold(m, over)
                if not fold_map:
                    return
                frozen = Manifest.from_json(m.to_json())
                compaction["fut"] = maintenance.submit(
                    self._compact_compute,
                    frozen,
                    list(fold_map),
                    fold_map=fold_map,
                )

        # MSSS_PROFILE=1: decompose the serial (ordered-commit) floor —
        # wait = head delta not ready (pipeline starved, parallel work),
        # the rest is true main-thread serial cost per batch
        prof = os.environ.get("MSSS_PROFILE") == "1"
        agg = {"wait": 0.0, "ddl": 0.0, "fold": 0.0, "commit": 0.0,
               "sched": 0.0, "submit": 0.0}

        def commit_head() -> None:
            nonlocal m
            bid, ddls, t0, fut = inflight.pop(0)
            tw = time.time()
            delta = fut.result()
            agg["wait"] += time.time() - tw
            tw = time.time()
            for d in ddls:  # buffered: manifest mutates with ITS commit
                self._apply_ddl(m, d)
            agg["ddl"] += time.time() - tw
            tw = time.time()
            fold_compaction_if_ready(bid)
            agg["fold"] += time.time() - tw
            tw = time.time()
            res = self._commit_batch(
                m, bid, delta, len(ddls), t0, inline_compact=False,
                rebase=lambda fm, _ds=ddls: [self._apply_ddl(fm, d) for d in _ds],
            )
            planner.observe(res)
            results.append(res)
            agg["commit"] += time.time() - tw
            m = self._manifest_after_commit  # follow any conflict rebase
            tw = time.time()
            schedule_compaction_if_needed()
            agg["sched"] += time.time() - tw

        try:
            with ThreadPoolExecutor(max_workers=depth) as ex:
                for batch_id, events in batches:
                    bid = str(batch_id)
                    if self._is_committed(m, bid):
                        results.append(
                            {"batch_id": bid, "skipped": True, "reason": "already committed"}
                        )
                        continue
                    ddls = ddl_index.get(bid, [])
                    for d in ddls:
                        self._apply_ddl(plan_m, d)
                    mapping = dict(plan_m.column_mapping)
                    target_types = dict(plan_m.schema)
                    physical = dict(plan_m.physical or {})
                    carry = planner.carry()  # ordered: stays on main
                    t0 = time.time()

                    # the filter graph (F1/F3 + op routing) is built INSIDE
                    # the worker thread: ~100ms of py4j column construction
                    # per batch that would otherwise serialize on the main
                    # thread between commits (measured as part of the
                    # per-batch floor at every cluster size)
                    def work(
                        events=events,
                        mapping=mapping,
                        carry=carry,
                        target_types=target_types,
                        physical=physical,
                    ):
                        filtered = op_filter(
                            oversized_ddl_filter(
                                table_filter(events, [cfg.name])
                            )
                        )
                        return self._write_batch_delta(
                            filtered,
                            cfg,
                            mapping,
                            m.num_buckets,
                            carry_salted=carry,
                            target_types=target_types,
                            physical=physical,
                        )

                    fut = ex.submit(work)
                    agg["submit"] += time.time() - t0
                    inflight.append((bid, ddls, t0, fut))
                    while len(inflight) >= depth:
                        commit_head()
                while inflight:
                    commit_head()
            # drain: a pending fold commits as its own maintenance version
            # so the work is never thrown away
            while compaction["fut"] is not None:
                wait([compaction["fut"]])
                if not fold_compaction_if_ready(f"compact-v{m.version + 1}"):
                    break  # dropped: a later replay retries the fold
                m.version += 1
                self._commit(m)
                schedule_compaction_if_needed()
        finally:
            maintenance.shutdown(wait=True)
        n = max(1, len([r for r in results if not r.get("skipped")]))
        # always-on floor telemetry (cheap): everything except `wait`
        # is true main-thread serial cost; `wait` is head-delta compute
        # (parallel section, pipeline-starved)
        self._last_pipeline_profile = {
            "n_batches": n,
            "serial_floor_sec_per_batch": round(
                sum(v for k, v in agg.items() if k != "wait") / n, 4
            ),
            "head_wait_sec_per_batch": round(agg["wait"] / n, 3),
            "sections": {k: round(v, 3) for k, v in agg.items()},
        }
        if prof:
            per = " ".join(f"{k}={v:.2f}s({v / n:.3f}s/b)"
                           for k, v in agg.items())
            print(f"[profile pipelined n={n}] {per}", flush=True)
        return results

    def _bucket_merge(
        self,
        src: DataFrame,
        key_columns: list[str],
        salted: bool = False,
        salt_buckets: int = 16,
    ) -> DataFrame:
        """One winner per (bucket, key): repartition by bucket so the
        aggregate AND the partitionBy write share one exchange. The salted
        variant (planner-selected for flooded keys) spreads a hot bucket
        over (bucket, salt) reducers first — one extra payload exchange,
        only paid when the batch is actually hot."""
        from ..operators.dedup import rank_struct  # local: avoid cycle

        data_cols = [c for c in src.columns if c != "_bucket"]
        rank = rank_struct(src, ["_lww_ts_us", "_lww_file", "_lww_pos"])
        if salted:
            salt = F.pmod(F.xxhash64(rank), F.lit(salt_buckets))
            partial = (
                src.withColumn("_salt", salt)
                .repartition("_bucket", "_salt")
                .groupBy("_bucket", *key_columns, "_salt")
                .agg(F.max_by(F.struct(*data_cols), rank).alias("_w"))
                .select("_bucket", "_w.*")
            )
            rank2 = rank_struct(partial, ["_lww_ts_us", "_lww_file", "_lww_pos"])
            return (
                partial.repartition("_bucket")
                .groupBy("_bucket", *key_columns)
                .agg(F.max_by(F.struct(*data_cols), rank2).alias("_w"))
                .select("_bucket", "_w.*")
            )
        return (
            src.repartition("_bucket")
            .groupBy("_bucket", *key_columns)
            .agg(F.max_by(F.struct(*data_cols), rank).alias("_w"))
            .select("_bucket", "_w.*")
        )

    def _write_batch_delta(
        self,
        row_events: DataFrame,
        cfg: TableConfig,
        column_mapping: dict[str, str],
        num_buckets: int,
        mark=lambda label: None,
        carry_salted: bool | None = None,
        target_types: dict[str, str] | None = None,
        physical: dict | None = None,
    ) -> dict:
        """Build and write ONE batch's delta (merge-on-read unit of work).
        Pure with respect to the manifest — takes a mapping snapshot, so
        several batches can run concurrently (apply_batches_pipelined);
        the caller serializes manifest mutation + commit.

        Skew planning (D2): with ``carry_salted=None`` a keys-only probe
        job runs first — Catalyst prunes the scan to the key/op columns,
        per-bucket count + HLL distinct partial-combine map-side, and
        (rows - distinct_keys) per bucket upper-bounds the duplicate mass
        one flooded key can contribute there. With ``carry_salted`` set
        (pipelined streams between probe points) the probe job is SKIPPED
        entirely: the carried decision drives the merge, and exact
        events_in plus a global duplicate-share signal come for FREE from
        an ``observe`` node evaluated by the write job itself — the
        per-batch serial floor drops by one full scan."""
        from pyspark.sql import Observation

        batch_state = batch_to_state(
            row_events, column_mapping, cfg.on_delete, target_types
        )
        bucket_col = F.pmod(
            F.xxhash64(*cfg.key_columns), F.lit(num_buckets)
        ).cast("int")
        wb = batch_state.withColumn("_bucket", bucket_col)

        probed = carry_salted is None
        if probed:
            stats = (
                wb.groupBy("_bucket")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.approx_count_distinct(F.xxhash64(*cfg.key_columns)).alias("nk"),
                    F.max("_lww_ts_us").alias("mx_ts"),
                )
                .collect()
            )
            events_in = int(sum(r["n"] for r in stats))
            max_event_ts_us = max(
                (int(r["mx_ts"]) for r in stats if r["mx_ts"] is not None),
                default=0,
            )
            max_key_rows = int(
                max((r["n"] - min(r["nk"], r["n"]) + 1 for r in stats), default=0)
            )
            use_salted = (
                events_in >= cfg.salt_min_rows
                and max_key_rows >= cfg.salt_threshold_share * events_in
            )
            dup_share = (
                (events_in - sum(min(r["nk"], r["n"]) for r in stats)) / events_in
                if events_in
                else 0.0
            )
            mark("key_stats")
        else:
            use_salted = bool(carry_salted)
            obs = Observation()
            wb = wb.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.approx_count_distinct(F.xxhash64(*cfg.key_columns)).alias("nk"),
                F.max("_lww_ts_us").alias("mx_ts"),
            )

        new_dirs: dict[str, str] = {}
        lineage_rows: dict[str, int] = {}
        if probed and not events_in:
            pass  # heartbeat batch: no write job at all
        else:
            src = wb
            if probed:
                nk_total = int(sum(min(r["nk"], r["n"]) for r in stats))
                if (
                    dup_share >= cfg.prefilter_min_dup_share
                    and 0 < nk_total <= cfg.prefilter_max_keys
                ):
                    # Winner pre-filter (guide-§8 shape: decide on keys,
                    # move payloads once): the winning rank per key comes
                    # from a column-pruned scan (Catalyst prunes to the
                    # key + order columns), broadcasts, and drops losing
                    # rows BEFORE the payload exchange. The final max_by
                    # still runs over the surviving argmax set, so ties
                    # resolve exactly as before.
                    from ..operators.dedup import rank_struct  # local: cycle

                    rank = rank_struct(
                        wb, ["_lww_ts_us", "_lww_file", "_lww_pos"]
                    )
                    winners = wb.groupBy(*cfg.key_columns).agg(
                        F.max(rank).alias("_pf_rank")
                    )
                    winners = winners.select(
                        *[
                            F.col(k).alias(f"_pf_{k}")
                            for k in cfg.key_columns
                        ],
                        "_pf_rank",
                    )
                    cond = rank == F.col("_pf_rank")
                    for k in cfg.key_columns:
                        cond &= F.col(k).eqNullSafe(F.col(f"_pf_{k}"))
                    src = (
                        wb.join(F.broadcast(winners), cond)
                        .drop("_pf_rank", *[f"_pf_{k}" for k in cfg.key_columns])
                    )
            merged = self._bucket_merge(
                src, list(cfg.key_columns), use_salted, cfg.salt_buckets
            )
            if cfg.transform is not None:
                merged = cfg.transform(merged)
            new_dirs, lineage_rows = self._write_snapshot(merged, physical)
            mark("merge_write")
        if not probed:
            if new_dirs:
                got = obs.get
                events_in = int(got["n"])
                max_event_ts_us = int(got["mx_ts"]) if got["mx_ts"] is not None else 0
                nk = min(int(got["nk"]), events_in)
                # global duplicate mass bounds any single bucket's from above
                max_key_rows = (events_in - nk + 1) if events_in else 0
                dup_share = (events_in - nk) / events_in if events_in else 0.0
            else:
                # fully-filtered (heartbeat) batch: the write ran zero
                # tasks, so the CollectMetrics node never fired and
                # obs.get would assert — there is nothing to observe
                events_in = max_key_rows = max_event_ts_us = 0
                dup_share = 0.0
        return {
            "new_dirs": new_dirs,
            "lineage_rows": lineage_rows,
            "events_in": events_in,
            "max_key_rows": max_key_rows,
            "use_salted": use_salted,
            "skew_probed": probed,
            "dup_share": round(dup_share, 4),
            "max_event_ts_us": max_event_ts_us,
        }

    def _write_snapshot(
        self, df: DataFrame, physical: dict | None = None
    ) -> tuple[dict[str, str], dict[str, int]]:
        if physical:
            # generation-bound columns land on disk under their physical
            # name; _align maps them back to logical on every read
            df = df.withColumnsRenamed(
                {lg: p for lg, p in physical.items() if lg in df.columns}
            )
        # uuid suffix: a crashed attempt's orphan dir can never collide
        # with the retry's write (orphans are GC-able via vacuum()).
        rel = os.path.join("data", f"d-{uuid.uuid4().hex[:12]}")
        out = os.path.join(self.path, rel)
        # already hash-clustered by _bucket → partitionBy writes one file
        # per bucket with NO extra shuffle
        df.write.mode("error").partitionBy("_bucket").parquet(out)
        dirs = {
            e.split("=", 1)[1]: os.path.join(rel, e)
            for e in os.listdir(out)
            if e.startswith("_bucket=")
        }
        return dirs, self._footer_rowcounts(out)

    def _dir_bytes(self, rel: str) -> int:
        p = os.path.join(self.path, rel)
        try:
            return sum(e.stat().st_size for e in os.scandir(p) if e.is_file())
        except OSError:
            return 0

    def _plan_fold(
        self, m: Manifest, over: list[str]
    ) -> dict[str, list[str]]:
        """Size-tiered vintage selection (the LSM minor/major compaction
        split, Iceberg rewrite_data_files BIN_PACK shape): per bucket,
        fold ONLY the small-delta tail and leave the largest vintage (the
        base) in place, unless the tail has grown to a real fraction of
        the base — then fold everything. Rationale (measured, 40-batch
        4-core replay): full folds re-read AND rewrite the whole bucket
        including the base every ``compact_threshold`` batches, which was
        ~55% of the entire multi-batch overhead; at 10^6 batches it makes
        total write volume O(batches/threshold x table). Tiered folds
        rewrite each event O(log) times and touch the base only when the
        merge is worth it, so per-batch maintenance cost stays O(recent
        deltas), independent of table size. LWW merge-on-read makes
        folding ANY subset of a bucket's vintages order-insensitive (the
        rank max is associative; tombstones are ordinary rows and stay in
        the fold output)."""
        fold: dict[str, list[str]] = {}
        for b in over:
            vintages = list(m.buckets[b])
            sizes = {d: self._dir_bytes(d) for d in vintages}
            base = max(vintages, key=lambda d: sizes[d])
            rest = [d for d in vintages if d != base]
            if sum(sizes[d] for d in rest) >= _MAJOR_FOLD_RATIO * sizes[base]:
                fold[b] = vintages  # major: fold the base too
            elif len(rest) > 1:
                fold[b] = rest  # minor: the base stays untouched
        return fold

    def _compact_compute(
        self,
        frozen: Manifest,
        bucket_ids: list[str],
        transform=None,
        fold_map: dict[str, list[str]] | None = None,
    ) -> tuple[dict[str, list[str]], dict[str, str], dict[str, int]]:
        """Read the given buckets' vintages AS OF a frozen manifest, merge
        to one file per bucket, write. Pure compute — mutates nothing;
        returns (snapshot dirs folded, compacted dir per bucket, rows).
        Safe to run concurrently with later delta writes: it touches only
        the frozen vintage list, and LWW merge-on-read makes folding ANY
        subset of a bucket's vintages order-insensitive.

        ``fold_map`` (bucket → dirs to fold, from ``_plan_fold``) restricts
        the fold to a vintage subset per bucket; default folds every
        vintage (maintenance ``compact()`` / ``backfill`` semantics —
        those need the FULL merged state, tiered folds don't)."""
        snapshot = (
            {b: list(fold_map[b]) for b in bucket_ids if b in fold_map}
            if fold_map is not None
            else {b: list(frozen.buckets[b]) for b in bucket_ids}
        )
        dirs = sorted({d for lst in snapshot.values() for d in lst})
        if not dirs:
            return snapshot, {}, {}
        cur = self._align(
            self.spark.read.schema(self._read_schema(frozen)).parquet(
                *[os.path.join(self.path, d) for d in dirs]
            ),
            frozen,
        )
        bucket_col = F.pmod(
            F.xxhash64(*frozen.key_columns), F.lit(frozen.num_buckets)
        ).cast("int")
        compacted = self._bucket_merge(
            cur.withColumn("_bucket", bucket_col), list(frozen.key_columns)
        )
        if transform is not None:
            compacted = transform(compacted)
        # sort-on-compact (Iceberg rewrite_data_files sort-order parity):
        # the merge output is already partitioned by _bucket, so this is a
        # per-partition in-memory sort — no exchange — and the compacted
        # file's parquet row-group min/max on the key become selective, so
        # point/range reads prune row groups inside the bucket. Delta
        # writes stay UNSORTED: sorting belongs on the maintenance path,
        # not the per-batch hot path.
        compacted = compacted.sortWithinPartitions("_bucket", *frozen.key_columns)
        cdirs, crows = self._write_snapshot(compacted, frozen.physical)
        return snapshot, cdirs, crows

    def _compact_buckets(
        self,
        m: Manifest,
        over: list[str],
        bid: str,
        fold_map: dict[str, list[str]] | None = None,
    ) -> None:
        """Fold the given buckets' vintages (all of them, or a
        ``fold_map`` subset) into one file each. Mutates ``m`` in memory;
        the caller commits atomically."""
        snapshot, cdirs, crows = self._compact_compute(m, over, fold_map=fold_map)
        for b, d in cdirs.items():
            folded = set(snapshot.get(b, ()))
            kept = [x for x in m.buckets[b] if x not in folded]
            m.buckets[b] = kept + [d]
            m.lineage[b] = {"batch_id": bid, "rows": crows.get(b, 0)}

    def async_compactor(self) -> "AsyncCompactor":
        """Maintenance-thread threshold compaction for single-batch
        callers (the streaming foreachBatch sink): the same async
        schedule → compute-over-frozen-snapshot → fold pattern
        ``apply_batches_pipelined`` runs inline, but the fold lands as
        its OWN maintenance commit between micro-batches, so the
        table-sized merge never executes inside a trigger. Call
        ``tick()`` after every committed batch; ``close()`` when the
        stream stops (a pending compute is drained and committed)."""
        return AsyncCompactor(self)

    def compact(self, buckets: list[int] | None = None) -> dict:
        """Maintenance compaction (Iceberg ``rewrite_data_files`` parity):
        fold delta vintages into one file per bucket in a new atomic
        snapshot. Old deltas become orphans for ``vacuum()``. Default:
        every bucket with more than one vintage."""
        m = self.manifest()
        target = (
            [b for b, lst in m.buckets.items() if len(lst) > 1]
            if buckets is None
            else [str(b) for b in buckets if str(b) in m.buckets]
        )
        if not target:
            return {"compacted_buckets": 0}
        m.version += 1
        self._compact_buckets(m, target, f"compact-v{m.version}")
        self._commit(m)
        return {"compacted_buckets": len(target)}

    def tag(self, name: str, version: int | None = None) -> dict:
        """Name a committed snapshot (Iceberg tag parity). Tags live in
        ``_versions/TAGS.json`` — metadata only, atomic replace; a tagged
        version should be kept out of ``expire_snapshots`` windows by the
        operator (same contract as Iceberg's tag retention)."""
        if version is None:
            version = self.manifest().version
        else:
            self.manifest(version)  # raises if the snapshot doesn't exist
        tags = self.tags()
        tags[name] = int(version)
        tmp = os.path.join(self.path, "_versions", f".tags-{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as f:
            json.dump(tags, f, indent=1, sort_keys=True)
        os.replace(tmp, os.path.join(self.path, "_versions", "TAGS.json"))
        return {"tag": name, "version": int(version)}

    def tags(self) -> dict[str, int]:
        p = os.path.join(self.path, "_versions", "TAGS.json")
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return {k: int(v) for k, v in json.load(f).items()}

    def read_tag(self, name: str) -> DataFrame:
        tags = self.tags()
        if name not in tags:
            raise KeyError(f"unknown tag {name!r}")
        return self.read(version=tags[name])

    def rebucket(self, new_num_buckets: int) -> dict:
        """Online partition-spec evolution (Iceberg bucket-count change):
        re-hash every live winner + tombstone into ``new_num_buckets``
        buckets and commit the new layout atomically. A table created at
        64 buckets that grew 100× gets its parallelism and pruning back
        without downtime:

        - readers of PRIOR versions keep the OLD layout — each manifest
          carries its own num_buckets, so time travel and changelogs
          across the boundary stay correct;
        - writers pick up the new count from the manifest on their next
          batch (the bucket column is derived per batch from the mapping
          snapshot), and the ledger is untouched, so replay/redelivery
          idempotence survives the rewrite;
        - cost: one full-table payload shuffle on the NEW bucket key —
          the same shape as a full compaction, run as maintenance.
        """
        if new_num_buckets < 1:
            raise ValueError("new_num_buckets must be >= 1")
        m = self.manifest()
        if new_num_buckets == m.num_buckets:
            return {"rebucketed": False, "num_buckets": m.num_buckets}
        cur = self._read_buckets(m, None)
        m.version += 1
        bid = f"rebucket-v{m.version}"
        m.num_buckets = new_num_buckets
        m.buckets = {}
        m.lineage = {}
        if cur is not None:
            bucket_col = F.pmod(
                F.xxhash64(*m.key_columns), F.lit(new_num_buckets)
            ).cast("int")
            merged = self._bucket_merge(
                cur.withColumn("_bucket", bucket_col), list(m.key_columns)
            ).sortWithinPartitions("_bucket", *m.key_columns)
            cdirs, crows = self._write_snapshot(merged, m.physical)
            for b, d in cdirs.items():
                m.buckets[b] = [d]
                m.lineage[b] = {"batch_id": bid, "rows": crows.get(b, 0)}
        self._commit(m)
        return {
            "rebucketed": True,
            "num_buckets": new_num_buckets,
            "version": m.version,
        }

    def backfill(self, transform, buckets: list[int] | None = None) -> dict:
        """Transactional derived-column backfill (the extractor-upgrade
        operation: recompute ``text`` — or any payload column — for every
        LIVE winner with a new transform, without replaying the log).

        Per bucket: read the merged current state, apply ``transform``
        (DataFrame -> DataFrame over payload + hidden columns — it must
        not touch the key or the LWW rank columns, which keep future CDC
        merges ordering correctly against backfilled rows), write ONE new
        vintage replacing the bucket's list, commit once atomically.
        Time travel to pre-backfill versions still reads the old files;
        the batch ledger is untouched, so replaying committed batches
        stays a no-op. Cost: O(table) once, bucket-parallel, one payload
        shuffle (the same plan shape as compaction)."""
        m = self.manifest()
        target = (
            list(m.buckets.keys())
            if buckets is None
            else [str(b) for b in buckets if str(b) in m.buckets]
        )
        if not target:
            return {"backfilled_buckets": 0}
        m.version += 1
        bid = f"backfill-v{m.version}"
        _, cdirs, crows = self._compact_compute(m, target, transform=transform)
        for b, d in cdirs.items():
            m.buckets[b] = [d]
            m.lineage[b] = {"batch_id": bid, "rows": crows.get(b, 0)}
        self._commit(m)
        return {"backfilled_buckets": len(target), "version": m.version}

    def _apply_ddl(self, m: Manifest, d: dict) -> None:
        """ADD/RENAME COLUMN, idempotent under redelivery."""
        kind = d.get("kind")
        names = [n for n, _ in m.schema]
        if kind == "add_column":
            col, dtype = d["col"], d.get("dtype") or "string"
            if col in names or col in m.column_mapping:
                return
            if dtype not in DDL_DTYPES:
                raise ValueError(f"unsupported DDL dtype {dtype}")
            m.schema.append([col, DDL_DTYPES[dtype].simpleString()])
            m.column_mapping[col] = col
            gen = (m.dropped_gens or {}).get(col, 0)
            if gen:
                # re-ADD of a previously dropped name: bind the logical
                # name to a fresh generation-suffixed ON-DISK name. Old
                # vintages physically hold the gen-0 (or older-gen) name,
                # which the read schema no longer asks for — pre-drop
                # values can never resurface, without rewriting any data
                # (the name-generation analogue of Iceberg field ids)
                m.physical[col] = f"{col}__g{gen}"
        elif kind == "rename_column":
            old, new = d["col"], d["new_name"]
            if old not in names:
                return  # already renamed / unknown — idempotent skip
            for entry in m.schema:
                if entry[0] == old:
                    entry[0] = new
            for wire, cur in list(m.column_mapping.items()):
                if cur == old:
                    m.column_mapping[wire] = new
            if old in (m.physical or {}):
                # generation-bound column: its on-disk name never changes,
                # so no renames entry (nothing to coalesce in old files)
                m.physical[new] = m.physical.pop(old)
            else:
                m.renames.append([old, new])
        elif kind == "widen_column":
            # MySQL `ALTER ... MODIFY col BIGINT` analog: lossless type
            # widening only. No data rewrite — the manifest dtype changes
            # and the explicit-schema parquet read upcasts old vintages
            # in the scan (Spark 4 vectorized reader: INT32→INT64/DOUBLE,
            # FLOAT→DOUBLE); new deltas write the wide type directly.
            col, dtype = d["col"], d.get("dtype")
            if dtype not in DDL_DTYPES:
                raise ValueError(f"unsupported DDL dtype {dtype}")
            target = DDL_DTYPES[dtype].simpleString()
            allowed = {
                ("int", "bigint"),
                ("int", "double"),
                ("bigint", "double"),
                ("float", "double"),
            }
            for entry in m.schema:
                if entry[0] == col:
                    if entry[1] == target:
                        return  # already widened — idempotent
                    if (entry[1], target) not in allowed:
                        raise ValueError(
                            f"cannot widen {col!r} {entry[1]} -> {target}"
                        )
                    entry[1] = target
                    return
            return  # unknown column — idempotent skip (already dropped?)
        elif kind == "drop_column":
            col = d["col"]
            if col in m.key_columns:
                raise ValueError(f"cannot drop key column {col!r}")
            if col not in names:
                return  # already dropped / unknown — idempotent skip
            m.schema = [e for e in m.schema if e[0] != col]
            for wire, cur in list(m.column_mapping.items()):
                if cur == col:
                    del m.column_mapping[wire]
            # Old file vintages keep the physical column; the manifest
            # schema no longer reads it (column pruning), and the next
            # compaction rewrites it away. The drop bumps the name's
            # generation: a later re-ADD binds to a fresh on-disk name,
            # so pre-drop values in uncompacted vintages can never
            # resurface (field-id-style safety).
            m.dropped_gens[col] = (m.dropped_gens or {}).get(col, 0) + 1
            m.physical.pop(col, None)
        else:
            raise ValueError(f"unknown DDL kind {kind}")

    @staticmethod
    def _footer_rowcounts(out_dir: str) -> dict[str, int]:
        """Per-bucket row counts from parquet footers — metadata-only, no
        extra Spark action (Iceberg gets these from commit stats)."""
        import pyarrow.parquet as pq

        counts: dict[str, int] = {}
        for entry in os.listdir(out_dir):
            if not entry.startswith("_bucket="):
                continue
            b = entry.split("=", 1)[1]
            total = 0
            d = os.path.join(out_dir, entry)
            for fn in os.listdir(d):
                if fn.endswith(".parquet"):
                    total += pq.read_metadata(os.path.join(d, fn)).num_rows
            counts[b] = total
        return counts

    # ------------------------------------------------------------------
    # maintenance (Iceberg expire_snapshots / remove_orphan_files parity)
    # ------------------------------------------------------------------
    def vacuum(self, grace_sec: float = 600.0) -> dict:
        """Delete data dirs not referenced by the CURRENT manifest (old
        bucket versions + orphans from crashed attempts). Safe because
        commits are copy-on-write: the current snapshot never references a
        dir this removes. Readers of OLD snapshots lose time travel — for
        a retention window use ``expire_snapshots(keep_last=N)``.

        ``grace_sec`` protects a CONCURRENT writer: its written-but-not-
        yet-committed delta dirs appear in no version file, so they look
        exactly like crash orphans — unknown dirs younger than the grace
        window are skipped and reported, never deleted."""
        m = self.manifest()
        referenced = {
            d.split(os.sep)[1] for lst in m.buckets.values() for d in lst
        }
        return self._gc_data_dirs(referenced, self._known_dirs(), grace_sec)

    def _known_dirs(self) -> set:
        """Data dirs referenced by ANY version file currently on disk —
        the committed universe. A dir outside it is either a crashed
        attempt or an in-flight uncommitted write."""
        known: set = set()
        for mj in manifest_store.load_all(self.path):
            for lst in (mj.get("buckets") or {}).values():
                known |= {d.split(os.sep)[1] for d in lst}
        return known

    def _gc_data_dirs(
        self, referenced: set, known: set, grace_sec: float
    ) -> dict:
        """Remove unreferenced data dirs. Superseded dirs (in ``known``
        but not ``referenced``) go at any age; UNKNOWN dirs (no version
        file ever referenced them) are held for ``grace_sec`` so an
        in-flight writer's uncommitted deltas survive a concurrent
        vacuum/expire — after the grace they are crash orphans."""
        import shutil

        data_root = os.path.join(self.path, "data")
        now = time.time()
        removed, skipped, freed = [], [], 0
        for entry in os.listdir(data_root):
            if entry in referenced:
                continue
            p = os.path.join(data_root, entry)
            if entry not in known:
                try:
                    age = now - os.path.getmtime(p)
                except OSError:
                    continue  # vanished concurrently
                if age < grace_sec:
                    skipped.append(entry)
                    continue
            for root, _, files in os.walk(p):
                freed += sum(os.path.getsize(os.path.join(root, f)) for f in files)
            shutil.rmtree(p, ignore_errors=True)
            removed.append(entry)
        return {
            "removed_dirs": removed,
            "freed_bytes": freed,
            "skipped_in_flight": skipped,
        }

    def expire_snapshots(self, keep_last: int = 2, grace_sec: float = 600.0) -> dict:
        """Iceberg ``expire_snapshots`` parity: drop manifest versions
        older than the newest ``keep_last``, then GC data dirs that no
        RETAINED version references. Time travel keeps working across the
        retention window (vacuum() is the window-of-one special case) and
        the version directory stays O(keep_last) instead of O(commits).

        Safe under the commit protocol: version files are immutable once
        claimed, the head is always retained, a concurrent committer only
        ever CREATES a higher version than the head read here, and its
        uncommitted data dirs (referenced by no version file) are held
        for ``grace_sec`` before GC treats them as crash orphans."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        vdir = manifest_store.versions_dir(self.path)
        versions = manifest_store.versions(self.path)
        retained = versions[-keep_last:]
        # the committed universe BEFORE expiry: dirs referenced only by
        # to-be-expired versions stay "known" (removable at any age),
        # while an in-flight writer's dirs stay unknown (grace-held)
        known = self._known_dirs()
        referenced: set = set()
        for v in retained:
            mv = self.manifest(version=v)
            referenced |= {
                d.split(os.sep)[1] for lst in mv.buckets.values() for d in lst
            }
        expired = []
        for v in versions[:-keep_last] if len(versions) > keep_last else []:
            os.remove(os.path.join(vdir, f"v{v:08d}.json"))
            expired.append(v)
        gc = self._gc_data_dirs(referenced, known, grace_sec)
        return {
            "expired_versions": expired,
            "retained_versions": retained,
            **gc,
        }

    @staticmethod
    def _fold_ledger(m: Manifest) -> int:
        """Fold contiguous numeric batch-id prefixes into watermarks so the
        committed-batches list stays O(out-of-order window) at 10^6+
        batches. An id ``<prefix>-<k>`` is committed iff k ≤
        watermark[prefix] or it is in the explicit list. Assumes redelivery
        only happens within the un-compacted window — true for streaming
        (checkpointed, monotonic batchIds) and for file-seq replay.
        Mutates ``m`` in memory; returns entries folded away."""
        by_prefix: dict[str, set[int]] = {}
        keep: list[str] = []
        for bid in m.committed_batches:
            prefix, _, num = bid.rpartition("-")
            if prefix and num.isdigit():
                by_prefix.setdefault(prefix, set()).add(int(num))
            else:
                keep.append(bid)
        watermarks = dict(getattr(m, "ledger_watermarks", {}) or {})
        for prefix, nums in by_prefix.items():
            w = watermarks.get(prefix, -1)
            while (w + 1) in nums:
                w += 1
            watermarks[prefix] = w
            keep.extend(f"{prefix}-{k}" for k in sorted(nums) if k > w)
        m.ledger_watermarks = watermarks
        folded = len(m.committed_batches) - len(keep)
        m.committed_batches = keep
        return folded

    def compact_ledger(self) -> dict:
        """One-off ledger maintenance (legacy manifests; new commits fold
        inline in ``_commit_batch``)."""
        m = self.manifest()
        before = len(m.committed_batches)
        self._fold_ledger(m)
        m.version += 1
        self._commit(m)
        return {
            "entries_before": before,
            "entries_after": len(m.committed_batches),
            "watermarks": m.ledger_watermarks,
        }

    def n_committed(self, m: Manifest | None = None) -> int:
        """Number of committed batches (explicit ledger entries + batches
        folded into prefix watermarks — watermark w covers ids 0..w)."""
        m = m or self.manifest()
        wm = getattr(m, "ledger_watermarks", {}) or {}
        return len(m.committed_batches) + sum(w + 1 for w in wm.values())

    @staticmethod
    def _check_ledger_gap(m: Manifest, bid: str) -> None:
        """Warn when a numeric batch id SKIPS ids under an active prefix
        watermark protocol. The inline ledger fold assumes ids per prefix
        arrive contiguously (true for the shipped replay loops and
        checkpointed streams); a caller that skips a file (manual log
        deletion + ``from_file_seq`` resume past it) leaves a gap — later
        ids stay in the explicit list until the gap fills, and if the
        skipped id is ever applied with DIFFERENT content the watermark
        would silently cover it. The batch still applies; the warning
        makes the broken-contiguity contract visible."""
        prefix, _, num = bid.rpartition("-")
        if not (prefix and num.isdigit()):
            return
        w = (m.ledger_watermarks or {}).get(prefix, -1)
        if w < 0:  # no watermark yet → no contiguity contract established
            return
        k = int(num)
        if k <= w + 1:
            return
        have = set()
        for b in m.committed_batches:
            p2, _, n2 = b.rpartition("-")
            if p2 == prefix and n2.isdigit():
                have.add(int(n2))
        missing = [i for i in range(w + 1, k) if i not in have]
        if missing:
            import warnings

            warnings.warn(
                f"batch id {bid!r} skips uncommitted ids {missing} under "
                f"prefix {prefix!r} (watermark {w}): the ledger fold "
                "assumes contiguous ids per prefix — applying the skipped "
                "ids later with different content would be masked once "
                "contiguity resumes",
                stacklevel=3,
            )

    def _is_committed(self, m: Manifest, bid: str) -> bool:
        if bid in m.committed_batches:
            return True
        prefix, _, num = bid.rpartition("-")
        if prefix and num.isdigit():
            return int(num) <= (getattr(m, "ledger_watermarks", {}) or {}).get(prefix, -1)
        return False

    # ------------------------------------------------------------------
    # observability
    # ------------------------------------------------------------------
    def metrics_history(self) -> list[dict]:
        return [
            mj["metrics"]
            for mj in manifest_store.load_all(self.path)
            if mj.get("metrics")
        ]


class AsyncCompactor:
    """Off-trigger threshold compaction (see PagesTable.async_compactor).

    Exactly-once safety mirrors the pipelined path: the compute reads a
    FROZEN committed vintage snapshot (LWW merge-on-read makes folding any
    vintage subset order-insensitive), and the fold rewrites only bucket
    lists that still contain the folded dirs — a crash between compute
    and fold leaves unreferenced orphan dirs (vacuum territory), never a
    wrong manifest."""

    def __init__(self, table: PagesTable):
        from concurrent.futures import ThreadPoolExecutor

        self._table = table
        self._pool = ThreadPoolExecutor(max_workers=1)
        self._fut = None

    def tick(self) -> int:
        """Fold a finished compute into its own maintenance commit, then
        schedule a new compute if any bucket is past threshold. Returns
        the number of buckets folded this call (telemetry)."""
        folded = self._fold_if_ready()
        self._schedule_if_needed()
        return folded

    def close(self) -> None:
        """Drain: wait for an in-flight compute and commit its fold. The
        maintenance pool is shut down even if the fold fails."""
        from concurrent.futures import wait

        try:
            if self._fut is not None:
                wait([self._fut])
                self._fold_if_ready()
        finally:
            self._pool.shutdown(wait=True)

    def _fold_if_ready(self) -> int:
        fut = self._fut
        if fut is None or not fut.done():
            return 0
        self._fut = None
        res = _fold_result(fut)
        if res is None:
            return 0
        snapshot, cdirs, crows = res
        if not cdirs:
            return 0
        t = self._table
        while True:
            m = t.manifest()
            n = 0
            for b, old in snapshot.items():
                if b not in cdirs:
                    continue
                cur = m.buckets.get(b, [])
                if not all(x in cur for x in old):
                    continue  # a racer already folded these vintages
                tail = [x for x in cur if x not in old]
                m.buckets[b] = [cdirs[b]] + tail
                m.lineage[b] = {
                    "batch_id": f"compact-v{m.version + 1}",
                    "rows": crows.get(b, 0),
                }
                n += 1
            if n == 0:
                return 0
            m.version += 1
            try:
                t._commit(m)
                return n
            except CommitConflictError:
                continue  # re-read and re-apply onto the fresh manifest

    def _schedule_if_needed(self) -> None:
        if self._fut is not None:
            return
        t = self._table
        m = t.manifest()
        over = [
            b for b, lst in m.buckets.items() if len(lst) > m.compact_threshold
        ]
        if not over:
            return
        fold_map = t._plan_fold(m, over)
        if not fold_map:
            return
        frozen = Manifest.from_json(m.to_json())
        self._fut = self._pool.submit(
            t._compact_compute, frozen, list(fold_map), fold_map=fold_map
        )
