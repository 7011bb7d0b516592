"""Append-only deduplicating corpus table — CDC ingest applied to webtext.

The pages sink replicates a keyed table; a training corpus is the other
ingest shape the same machinery serves: append-only batches of documents
where the "merge" rule is near-duplicate suppression against everything
already accepted. This sink reuses the engine's commit protocol
(versioned manifest with an exclusive version claim and a locked
``CURRENT`` advance — `sink/manifest_store.py`, shared with the pages
sink — and a batch-id ledger, so re-delivered batches are committed
no-ops) together with the dedup operators' persisted band index
(the rows of `dedup_text.minhash_bands`, the candidate semantics of
`incremental_near_duplicates`). Per-batch cost is O(batch + touched
band buckets), never O(corpus): the accepted corpus is never
re-signatured, only its band table is equi-joined.

Reference tie-in: the at-least-once → idempotent-apply contract is the
reference's slave loop (rs_redis_thread.c:10-85, apply before throttled
checkpoint flush) — here the "table handler" is the dedup gate and the
checkpoint is the manifest ledger.

Rejection semantics (greedy, standard LSH ingest): a new doc is rejected
if any band key collides with an ACCEPTED doc from a previous batch, or
with ANY earlier-id doc of its own batch (even one itself rejected).
Within a dup chain the smallest id wins, matching `exact_duplicates`'
keeper rule. With ``verify_jaccard`` set at create, candidacy alone does
not reject: the pair must also pass EXACT token-set Jaccard — the verify
join reads only the MATCHED accepted docs' text (O(candidates), never
O(corpus)). Doc ids must be globally unique across batches.

Materialization plan: a corpus batch is small next to Spark's per-job
cost (planning, scheduling, one job per shuffle stage under AQE), so
``apply_batch`` is shaped to run few jobs, not just little work:

1. ONE batch materialization ``(id, text, _toks, _keys)``: the text is
   tokenized once, and the band keys are built straight from the token
   array by the same expressions ``minhash_signatures``/``minhash_bands``
   use (`dedup_text._band_key_array`). The candidate joins, the verify's
   batch side and both writes read it; only the MATCHED accepted docs
   are tokenized again, from their stored text.
2. The band index and the docs are read with the schema the table
   declares, so no read runs a schema-inference job.
3. Candidates (index equi-join + first-matching-band self-join) feed the
   two-round verify cascade (`_verified_reject_ids`).
4. ONE flagged materialization — the batch left-joined with the reject
   ids — feeds the docs write, the band write (``_keys`` of the accepted
   rows exploded, no join back) and both batch counts, which are observed
   on the docs write's own job instead of re-running the scan.

On the benchmark's 3-batch corpus ingest this is ~18 Spark jobs per
batch instead of ~27.

Streaming: call ``apply_batch(batch_id, df)`` from ``foreachBatch`` —
the ledger makes micro-batch re-delivery exactly-once in final state,
the same contract the pages sink proves in test_streaming.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from mysql_syncer_spark.functions.dedup_text import (
    _band_key_array,
    _exploded_band_keys,
    _first_band_pairs,
    _spread_small_scan,
    _token_array,
)
from mysql_syncer_spark.sink import manifest_store
from mysql_syncer_spark.sink.manifest_store import CommitConflictError


def _verified_reject_ids(
    cands: DataFrame, toks: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """doc_ids whose candidate pair survives EXACT token-set Jaccard >=
    threshold. ``toks`` holds the distinct-token array (``_toks``) of both
    endpoints: the batch side comes from the batch materialization, the
    accepted side from only the MATCHED accepted docs — the verify read is
    O(candidates), never O(corpus). Verify semantics match
    verified_near_duplicates: each pair attaches both arrays (two
    equi-joins against the small per-doc array table — broadcastable) and
    intersects map-side with ``array_intersect``; the pass condition (same
    integer counts, same double division) is unchanged.

    The rejection is an EXISTS, not a pair report, so it runs as a
    two-round cascade: round 1 verifies each doc against only its MINIMUM
    candidate (one pair per doc — in a template-cluster corpus this
    already rejects nearly everything); only docs round 1 did not reject
    verify their candidates in round 2. The union of the two pass sets is
    EXACTLY the all-pairs reject set (existence is monotone over candidate
    subsets), but the all-pairs verify volume — O(cluster size) pairs per
    clustered doc — collapses to O(docs) + leftovers. Round 2 re-verifies
    a doc's failed minimum pair instead of excluding it with an anti-join
    against round 1's pairs: a failed pair cannot change an EXISTS, and
    the exclusion costs an exchange. Its ``distinct()`` stays: the index
    join emits a pair once per matching band, and on the pair-heavy sf0.1
    documents verifying those repeats cost more CPU than the exchange
    that drops them (process CPU per 3-batch ingest, median of 3
    interleaved pairs at 4 cores: 84 s without the distinct, 75 s with).

    Measured and rejected: carrying the token arrays through the
    candidate self-join and verifying ALL pairs map-side, with no cascade,
    cut Spark jobs per 3-batch benchmark ingest from 82 to 48 but raised
    executor task CPU from 3.5 s to 9 s and process CPU by 19%."""
    toks = toks.localCheckpoint(eager=False)
    ta = toks.select(F.col(id_col).alias("_id"), F.col("_toks").alias("_ta"))
    tb = toks.select(F.col(id_col).alias("dup_of"), F.col("_toks").alias("_tb"))

    def passing(pairs: DataFrame) -> DataFrame:
        return (
            pairs.join(ta, "_id")
            .join(tb, "dup_of")
            .select(
                "_id",
                F.size(F.array_intersect("_ta", "_tb")).alias("n_inter"),
                F.size("_ta").alias("n_a"),
                F.size("_tb").alias("n_b"),
            )
            .filter(
                (F.col("n_inter") >= 1)
                & (
                    F.col("n_inter")
                    / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
                    >= threshold
                )
            )
            .select("_id")
        )

    c = cands.select(F.col(id_col).alias("_id"), "dup_of")
    # round 1: one pair per doc (min partner), partial-agg'd map-side;
    # one pair per doc also means one passing row per doc, no distinct
    first = c.groupBy("_id").agg(F.min("dup_of").alias("dup_of"))
    r1 = passing(first).localCheckpoint(eager=False)  # reused twice below
    # round 2: every pair of a still-undecided doc
    r2 = passing(c.join(r1, "_id", "left_anti").distinct()).distinct()
    # r2 excludes r1 ids by construction — the union is duplicate-free
    return r1.unionByName(r2).select(F.col("_id").alias(id_col))


@dataclass
class CorpusManifest:
    version: int
    k: int
    bands: int
    id_col: str
    text_col: str
    # None → reject on LSH candidacy alone; a float → reject only pairs
    # whose EXACT token-set Jaccard meets it (table-level so every writer
    # applies the same gate)
    verify_jaccard: float | None = None
    doc_files: list = field(default_factory=list)  # relpaths, commit order
    band_files: list = field(default_factory=list)
    committed_batches: list = field(default_factory=list)
    n_docs: int = 0
    n_rejected: int = 0
    # fold band_files into ONE parquet dir when the list reaches this
    # length — otherwise a 10^5-batch corpus pays O(batches) file-group
    # listing on EVERY batch's index join. Band rows are tiny (4 per
    # accepted doc), so the periodic rewrite is cheap relative to ingest;
    # doc files stay append-only (their text is read only by the verify
    # path, and only for matched candidates).
    band_compact_threshold: int = 16

    def to_json(self) -> str:
        return json.dumps(self.__dict__, indent=1, sort_keys=True)

    @staticmethod
    def from_json(s: str) -> "CorpusManifest":
        return CorpusManifest(**json.loads(s))


class CorpusTable:
    """A deduplicated document corpus with ledgered atomic commits."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    # -- manifest protocol (same shape as PagesTable) -------------------
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        k: int = 8,
        bands: int = 4,
        id_col: str = "doc_id",
        text_col: str = "text",
        verify_jaccard: float | None = None,
        band_compact_threshold: int = 16,
    ) -> "CorpusTable":
        os.makedirs(manifest_store.versions_dir(path), exist_ok=True)
        os.makedirs(os.path.join(path, "docs"), exist_ok=True)
        os.makedirs(os.path.join(path, "bands"), exist_ok=True)
        t = cls(spark, path)
        t._commit(
            CorpusManifest(
                version=0,
                k=k,
                bands=bands,
                id_col=id_col,
                text_col=text_col,
                verify_jaccard=verify_jaccard,
                band_compact_threshold=band_compact_threshold,
            )
        )
        return t

    def manifest(self) -> CorpusManifest:
        return CorpusManifest.from_json(manifest_store.load(self.path))

    def _commit(self, m: CorpusManifest) -> None:
        manifest_store.commit(self.path, m.version, m.to_json())

    # -- reads ----------------------------------------------------------
    # Both reads pass the schema the table declares, so spark.read never
    # runs a schema-inference job over the files' footers.
    def _read(self, files: list, schema: str) -> DataFrame:
        if not files:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(
            *[os.path.join(self.path, p) for p in files]
        )

    def read(self) -> DataFrame:
        m = self.manifest()
        return self._read(m.doc_files, f"{m.id_col} long, {m.text_col} string")

    def band_index(self, m: CorpusManifest | None = None) -> DataFrame:
        m = m or self.manifest()
        return self._read(m.band_files, f"{m.id_col} long, band int, key string")

    # -- ingest ---------------------------------------------------------
    def apply_batch(self, batch_id: str, docs: DataFrame) -> dict:
        """Dedup-gate and append one batch atomically. Re-delivery of a
        committed batch_id is a no-op (ledger). Data files land before
        the manifest references them — a crash in between leaves only
        unreferenced orphans (vacuum territory), never a partial commit.

        Concurrency: commits use the exclusive-version-claim protocol, so
        two writers never clobber each other's manifests; on a lost race
        the commit rebases and retries (or no-ops if the racer delivered
        the same batch). The dedup GATE, however, was evaluated against
        the index as of batch start — two concurrent writers of different
        batches can each accept docs that are near-dups of the other's
        (append-only eventual dedup; run duplicate_clusters offline or
        keep one writer per corpus for strict serial gating)."""
        m = self.manifest()
        if batch_id in m.committed_batches:
            return {"batch_id": batch_id, "skipped": True}
        idc = m.id_col
        # the batch materialization: text, token array and band keys,
        # tokenized ONCE and read by the candidate joins, the verify and
        # both writes
        batch = (
            _spread_small_scan(docs)
            .select(
                F.col(idc).cast("long").alias(idc),
                F.col(m.text_col).cast("string").alias(m.text_col),
                _token_array(F.col(m.text_col)).alias("_toks"),
            )
            .withColumn("_keys", _band_key_array(F.col("_toks"), m.k, m.bands))
            .localCheckpoint(eager=False)
        )
        keyed = _exploded_band_keys(batch, idc)
        n, ix = keyed.alias("n"), self.band_index(m).alias("ix")
        vs_index = (
            n.join(
                ix,
                (F.col("n.band") == F.col("ix.band"))
                & (F.col("n.key") == F.col("ix.key")),
            )
            .select(
                F.col(f"n.{idc}").alias(idc), F.col(f"ix.{idc}").alias("dup_of")
            )
        )
        vs_batch = _first_band_pairs(keyed, idc, m.bands).select(
            F.col("doc_b").alias(idc), F.col("doc_a").alias("dup_of")
        )
        cands = vs_index.unionByName(vs_batch)
        if m.verify_jaccard is not None:
            cands = cands.localCheckpoint(eager=False)
            matched = cands.select(F.col("dup_of").alias(idc)).distinct()
            # only the MATCHED accepted docs are tokenized from their text
            toks = batch.select(idc, "_toks").unionByName(
                self.read()
                .join(matched, idc, "left_semi")
                .select(idc, _token_array(F.col(m.text_col)).alias("_toks"))
            )
            reject = _verified_reject_ids(cands, toks, idc, m.verify_jaccard)
        else:
            reject = cands.select(idc).distinct()
        flagged = batch.join(
            reject.select(idc, F.lit(True).alias("_rej")), idc, "left"
        ).localCheckpoint(eager=False)
        accepted = flagged.filter(F.col("_rej").isNull())
        drel = os.path.join("docs", f"{batch_id}.parquet")
        brel = os.path.join("bands", f"{batch_id}.parquet")
        # the docs write also counts the batch: observed metrics ride on
        # its job, so neither count re-runs a scan
        counts = Observation()
        flagged.observe(
            counts,
            F.count(F.lit(1)).alias("n"),
            F.count_if(F.col("_rej").isNull()).alias("acc"),
        ).filter(F.col("_rej").isNull()).select(idc, m.text_col).write.mode(
            "overwrite"
        ).parquet(os.path.join(self.path, drel))
        _exploded_band_keys(accepted, idc).select(idc, "band", "key").write.mode(
            "overwrite"
        ).parquet(os.path.join(self.path, brel))
        # threshold compaction of the band index, folded into THIS commit:
        # the pre-batch band files merge to one dir; the new batch's file
        # appends after it. Old dirs become unreferenced orphans.
        if len(m.band_files) + 1 >= m.band_compact_threshold:
            crel = os.path.join("bands", f"compact-{batch_id}.parquet")
            self.band_index(m).write.mode("overwrite").parquet(
                os.path.join(self.path, crel)
            )
            m.band_files = [crel]
        n_total, n_acc = counts.get["n"], counts.get["acc"]
        # optimistic concurrency (same protocol as the pages sink): claim
        # the next version; on a lost race, rebase on the fresh manifest —
        # if the racer committed this very batch, we are a no-op; else our
        # file references re-append and we retry the next version number.
        while True:
            m.version += 1
            m.doc_files.append(drel)
            m.band_files.append(brel)
            m.committed_batches.append(batch_id)
            m.n_docs += n_acc
            m.n_rejected += n_total - n_acc
            try:
                self._commit(m)
                break
            except CommitConflictError:
                m = self.manifest()
                if batch_id in m.committed_batches:
                    return {"batch_id": batch_id, "skipped": True}
        return {
            "batch_id": batch_id,
            "skipped": False,
            "accepted": n_acc,
            "rejected": n_total - n_acc,
        }

    # -- maintenance ------------------------------------------------------
    def forget(self, batch_id: str, ids: DataFrame | list) -> dict:
        """Remove documents by id from the corpus AND its dedup band
        index — the right-to-be-forgotten / re-crawl-invalidation
        maintenance op a long-lived training corpus needs (the CDC
        bridge, plans/corpus_sync.py, calls it for DELETEd and UPDATEd
        urls before re-gating the new content). Ledgered and atomic like
        ``apply_batch``: re-delivery of a committed ``batch_id`` is a
        no-op; rewritten files land before the manifest references them,
        so a crash leaves only orphans.

        Scale: FILE-PRUNED — the forget-id set (small by nature: a
        delete/re-crawl delta) is checked against each doc file's
        parquet footer min/max id statistics, and only files that could
        contain a forgotten id are rewritten; untouched files keep their
        manifest entries byte-identical. Cost is O(doc_files footer
        reads + touched-file rewrites), never O(corpus). The band index
        (4 tiny rows per doc) anti-joins and consolidates wholesale —
        it is the compacted small side by construction."""
        while True:
            m = self.manifest()
            if batch_id in m.committed_batches:
                return {"batch_id": batch_id, "skipped": True}
            if isinstance(ids, list):
                id_set = {int(i) for i in ids}
            else:
                id_set = {
                    int(r[0]) for r in ids.select(m.id_col).distinct().collect()
                }
            if not id_set:
                touched = []
            else:
                touched = [
                    rel
                    for rel in m.doc_files
                    if self._file_may_contain(rel, m.id_col, id_set)
                ]
            ids_df = self.spark.createDataFrame(
                [(i,) for i in sorted(id_set)], f"{m.id_col} long"
            )
            suffix = uuid.uuid4().hex[:8]
            new_files = dict.fromkeys(m.doc_files)
            n_forgot = 0
            for k, rel in enumerate(touched):
                src = self.spark.read.parquet(os.path.join(self.path, rel))
                nrel = os.path.join("docs", f"forget-{suffix}-{k}.parquet")
                src.join(F.broadcast(ids_df), m.id_col, "left_anti").write.mode(
                    "overwrite"
                ).parquet(os.path.join(self.path, nrel))
                kept = self.spark.read.parquet(
                    os.path.join(self.path, nrel)
                ).count()
                n_forgot += src.count() - kept
                new_files[rel] = nrel
            if touched:
                brel = os.path.join("bands", f"forget-{suffix}.parquet")
                self.band_index(m).join(
                    F.broadcast(ids_df), m.id_col, "left_anti"
                ).write.mode("overwrite").parquet(os.path.join(self.path, brel))
            m.version += 1
            m.doc_files = [new_files[rel] or rel for rel in m.doc_files]
            if touched:
                m.band_files = [brel]
            m.committed_batches.append(batch_id)
            m.n_docs -= n_forgot
            try:
                self._commit(m)
                return {
                    "batch_id": batch_id,
                    "skipped": False,
                    "forgotten": n_forgot,
                    "files_rewritten": len(touched),
                    "files_pruned": len(m.doc_files) - len(touched),
                }
            except CommitConflictError:
                # a racer appended files our rewrite map does not cover —
                # re-read the fresh manifest and redo (a plain re-append
                # rebase would drop the racer's docs)
                continue

    def _file_may_contain(
        self, rel: str, id_col: str, id_set: set[int]
    ) -> bool:
        """Footer-statistics prune: False only when the file's row-group
        min/max ranges exclude EVERY forgotten id (absent stats → must
        rewrite). Driver-side metadata reads, no data scan."""
        import pyarrow.parquet as pq

        path = os.path.join(self.path, rel)
        parts = (
            [
                os.path.join(path, fn)
                for fn in os.listdir(path)
                if fn.endswith(".parquet")
            ]
            if os.path.isdir(path)
            else [path]
        )
        lo, hi = min(id_set), max(id_set)
        for part in parts:
            md = pq.ParquetFile(part).metadata
            idx = next(
                (
                    i
                    for i in range(md.num_columns)
                    if md.schema.column(i).name == id_col
                ),
                None,
            )
            if idx is None:
                return True
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    return True
                if st.max < lo or st.min > hi:
                    continue
                if any(st.min <= i <= st.max for i in id_set):
                    return True
        return False
