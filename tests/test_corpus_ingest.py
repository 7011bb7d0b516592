"""CorpusTable: batched document ingest with online near-dup suppression,
ledgered exactly-once commits. Ground truth = a sequential greedy fold in
plain Python over the full-corpus LSH collision relation (which is
split-invariant: signatures depend only on each doc's own text)."""

import tempfile

from pyspark.sql import functions as F

from mysql_syncer_spark.functions.dedup_text import (
    incremental_near_duplicates,
    lsh_candidate_pairs,
    minhash_bands,
    minhash_signatures,
)
from mysql_syncer_spark.sink.corpus_table import CorpusTable

SF = "/root/testdata/sf0.01"


def _batches(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    return docs, [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]


def test_corpus_ingest_matches_sequential_greedy(spark):
    docs, batches = _batches(spark)
    tbl = CorpusTable.create(spark, tempfile.mkdtemp() + "/corpus")
    results = [
        tbl.apply_batch(f"b{i}", b) for i, b in enumerate(batches)
    ]
    assert all(not r["skipped"] for r in results)
    got = {r["doc_id"] for r in tbl.read().select("doc_id").collect()}

    # oracle: greedy fold over the symmetric collision relation
    pairs = lsh_candidate_pairs(minhash_signatures(docs)).collect()
    collide: dict[int, set] = {}
    for r in pairs:
        collide.setdefault(r["doc_a"], set()).add(r["doc_b"])
        collide.setdefault(r["doc_b"], set()).add(r["doc_a"])
    accepted: set = set()
    order = [
        sorted(r["doc_id"] for r in b.select("doc_id").collect())
        for b in batches
    ]
    for batch in order:
        bset = set(batch)
        for d in batch:
            nbrs = collide.get(d, set())
            # reject on: collision with an accepted doc of an EARLIER
            # batch, or with ANY earlier-id doc of the same batch
            if (nbrs & (accepted - bset)) or any(
                o < d for o in nbrs if o in bset
            ):
                continue
            accepted.add(d)
    assert got == accepted
    m = tbl.manifest()
    assert m.n_docs == len(accepted)
    assert m.n_rejected == docs.count() - len(accepted)
    assert 0 < m.n_rejected < docs.count()  # the corpus has real near-dups


def test_corpus_ingest_redelivery_is_noop(spark):
    _, batches = _batches(spark)
    tbl = CorpusTable.create(spark, tempfile.mkdtemp() + "/corpus")
    tbl.apply_batch("b0", batches[0])
    r1 = tbl.apply_batch("b1", batches[1])
    v = tbl.manifest().version
    n = tbl.read().count()
    again = tbl.apply_batch("b1", batches[1])
    assert again["skipped"] and not r1["skipped"]
    assert tbl.manifest().version == v
    assert tbl.read().count() == n


def test_corpus_ingest_band_index_grows_with_accepted_only(spark):
    _, batches = _batches(spark)
    tbl = CorpusTable.create(spark, tempfile.mkdtemp() + "/corpus")
    tbl.apply_batch("b0", batches[0])
    m = tbl.manifest()
    # 4 bands per accepted doc, nothing for rejected ones
    assert tbl.band_index().count() == m.n_docs * 4
    ids_in_index = {
        r["doc_id"] for r in tbl.band_index().select("doc_id").distinct().collect()
    }
    assert ids_in_index == {
        r["doc_id"] for r in tbl.read().select("doc_id").collect()
    }


def _verified_greedy(docs, batches, t):
    """Accepted ids of the greedy fold over the VERIFIED collision relation
    (LSH candidates ∩ exact token-set jaccard >= t)."""
    # python truth: token sets once, jaccard only on LSH candidate pairs
    toksets = {
        r["doc_id"]: set(r["text"].lower().split())
        for r in docs.collect()
    }
    pairs = lsh_candidate_pairs(minhash_signatures(docs)).collect()
    collide: dict[int, set] = {}
    for r in pairs:
        a, b = r["doc_a"], r["doc_b"]
        ta, tb = toksets[a], toksets[b]
        if len(ta & tb) / len(ta | tb) >= t:
            collide.setdefault(a, set()).add(b)
            collide.setdefault(b, set()).add(a)
    accepted: set = set()
    for batch in [
        sorted(r["doc_id"] for r in b.select("doc_id").collect())
        for b in batches
    ]:
        bset = set(batch)
        for d in batch:
            nbrs = collide.get(d, set())
            if (nbrs & (accepted - bset)) or any(
                o < d for o in nbrs if o in bset
            ):
                continue
            accepted.add(d)
    return accepted


def test_corpus_ingest_verified_gate(spark):
    """With verify_jaccard set, only pairs passing EXACT token-set
    Jaccard reject — ground truth is the same greedy fold over the
    VERIFIED collision relation (LSH candidates ∩ jaccard >= t)."""
    docs, batches = _batches(spark)
    t = 0.5
    tbl = CorpusTable.create(
        spark, tempfile.mkdtemp() + "/corpus", verify_jaccard=t
    )
    for i, b in enumerate(batches):
        tbl.apply_batch(f"b{i}", b)
    got = {r["doc_id"] for r in tbl.read().select("doc_id").collect()}
    assert got == _verified_greedy(docs, batches, t)
    # the verified gate keeps strictly more than the candidate-only gate
    cand_tbl = CorpusTable.create(spark, tempfile.mkdtemp() + "/corpus2")
    for i, b in enumerate(batches):
        cand_tbl.apply_batch(f"b{i}", b)
    assert len(got) > cand_tbl.read().count()


def test_corpus_commit_conflict_rebases(spark, tmp_path):
    """A racer pre-claims the next version file; the writer's commit must
    rebase onto it and land at the following version with both manifests'
    content preserved."""
    import json
    import os

    docs, batches = _batches(spark)
    tbl = CorpusTable.create(spark, str(tmp_path / "c"))
    tbl.apply_batch("b0", batches[0])
    m = tbl.manifest()
    # racer claims version m.version+1 with a manifest that commits "bX"
    racer = CorpusTable(spark, str(tmp_path / "c"))
    rm = racer.manifest()
    rm.version += 1
    rm.committed_batches.append("bX")
    racer._commit(rm)

    r = tbl.apply_batch("b1", batches[1])
    assert not r["skipped"]
    final = tbl.manifest()
    assert final.version == m.version + 2  # rebased past the racer
    assert "bX" in final.committed_batches and "b1" in final.committed_batches
    # re-delivery against the racer's id is a no-op too
    assert tbl.apply_batch("bX", batches[2])["skipped"]


def test_band_index_threshold_compaction(spark, tmp_path):
    """Many small batches: the band-file list stays bounded by the
    compaction threshold, the index content stays the union of accepted
    docs' bands, and the dedup gate behaves identically to an
    uncompacted table."""
    docs, _ = _batches(spark)
    rows = docs.limit(60).collect()
    tbl = CorpusTable.create(
        spark, str(tmp_path / "c"), band_compact_threshold=4
    )
    ref = CorpusTable.create(
        spark, str(tmp_path / "ref"), band_compact_threshold=10**9
    )
    for i in range(12):
        chunk = spark.createDataFrame(rows[i * 5:(i + 1) * 5], docs.schema) \
            .select("doc_id", "text")
        tbl.apply_batch(f"b{i}", chunk)
        ref.apply_batch(f"b{i}", chunk)
        assert len(tbl.manifest().band_files) <= 4
    assert len(ref.manifest().band_files) == 12
    got = {tuple(r) for r in tbl.band_index().collect()}
    want = {tuple(r) for r in ref.band_index().collect()}
    assert got == want
    assert {r["doc_id"] for r in tbl.read().collect()} == {
        r["doc_id"] for r in ref.read().collect()
    }


def test_candidate_gate_equals_incremental_near_duplicates(spark, tmp_path):
    """verify_jaccard=None: each batch rejects exactly the docs that the
    public signature path (``incremental_near_duplicates`` against the
    band index as of batch start) reports, and the band index the sink
    writes from its token arrays equals ``minhash_bands`` over the
    accepted docs' ``minhash_signatures``."""
    docs, batches = _batches(spark)
    tbl = CorpusTable.create(spark, str(tmp_path / "c"))
    for i, b in enumerate(batches):
        index = tbl.band_index().localCheckpoint()
        want = {
            r["doc_id"]
            for r in incremental_near_duplicates(b, index)
            .select("doc_id").collect()
        }
        res = tbl.apply_batch(f"b{i}", b)
        ids = {r["doc_id"] for r in b.select("doc_id").collect()}
        kept = {r["doc_id"] for r in tbl.read().select("doc_id").collect()}
        assert ids - kept == want
        assert (res["accepted"], res["rejected"]) == (
            len(ids) - len(want), len(want)
        )
    accepted = docs.join(tbl.read().select("doc_id"), "doc_id", "left_semi")
    got = {tuple(r) for r in tbl.band_index().collect()}
    assert got == {
        tuple(r) for r in minhash_bands(minhash_signatures(accepted)).collect()
    }


def test_verified_gate_over_compacted_band_index(spark, tmp_path):
    """verify_jaccard set and band_compact_threshold=2: from the third
    batch on the gate reads a compacted band dir, and the accepted set
    still equals the verified greedy fold and an uncompacted table."""
    docs, batches = _batches(spark)
    t = 0.5
    tbl = CorpusTable.create(
        spark, str(tmp_path / "c"), verify_jaccard=t, band_compact_threshold=2
    )
    ref = CorpusTable.create(
        spark, str(tmp_path / "ref"), verify_jaccard=t,
        band_compact_threshold=10**9,
    )
    for i, b in enumerate(batches):
        assert tbl.apply_batch(f"b{i}", b) == ref.apply_batch(f"b{i}", b)
    assert any("compact-" in f for f in tbl.manifest().band_files)
    got = {r["doc_id"] for r in tbl.read().select("doc_id").collect()}
    assert got == _verified_greedy(docs, batches, t)
    assert {tuple(r) for r in tbl.band_index().collect()} == {
        tuple(r) for r in ref.band_index().collect()
    }
    m = tbl.manifest()
    assert (m.n_docs, m.n_rejected) == (len(got), docs.count() - len(got))


# Spark jobs one verified-gate batch may run: the batch materialization,
# the candidate joins, the two verify rounds, the flag join and the two
# writes (the counts ride on the docs write). This suite's session runs
# 21-22 per batch (29-30 before the one-materialization plan); the bound
# is the larger count plus 2.
MAX_JOBS_PER_BATCH = 24


def test_corpus_batch_job_floor(spark, tmp_path):
    """A small 3-batch verified ingest runs at most MAX_JOBS_PER_BATCH
    Spark jobs per batch (jobs under the batch's job group, plus jobs
    started without a group while it ran)."""
    docs, batches = _batches(spark)
    sc = spark.sparkContext
    st = sc.statusTracker()
    tbl = CorpusTable.create(spark, str(tmp_path / "c"), verify_jaccard=0.5)
    for i, b in enumerate(batches):
        group = f"corpus-job-floor-{tmp_path.name}-{i}"
        before = set(st.getJobIdsForGroup(None))
        sc.setJobGroup(group, group)
        try:
            tbl.apply_batch(f"b{i}", b)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs = set(st.getJobIdsForGroup(group)) | (
            set(st.getJobIdsForGroup(None)) - before
        )
        assert len(jobs) <= MAX_JOBS_PER_BATCH, (i, len(jobs))
