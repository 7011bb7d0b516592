"""Semantic checks for the corpus-dedup operators (beyond oracle parity)."""

from mysql_syncer_spark.functions.dedup_text import (
    exact_duplicates,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_pairs,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog", 44),
    (1, "the quick brown fox jumps over the lazy dog", 44),  # exact dup of 0
    (2, "the quick brown fox leaps over the lazy dog", 44),  # near dup
    (3, "pack my box with five dozen liquor jugs", 40),
    (4, "sphinx of black quartz judge my vow", 35),
    (5, "completely different content about spark engines", 48),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string, n_chars long")


def test_exact_dedup_groups(spark):
    out = {r["keeper_id"]: r["n_copies"] for r in exact_duplicates(_docs(spark)).collect()}
    assert out[0] == 2  # docs 0 and 1 collapse
    assert sum(out.values()) == 6


def test_minhash_identical_docs_identical_sigs(spark):
    sigs = {r["doc_id"]: tuple(r[f"mh{i}"] for i in range(8))
            for r in minhash_signatures(_docs(spark), k=8).collect()}
    assert sigs[0] == sigs[1]
    # near-dup shares most minhashes; unrelated docs share almost none
    shared_near = sum(a == b for a, b in zip(sigs[0], sigs[2]))
    shared_far = sum(a == b for a, b in zip(sigs[0], sigs[5]))
    assert shared_near > shared_far


def test_lsh_finds_exact_and_near_dups(spark):
    sigs = minhash_signatures(_docs(spark), k=8)
    pairs = {(r["doc_a"], r["doc_b"]) for r in lsh_candidate_pairs(sigs, k=8, bands=4).collect()}
    assert (0, 1) in pairs  # exact dup always collides in every band
    assert (0, 5) not in pairs and (3, 4) not in pairs


def test_jaccard_values(spark):
    out = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            _docs(spark), block_col="n_chars", threshold=0.0
        ).collect()
    }
    assert out[(0, 1)] == 1.0
    # 0 vs 2: tokens differ by jumps/leaps → J = 7/9 (8 distinct each, 7 shared)
    assert abs(out[(0, 2)] - round(7 / 9, 4)) < 1e-9
    # blocking: (0,3) different n_chars → never compared
    assert (0, 3) not in out


def test_simhash_hamming_orders_similarity(spark):
    sh = {r["doc_id"]: r["simhash"] for r in simhash(_docs(spark)).collect()}
    assert sh[0] == sh[1]
    ham_near = bin(sh[0] ^ sh[2]).count("1")
    ham_far = bin(sh[0] ^ sh[5]).count("1")
    assert ham_near < ham_far
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_near_pairs(simhash(_docs(spark)), max_hamming=16).collect()
    }
    assert pairs[(0, 1)] == 0


def test_simhash_near_pairs_complete_vs_brute_force(spark):
    """Pigeonhole completeness: NO qualifying pair may be dropped by the
    banding, at any radius (regression for the 4×16-bit chunking that was
    only complete for hamming ≤ 3). Uses a corpus with word-level edits so
    pair distances spread across 0..64."""
    rows = []
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    words = base.split()
    for i in range(40):
        w = list(words)
        # mutate i%7 words deterministically → spread of hamming distances
        for j in range(i % 7):
            w[(i + j) % len(w)] = f"mut{i}_{j}"
        rows.append((i, " ".join(w), len(base)))
    df = spark.createDataFrame(rows, "doc_id long, text string, n_chars long")
    sim = simhash(df)
    sh = {r["doc_id"]: r["simhash"] for r in sim.collect()}
    for max_h in (3, 8, 17):
        got = {
            (r["doc_a"], r["doc_b"])
            for r in simhash_near_pairs(sim, max_hamming=max_h).collect()
        }
        want = {
            (a, b)
            for a in sh
            for b in sh
            if a < b and bin((sh[a] ^ sh[b]) & (2**64 - 1)).count("1") <= max_h
        }
        assert got == want, (max_h, want - got, got - want)


def test_duplicate_clusters_connected_components(spark):
    """CC over candidate edges: chains collapse to min-id clusters; keep
    flag marks exactly one doc per cluster."""
    from mysql_syncer_spark.functions.dedup_text import duplicate_clusters

    pairs = spark.createDataFrame(
        # component {1,2,3,9} via chain, component {5,7}, edge dup included
        [(1, 2), (2, 3), (3, 9), (5, 7), (1, 2)],
        "doc_a long, doc_b long",
    )
    out = {r["doc_id"]: (r["cluster_id"], r["keep"])
           for r in duplicate_clusters(pairs).collect()}
    assert out == {
        1: (1, True), 2: (1, False), 3: (1, False), 9: (1, False),
        5: (5, True), 7: (5, False),
    }


def test_duplicate_clusters_long_chain_converges_logarithmically(spark):
    """A path graph of diameter 60 (long near-dup chain) must reach the
    fixpoint well inside the round budget — pointer jumping makes rounds
    O(log diameter) — and NOT silently return split clusters."""
    from mysql_syncer_spark.functions.dedup_text import duplicate_clusters

    n = 61
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    out = duplicate_clusters(pairs, max_iters=10).collect()
    assert len(out) == n
    assert all(r["cluster_id"] == 0 for r in out)
    assert sum(r["keep"] for r in out) == 1


def test_duplicate_clusters_raises_instead_of_splitting(spark):
    """With a round budget too small for the diameter the operator must
    raise, never return wrong cluster ids."""
    import pytest

    from mysql_syncer_spark.functions.dedup_text import duplicate_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        duplicate_clusters(pairs, max_iters=2).collect()
