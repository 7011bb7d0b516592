"""Embedding similarity: Spark results == numpy brute force."""

import numpy as np
import pyspark.sql.functions as F

from mysql_syncer_spark.functions.similarity import (
    ann_topk_lsh,
    cosine_topk,
    make_hyperplanes,
    pairwise_cosine_within_block,
    with_lsh_bucket,
)


def _emb(spark, n=200, dim=16, seed=3):
    rng = np.random.default_rng(seed)
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    rows = [(i, [float(x) for x in vecs[i]], int(i % 3)) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    return df, vecs


def _np_cosine(a, b):
    a = a.astype(np.float64)
    b = b.astype(np.float64)
    return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))


def test_cosine_topk_matches_numpy(spark):
    df, vecs = _emb(spark)
    q = [float(x) for x in vecs[0]]
    got = [(r["vec_id"], r["sim_r"]) for r in cosine_topk(df, q, k=5).collect()]
    sims = sorted(
        ((i, round(_np_cosine(vecs[i], vecs[0]), 4)) for i in range(len(vecs))),
        key=lambda t: (-t[1], t[0]),
    )[:5]
    assert got == sims
    assert got[0][0] == 0 and got[0][1] == 1.0  # self-match first


def test_block_pairs_match_numpy(spark):
    df, vecs = _emb(spark, n=60)
    got = {
        (r["id_a"], r["id_b"]): r["sim_r"]
        for r in pairwise_cosine_within_block(df, "label").collect()
    }
    for (a, b), s in got.items():
        assert a % 3 == b % 3 and a < b
        assert abs(s - round(_np_cosine(vecs[a], vecs[b]), 4)) <= 1e-4
    n_expected = sum(1 for a in range(60) for b in range(a + 1, 60) if a % 3 == b % 3)
    assert len(got) == n_expected


def test_lsh_bucket_matches_numpy_planes(spark):
    df, vecs = _emb(spark, n=100, dim=16)
    planes = make_hyperplanes(16, 6, seed=42)
    expect = ((vecs.astype(np.float64) @ planes.T) > 0) @ (1 << np.arange(6))
    got = {r["vec_id"]: r["bucket"] for r in with_lsh_bucket(df, 16, 6, 42).collect()}
    for i in range(100):
        assert got[i] == int(expect[i])


def test_ivf_recall_on_clustered_data(spark):
    """Clustered vectors: IVF with n_probe=2 recovers most of the exact
    top-10, deterministic across runs."""
    from mysql_syncer_spark.functions.similarity import ivf_topk, train_ivf_centroids

    rng = np.random.default_rng(11)
    centers = rng.standard_normal((6, 16)) * 5
    vecs = np.vstack(
        [centers[i % 6] + rng.standard_normal(16) * 0.3 for i in range(300)]
    ).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(300)],
        "vec_id long, embedding array<float>",
    )
    cents = train_ivf_centroids(df, k=6, sample_rows=300, seed=42)
    q = [float(x) for x in vecs[10]]
    exact = [r["vec_id"] for r in cosine_topk(df, q, k=10).collect()]
    approx = [r["vec_id"] for r in ivf_topk(df, q, cents, k=10, n_probe=2).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.8, (recall, exact, approx)
    # determinism
    cents2 = train_ivf_centroids(df, k=6, sample_rows=300, seed=42)
    assert np.allclose(cents, cents2)


def test_contract_ivf_recall_vs_exact_oracle(spark, sf_dir):
    """The emb_ivf_topk CONTRACT query (rows-only at the driver) is pinned
    here against the exact brute-force top-k on the real embeddings table.
    The test embeddings are UNCLUSTERED noise, so 3/8 probes can only give
    ~3/8 expected recall (the clustered-data test above pins >=0.8 for
    real-world-shaped data); what must hold unconditionally: recall at
    least ~probe-share, and every returned sim_r equals the exact cosine
    for that id (IVF only prunes candidates, never rescores)."""
    import __spark_entry__ as entry

    exact = {
        r["vec_id"]: r["sim_r"]
        for r in entry.q_emb_cosine_topk(spark, sf_dir).collect()
    }
    approx = {
        r["vec_id"]: r["sim_r"]
        for r in entry.q_emb_ivf_topk(spark, sf_dir).collect()
    }
    recall = len(set(exact) & set(approx)) / len(exact)
    assert recall >= 0.3, (recall, sorted(exact), sorted(approx))
    for vid, sim in approx.items():
        if vid in exact:
            assert sim == exact[vid], (vid, sim, exact[vid])


def test_ann_returns_query_bucket_subset(spark):
    df, vecs = _emb(spark, n=200, dim=16)
    q = [float(x) for x in vecs[7]]
    got = [r["vec_id"] for r in ann_topk_lsh(df, q, dim=16, k=5, n_planes=4).collect()]
    assert 7 in got  # the query vector itself shares its own bucket
    exact = [r["vec_id"] for r in cosine_topk(df, q, k=5).collect()]
    assert exact[0] == 7


def test_multiprobe_ann_recall_beats_single_probe(spark):
    """Planted near-neighbours of the query: full 1-flip multi-probe must
    recover recall@10 >= 0.9 vs brute force, and never be worse than the
    single-bucket probe (the round-2 recall hole)."""
    import numpy as np

    from mysql_syncer_spark.functions.similarity import cosine_topk

    rng = np.random.default_rng(7)
    dim = 16
    base = rng.standard_normal((200, dim))
    q = base[0] / np.linalg.norm(base[0])
    planted = q[None, :] + 0.12 * rng.standard_normal((15, dim))
    vecs = np.vstack([base, planted])
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qv = [float(x) for x in q]

    exact = {r["vec_id"] for r in cosine_topk(df, qv, k=10).collect()}
    multi = {
        r["vec_id"]
        for r in ann_topk_lsh(
            df, qv, dim=dim, k=10, n_planes=6, n_probe=10
        ).collect()
    }
    single = {
        r["vec_id"]
        for r in ann_topk_lsh(df, qv, dim=dim, k=10, n_planes=6, n_probe=1).collect()
    }
    recall_multi = len(exact & multi) / len(exact)
    recall_single = len(exact & single) / len(exact)
    assert recall_multi >= 0.9, (recall_multi, exact, multi)
    assert recall_multi >= recall_single


def test_banded_lsh_pairs_recall(spark):
    """100 planted near-dup twins: OR-amplified banded candidates + exact
    verify must find >= 90% of the true pairs (sim >= 0.9), and every
    reported sim must equal the brute-force value (verify is exact)."""
    import numpy as np

    from mysql_syncer_spark.functions.similarity import (
        lsh_cosine_pairs,
        pairwise_cosine_within_block,
    )

    rng = np.random.default_rng(11)
    dim = 16
    base = rng.standard_normal((100, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    twins = base + 0.08 * rng.standard_normal((100, dim))
    vecs = np.vstack([base, twins])
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    # brute-force truth: one static block over everything (test-only shape)
    brute = {
        (r["id_a"], r["id_b"]): r["sim_r"]
        for r in pairwise_cosine_within_block(
            df.withColumn("blk", F.lit(1)), "blk", min_sim=0.9
        ).collect()
    }
    got = {
        (r["id_a"], r["id_b"]): r["sim_r"]
        for r in lsh_cosine_pairs(
            df, dim=dim, n_planes=12, n_bands=3, min_sim=0.9
        ).collect()
    }
    assert len(brute) >= 80  # the planted twins really are near-dups
    recall = len(set(brute) & set(got)) / len(brute)
    assert recall >= 0.9, recall
    for pair, sim in got.items():
        assert pair in brute and brute[pair] == sim  # no false positives
