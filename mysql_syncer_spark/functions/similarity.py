"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k with JVM higher-order functions
(zip_with + aggregate — stays in codegen, no Python). Scale path: LSH
bucketing by random-hyperplane signs (signs computed by ONE vectorized
pandas UDF doing a numpy matrix multiply per Arrow batch), so candidate
generation is an equi-join on bucket id instead of an all-pairs scan.

At 100 TB the brute-force path is the per-bucket verifier, not the global
scan: partition-prune by bucket, then score ≤ bucket-sized candidates.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, x: acc + x * x)
    )


def cosine_to_query(
    df: DataFrame, query: list[float], vec_col: str = "embedding"
) -> DataFrame:
    """Add ``sim`` = cosine(vec, query), computed in double precision with a
    left-fold (deterministic summation order — reproducible across engines
    after rounding)."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    q = F.array(*[F.lit(float(x)).cast("double") for x in query])
    sim = _dot(v, q) / (_norm(v) * _norm(q))
    return df.withColumn("sim", sim)


def cosine_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force exact top-k by cosine. orderBy on a k-limited result is a
    TakeOrdered physical op — no global sort materialization."""
    scored = cosine_to_query(df, query, vec_col).select(
        F.col(id_col), F.round(F.col("sim"), 4).alias("sim_r")
    )
    return scored.orderBy(F.desc("sim_r"), F.asc(id_col)).limit(k)


def pairwise_cosine_within_block(
    df: DataFrame,
    block_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_sim: float | None = None,
) -> DataFrame:
    """All-pairs cosine restricted to equal ``block_col`` (label, LSH
    bucket, …). Output: id_a < id_b, sim_r (rounded 4).

    SCALE NOTE: with a STATIC low-cardinality block (e.g. a label) this is
    O(n²/blocks) and the block count does not grow with data — use it as a
    per-bucket verifier / test oracle only. The exported production path
    for global near-dup pairs is ``lsh_cosine_pairs`` (OR-amplified banded
    LSH: bucket count grows with the plane budget, candidates stay an
    equi-join)."""
    v = df.select(
        F.col(id_col),
        F.col(block_col).alias("_blk"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    )
    a, b = v.alias("a"), v.alias("b")
    pairs = a.join(
        b,
        (F.col("a._blk") == F.col("b._blk"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    )
    sim = _dot(F.col("a._v"), F.col("b._v")) / (
        _norm(F.col("a._v")) * _norm(F.col("b._v"))
    )
    out = pairs.select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.round(sim, 4).alias("sim_r"),
    )
    if min_sim is not None:
        out = out.filter(F.col("sim_r") >= min_sim)
    return out


def make_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    """Deterministic random hyperplanes (seeded; same planes every run)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).astype(np.float64)


def with_lsh_bucket(
    df: DataFrame,
    dim: int,
    n_planes: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    out_col: str = "bucket",
) -> DataFrame:
    """Random-hyperplane LSH bucket id per vector: ONE numpy matmul per
    Arrow batch (vectorized pandas UDF; no per-row Python)."""
    planes = make_hyperplanes(dim, n_planes, seed)

    @pandas_udf(T.IntegerType())
    def bucket_udf(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy())  # (batch, dim)
        signs = (mat @ planes.T) > 0  # (batch, n_planes)
        weights = (1 << np.arange(n_planes)).astype(np.int64)
        return pd.Series((signs @ weights).astype(np.int32))

    return df.withColumn(out_col, bucket_udf(F.col(vec_col)))


def band_plane_slices(n_planes: int, n_bands: int) -> list[tuple[int, int]]:
    """Contiguous plane ranges per band (shared by engine and SQL oracle)."""
    if n_planes % n_bands:
        raise ValueError("n_planes must divide evenly into n_bands")
    w = n_planes // n_bands
    return [(b * w, (b + 1) * w) for b in range(n_bands)]


def with_lsh_bands(
    df: DataFrame,
    dim: int,
    n_planes: int = 12,
    n_bands: int = 2,
    seed: int = 42,
    vec_col: str = "embedding",
    keep_keys: bool = False,
) -> DataFrame:
    """OR-amplified banded LSH: the planes split into ``n_bands`` contiguous
    groups; each vector emits one (band, key) row per band (posexplode).
    Two vectors become candidates if ANY band's sign pattern matches —
    the standard OR-amplification that removes the single-bucket recall
    hole (a near-dup pair straddling one hyperplane still agrees on the
    bands that exclude that plane). All keys come from ONE numpy matmul
    per Arrow batch. ``keep_keys=True`` additionally carries the full
    per-vector key array (``_band_keys``) on every exploded row, for
    consumers needing cross-band state (first-matching-band pairing)."""
    planes = make_hyperplanes(dim, n_planes, seed)
    slices = band_plane_slices(n_planes, n_bands)

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def keys_udf(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy())  # (batch, dim)
        signs = (mat @ planes.T) > 0  # (batch, n_planes)
        keys = []
        for lo, hi in slices:
            weights = (1 << np.arange(hi - lo)).astype(np.int64)
            keys.append((signs[:, lo:hi] @ weights).astype(np.int32))
        stacked = np.stack(keys, axis=1)  # (batch, n_bands)
        return pd.Series(list(stacked))

    out = df.withColumn("_band_keys", keys_udf(F.col(vec_col))).select(
        "*", F.posexplode("_band_keys").alias("band", "key")
    )
    return out if keep_keys else out.drop("_band_keys")


def lsh_cosine_pairs(
    df: DataFrame,
    dim: int,
    n_planes: int = 12,
    n_bands: int = 2,
    min_sim: float = 0.15,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Production embedding near-dup pairs: banded-LSH candidate
    generation (equi-join on (band, key) — never all-pairs) followed by
    exact cosine verification of only the candidates. Output: id_a < id_b,
    sim_r (rounded 4)."""
    banded = with_lsh_bands(
        df, dim, n_planes, n_bands, seed, vec_col, keep_keys=True
    ).select(id_col, "_band_keys", "band", "key")
    # pin the banded keys before the self-join: without this the
    # hyperplane UDF re-evaluates once per join side (ReuseExchange MAY
    # rescue the plan, but that is luck, not a guarantee) — mirrors the
    # MinHash twin in dedup_text.lsh_candidate_pairs
    banded = banded.localCheckpoint(eager=False)
    a, b = banded.alias("a"), banded.alias("b")
    # first-matching-band emission (same trick as dedup_text
    # _first_band_pairs): a pair is kept only in its minimum matching
    # band, so the output is duplicate-free without a distinct exchange
    cond = (
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.key") == F.col("b.key"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    )
    for j in range(n_bands - 1):
        cond = cond & (
            (F.col("a.band") <= j)
            | (F.col("a._band_keys")[j] != F.col("b._band_keys")[j])
        )
    cand = a.join(b, cond).select(
        F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
    )
    v = df.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    )
    va = v.withColumnsRenamed({id_col: "id_a", "_v": "_va"})
    vb = v.withColumnsRenamed({id_col: "id_b", "_v": "_vb"})
    sim = _dot(F.col("_va"), F.col("_vb")) / (
        _norm(F.col("_va")) * _norm(F.col("_vb"))
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", F.round(sim, 4).alias("sim_r"))
        .filter(F.col("sim_r") >= min_sim)
    )


def kmeans_np(x: np.ndarray, k: int, iters: int = 8, seed: int = 42) -> np.ndarray:
    """Seeded Lloyd iterations over a sample matrix — the SHARED training
    core: the engine trains on a Spark-collected sample, the DuckDB
    contract oracle trains on the same rows read straight from parquet,
    and both get bit-identical centroids."""
    rng = np.random.default_rng(seed)
    cent = x[rng.choice(len(x), size=k, replace=False)]
    for _ in range(iters):
        d2 = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
        assign = d2.argmin(1)
        for j in range(k):
            members = x[assign == j]
            if len(members):
                cent[j] = members.mean(0)
    return cent


def train_ivf_centroids(
    df: DataFrame,
    k: int = 16,
    sample_rows: int = 2048,
    iters: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Driver-side mini k-means on a DETERMINISTIC sample (lowest ids —
    stable across runs/partitionings, unlike rdd.takeSample). k-means++-ish
    seeded init, few Lloyd iterations. At 100 TB you train on a sample
    regardless; only assignment is distributed."""
    sample = (
        df.orderBy(id_col).limit(sample_rows).select(vec_col).collect()
    )
    x = np.array([r[0] for r in sample], dtype=np.float64)
    return kmeans_np(x, k, iters, seed)


def ivf_assign(
    df: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "cluster",
) -> DataFrame:
    """Assign each vector to its nearest centroid — one numpy distance
    matrix per Arrow batch. The cluster id is the IVF partition key: at
    scale you write the table partitioned by it, so probing reads only
    n_probe partitions."""
    cent = centroids.astype(np.float64)

    @pandas_udf(T.IntegerType())
    def assign_udf(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        d2 = (mat**2).sum(1)[:, None] - 2 * mat @ cent.T + (cent**2).sum(1)[None, :]
        return pd.Series(d2.argmin(1).astype(np.int32))

    return df.withColumn(out_col, assign_udf(F.col(vec_col)))


def ivf_topk(
    df: DataFrame,
    query: list[float],
    centroids: np.ndarray,
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF search: score only vectors in the query's n_probe nearest
    clusters (the Iceberg-partition-pruned scan path at scale)."""
    q = np.asarray(query, dtype=np.float64)
    d2 = ((centroids - q) ** 2).sum(1)
    probes = [int(i) for i in d2.argsort()[:n_probe]]
    assigned = ivf_assign(df, centroids, vec_col)
    cand = assigned.filter(F.col("cluster").isin(probes))
    return cosine_topk(cand, query, k, id_col, vec_col)


def lsh_probe_buckets(
    query: list[float], dim: int, n_planes: int, seed: int, n_probe: int
) -> list[int]:
    """Multi-probe bucket sequence for a query: its own bucket, then
    neighbour buckets in INCREASING total flip cost, where flipping plane j
    costs the query's margin |q·plane_j| (a near neighbour most plausibly
    sits just across the planes the query is closest to). Flip SETS (not
    just single flips) are generated in nondecreasing cost with the classic
    shift/extend heap (multi-probe LSH, Lv et al., VLDB'07). Deterministic —
    the SQL oracle embeds the same list."""
    import heapq

    planes = make_hyperplanes(dim, n_planes, seed)
    q = np.asarray(query, dtype=np.float64)
    dots = planes @ q
    qbucket = int(((dots > 0) * (1 << np.arange(n_planes))).sum())
    margins = np.abs(dots)
    order = np.argsort(margins, kind="stable")  # cheapest plane first
    costs = [float(margins[j]) for j in order]
    probes = [qbucket]
    if n_probe <= 1 or n_planes == 0:
        return probes
    # heap entries: (total cost, flip set as indices into `order`)
    heap: list[tuple[float, tuple[int, ...]]] = [(costs[0], (0,))]
    while heap and len(probes) < n_probe:
        c, subset = heapq.heappop(heap)
        mask = 0
        for idx in subset:
            mask |= 1 << int(order[idx])
        probes.append(qbucket ^ mask)
        last = subset[-1]
        if last + 1 < n_planes:
            heapq.heappush(  # shift: swap the last flip for the next plane
                heap, (c - costs[last] + costs[last + 1], subset[:-1] + (last + 1,))
            )
            heapq.heappush(  # extend: add the next plane to the set
                heap, (c + costs[last + 1], subset + (last + 1,))
            )
    return probes


def ann_topk_lsh(
    df: DataFrame,
    query: list[float],
    dim: int,
    k: int = 10,
    n_planes: int = 8,
    seed: int = 42,
    n_probe: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k with MULTI-PROBE LSH: score vectors in the query's
    bucket plus its ``n_probe-1`` one-bit-flip neighbour buckets (default:
    all of them, n_planes+1 probes). Single-bucket probing misses any true
    neighbour that lands on the far side of ONE hyperplane — with 6-8
    planes that is a large recall hole; probing the 1-flip shell recovers
    it at (n_probe/2^n_planes) of the scan cost, still a pruned read."""
    if n_probe is None:
        n_probe = n_planes + 1
    probes = lsh_probe_buckets(query, dim, n_planes, seed, n_probe)
    bucketed = with_lsh_bucket(df, dim, n_planes, seed, vec_col)
    cand = bucketed.filter(F.col("bucket").isin(probes))
    return cosine_topk(cand, query, k, id_col, vec_col)
