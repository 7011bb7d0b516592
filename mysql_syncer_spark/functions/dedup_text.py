"""Document-level deduplication for a web corpus (training-data pipeline).

Not present in the reference (it has no scalar/agg operators at all —
SURVEY §2.4); these are the first-class 100 TB corpus ops the brief adds.
All hot paths are JVM built-ins (explode / groupBy / join with map-side
partial aggregation); nothing row-at-a-time.

Scale notes per operator:
- exact: md5-groupBy — one shuffle on the 16-byte digest, partial-agg'd.
- minhash: K min() aggs over an exploded distinct-token table. The explode
  multiplies rows by ~tokens/doc, but min() partial-combines map-side so
  the shuffle carries ONE row per (doc, ) group per mapper. Signatures use
  min(md5(seed||token)) — engine-portable (same result in DuckDB/anything
  with md5), deterministic, no Python.
- LSH: signatures → banded keys → self-join per band. Join is on the band
  hash (high cardinality, uniform) → no skew; output is candidate PAIRS,
  verified downstream, so false positives cost compute not correctness.
- simhash: 64 per-bit signed sums over exploded (doc, md5(token)) rows —
  one shuffle, 64 cheap SUM aggregates, whole-stage codegen; near-pair
  banding uses max_hamming+1 bands (pigeonhole-complete at any radius).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOKEN_SPLIT = r"\s+"


def normalized(text: Column) -> Column:
    return F.trim(F.regexp_replace(F.lower(text), TOKEN_SPLIT, " "))


def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup groups: one row per distinct content fingerprint.
    Output: fp, keeper_id (min id), n_copies."""
    return (
        df.select(F.md5(normalized(F.col(text_col))).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count("*").alias("n_copies"),
        )
    )


def distinct_tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, token) pairs, token-set semantics (duplicates within a doc
    collapsed BEFORE the shuffle via array_distinct on the map side)."""
    return df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(F.split(normalized(F.col(text_col)), " "))
        ).alias("token"),
    ).filter(F.col("token") != "")


def _spread_small_scan(df: DataFrame) -> DataFrame:
    """Input splits follow parquet row groups: a small-file scan can be ONE
    task even though the downstream compute (explode + k hashes per token)
    is the expensive part. When the scan has fewer partitions than cores,
    spread rows first — the extra exchange moves only the raw rows, tiny
    next to the per-token work it unlocks. Inputs with enough splits (any
    real 100 TB table) pass through untouched."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _token_array(text: Column) -> Column:
    """Distinct non-empty tokens of the normalized text as a per-row array
    — the map-side twin of :func:`distinct_tokens` (same set semantics,
    no explode)."""
    return F.filter(
        F.array_distinct(F.split(normalized(text), " ")), lambda t: t != ""
    )


def _signature_cols(toks: Column, k: int) -> list[Column]:
    """The K MinHash slots of a token-array column: slot i is
    min(md5("mh{i}|" || token)) over the array — the one definition of
    the signature, shared by :func:`minhash_signatures` and the corpus
    sink's per-batch materialization. NULL for an empty array."""
    def _seeded(i: int):
        seed = F.lit(f"mh{i}|")
        # single-parameter lambda: a 2-arg lambda would be treated as the
        # (element, index) form by transform()
        return lambda t: F.md5(F.concat(seed, t))

    return [F.array_min(F.transform(toks, _seeded(i))) for i in range(k)]


def _band_key_cols(sig: list[Column], bands: int) -> list[Column]:
    """The LSH band keys of a signature: band b hashes its rows_per_band =
    k/bands consecutive slots — the one definition shared by
    :func:`minhash_bands`, :func:`_banded_keys` and :func:`_band_key_array`."""
    rows_per_band = len(sig) // bands
    return [
        F.md5(F.concat_ws("|", *sig[b * rows_per_band:(b + 1) * rows_per_band]))
        for b in range(bands)
    ]


def _band_key_array(toks: Column, k: int, bands: int) -> Column:
    """The per-doc ARRAY of band keys straight from a token-array column
    (signature slots inlined, never materialized as columns). NULL for an
    empty token set, which has no signature (see
    :func:`minhash_signatures`), so it explodes to no band rows."""
    return F.when(
        F.size(toks) > 0, F.array(*_band_key_cols(_signature_cols(toks, k), bands))
    )


def minhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 8
) -> DataFrame:
    """K-permutation MinHash via min(md5(seed||token)) — the md5 of a
    seeded token is a uniform 128-bit draw; the min over a doc's token set
    is the classic MinHash estimator. Output: id, mh0..mh{k-1}.

    Precondition: ``id_col`` is unique in ``df``. Output is one row per
    input row, so a repeated id yields several signature rows for that
    id, and every consumer keyed on the id (LSH bands, candidate pairs)
    then sees one document per row, not per id.

    MAP-ONLY: the per-doc min is an ``array_min`` over the doc's own token
    array, so no explode and no aggregation exchange exist at all — the
    previous explode → groupBy(id) shape shuffled one partial row per
    (doc, mapper) for zero semantic gain (the min is per-doc local).
    Identical output: same token-set semantics (docs with an empty token
    set emit nothing), same min-over-md5 values, same column order."""
    sig_cols = [
        c.alias(f"mh{i}")
        for i, c in enumerate(_signature_cols(F.col("_toks"), k))
    ]
    return (
        _spread_small_scan(df)
        .select(F.col(id_col), _token_array(F.col(text_col)).alias("_toks"))
        .filter(F.size("_toks") > 0)
        .select(id_col, *sig_cols)
    )


def _slots(k: int) -> list[Column]:
    return [F.col(f"mh{i}") for i in range(k)]


def minhash_bands(
    signatures: DataFrame, id_col: str = "doc_id", k: int = 8, bands: int = 4
) -> DataFrame:
    """(id, band, key) rows — the persistable LSH index: rows_per_band =
    k/bands signature slots hash into each band key. Write this table
    bucketed by (band, key) and incremental dedup becomes an equi-join of
    new docs' bands against it (see incremental_near_duplicates)."""
    band_cols = [
        F.struct(F.lit(b).alias("band"), key.alias("key"))
        for b, key in enumerate(_band_key_cols(_slots(k), bands))
    ]
    return signatures.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")
    ).select(id_col, "bk.band", "bk.key")


def _exploded_band_keys(df: DataFrame, id_col: str) -> DataFrame:
    """(id, _keys, band, key) — one row per band of each row's ``_keys``
    array (rows whose array is NULL emit none), with the array carried
    alongside so a downstream self-join can test "did any EARLIER band
    already match" without a second lookup."""
    return df.select(
        id_col, "_keys", F.posexplode("_keys").alias("band", "key")
    )


def _banded_keys(
    signatures: DataFrame, id_col: str, k: int, bands: int
) -> DataFrame:
    """(id, _keys, band, key) — the band keys of :func:`minhash_bands`
    via :func:`_exploded_band_keys`."""
    return _exploded_band_keys(
        signatures.select(
            F.col(id_col), F.array(*_band_key_cols(_slots(k), bands)).alias("_keys")
        ),
        id_col,
    )


def _first_band_pairs(
    keyed: DataFrame, id_col: str, bands: int
) -> DataFrame:
    """Ordered candidate pairs (a.id < b.id) from the banded self-join,
    emitted EXACTLY ONCE per pair: a pair colliding in several bands is
    kept only at its first (minimum) matching band — for every earlier
    band the carried key arrays must differ. This replaces the
    join → ``distinct()`` shape: the distinct re-shuffled every raw match
    (4 bands of a near-dup cluster ⇒ ~4x the distinct output) just to
    drop duplicates this filter removes map-side for free.
    Output columns: doc_a, doc_b (same set as distinct-of-all-matches)."""
    a, b = keyed.alias("a"), keyed.alias("b")
    cond = (
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.key") == F.col("b.key"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    )
    for j in range(bands - 1):
        # band keys are md5 strings (never null), so != is total
        cond = cond & (
            (F.col("a.band") <= j)
            | (F.col("a._keys")[j] != F.col("b._keys")[j])
        )
    return a.join(b, cond).select(
        F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
    )


def incremental_near_duplicates(
    new_docs: DataFrame,
    band_index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Incremental dedup — the streaming-corpus shape at 100 TB, where the
    accepted corpus is NEVER re-deduped. ``band_index`` is the persisted
    (doc_id, band, key) table from :func:`minhash_bands`, written once and
    appended per accepted batch (store it bucketed by (band, key) so this
    join needs no index-side shuffle). Each incoming batch is signatured,
    banded, then checked two ways:

    - against the index: an equi-join on (band, key) — cost is
      O(batch_bands + touched buckets), independent of corpus size;
    - within the batch: the usual banded self-join, so a batch that
      contains its own duplicates is caught before any of them is indexed.

    Output: doc_id (new doc), dup_of (matched indexed doc, or the earlier
    new doc with the smaller id), src ('index' | 'batch'), distinct.
    Candidates only — verify with exact Jaccard downstream exactly as in
    :func:`verified_near_duplicates`; accepted survivors' bands get
    appended to the index.

    The within-batch side emits each pair once via the first-matching-band
    filter (:func:`_first_band_pairs`) instead of a global ``distinct()``;
    only the (small, touched-bucket) index side still dedups. The two pair
    spaces are disjoint (index docs are prior batches), so the union needs
    no further distinct — same output rows, one big exchange fewer."""
    sigs = minhash_signatures(new_docs, id_col, text_col, k).localCheckpoint(
        eager=False
    )
    keyed = _banded_keys(sigs, id_col, k, bands)
    n = keyed.alias("n")
    ix = band_index.alias("ix")
    vs_index = (
        n.join(
            ix,
            (F.col("n.band") == F.col("ix.band")) & (F.col("n.key") == F.col("ix.key")),
        )
        .select(
            F.col(f"n.{id_col}").alias("doc_id"),
            F.col(f"ix.{id_col}").alias("dup_of"),
        )
        .distinct()
        .withColumn("src", F.lit("index"))
    )
    vs_batch = _first_band_pairs(keyed, id_col, bands).select(
        F.col("doc_a").alias("dup_of"),  # earlier (smaller) id
        F.col("doc_b").alias("doc_id"),
    ).select("doc_id", "dup_of", F.lit("batch").alias("src"))
    return vs_index.unionByName(vs_batch)


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    k: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Band the signature (rows_per_band = k/bands), bucket-join docs that
    collide in ANY band. Output: doc_a < doc_b candidate pairs (distinct —
    guaranteed structurally, see below).

    The signature table is localCheckpoint-ed (lazily — laziness of the
    returned plan is preserved) before the self-join: otherwise BOTH join
    sides re-run the full signature lineage (tokenize + k hashes over the
    corpus). At scale you'd persist signatures to a table first; the
    checkpoint is the in-query equivalent.

    A pair colliding in several bands is emitted only at its FIRST
    matching band (:func:`_first_band_pairs`), which makes the output
    duplicate-free by construction — the previous ``distinct()`` was a
    full extra exchange of every raw band match (near-dup clusters match
    in all bands, so ~``bands``x the final pair count) and is gone."""
    signatures = signatures.localCheckpoint(eager=False)
    keyed = _banded_keys(signatures, id_col, k, bands)
    return _first_band_pairs(keyed, id_col, bands)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = None,
    threshold: float = 0.5,
) -> DataFrame:
    """Token-set Jaccard near-dup pairs with cheap blocking.

    Without blocking, a common token joins every pair of docs containing
    it — O(sum cnt(token)^2) blowup on a web corpus. ``block_col`` (e.g.
    exact n_chars, a length bucket, or an LSH band) restricts pairs to
    same-block docs; pass None only at toy scale.
    Output: doc_a, doc_b, n_inter, n_a, n_b, jaccard (rounded 4)."""
    toks = distinct_tokens(df, id_col, text_col)
    if block_col is not None:
        toks = toks.join(
            df.select(F.col(id_col), F.col(block_col).alias("_blk")), id_col
        )
    sizes = toks.groupBy(id_col).agg(F.count("*").alias("n_tok"))
    a = toks.alias("a")
    b = toks.alias("b")
    cond = (F.col("a.token") == F.col("b.token")) & (
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    )
    if block_col is not None:
        cond = cond & (F.col("a._blk") == F.col("b._blk"))
    inter = (
        a.join(b, cond)
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .agg(F.count("*").alias("n_inter"))
    )
    out = (
        inter.join(sizes.withColumnsRenamed({id_col: "doc_a", "n_tok": "n_a"}), "doc_a")
        .join(sizes.withColumnsRenamed({id_col: "doc_b", "n_tok": "n_b"}), "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 4
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("doc_a", "doc_b", "n_inter", "n_a", "n_b", "jaccard")


def _band_widths(bits: int, n_bands: int) -> list[int]:
    base, extra = divmod(bits, n_bands)
    return [base + (1 if b < extra else 0) for b in range(n_bands)]


def duplicate_clusters(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 20,
) -> DataFrame:
    """Connected components over near-dup candidate edges → dedup clusters
    (cluster_id = smallest doc id in the component; keep = id==cluster).

    Each round does (a) one-hop min-label propagation (equi-join + min
    aggregate, both partial-combined) AND (b) a pointer jump
    (label ← label's label), so the label distance covered per round
    DOUBLES — rounds needed grow as O(log diameter), not O(diameter).
    Long near-dup chains (common in real corpora: A≈B≈C≈…) therefore
    converge inside a small ``max_iters``; if the fixpoint is still not
    reached the loop RAISES instead of silently returning split clusters
    with wrong cluster_id/keep flags. No driver-side graph, no cartesian.
    Output: doc_id, cluster_id, keep."""
    edges = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).unionByName(
        pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
    )
    labels = (
        edges.select(F.col("src").alias("id")).distinct().withColumn("label", F.col("id"))
    )
    converged = False
    for _ in range(max_iters):
        # (a) one-hop: min over self + neighbours' labels
        nbr = (
            edges.join(labels, edges.dst == labels.id)
            .select(F.col("src").alias("id"), "label")
        )
        hop = (
            labels.unionByName(nbr).groupBy("id").agg(F.min("label").alias("label"))
        )
        # (b) pointer jump: label ← label(label). Every label value is
        # itself a node id (min over ids), so the lookup join is total;
        # label(x) ≤ x monotonically, hence the jump only shrinks labels.
        ptr = hop.select(F.col("id").alias("_pid"), F.col("label").alias("_plabel"))
        new_labels = (
            hop.join(ptr, hop.label == ptr._pid, "left")
            .select(
                "id",
                F.coalesce(F.col("_plabel"), F.col("label")).alias("label"),
            )
        )
        new_labels = new_labels.localCheckpoint(eager=True)  # cut lineage per round
        changed = (
            labels.alias("o")
            .join(new_labels.alias("n"), "id")
            .filter(F.col("o.label") != F.col("n.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"duplicate_clusters did not converge in {max_iters} rounds "
            "(component diameter > 2^rounds); raise max_iters"
        )
    return labels.select(
        F.col("id").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        (F.col("id") == F.col("label")).alias("keep"),
    )


def verified_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """The production near-dup pipeline: MinHash-LSH candidate generation
    (banded equi-join — never all-pairs) followed by EXACT token-set
    Jaccard verification of only the candidates. This is the scale path
    the plain ``ngram_jaccard_pairs`` blocking (exact length) cannot be:
    candidates come from content similarity, so near-dups of different
    lengths are found, and the verify join touches candidate pairs only.
    Output: doc_a, doc_b, n_inter, n_a, n_b, jaccard (rounded 4).

    The verify attaches each side's DISTINCT-TOKEN ARRAY to the candidate
    pair (two equi-joins — the per-doc array table is tiny next to the
    pair table and broadcasts) and intersects map-side
    (``array_intersect``), instead of exploding tokens and re-aggregating
    per pair: the old shape shuffled O(pairs x tokens/doc) rows through
    two exchanges; this one shuffles nothing beyond the pair join itself.
    Values are identical: same distinct-token sets, same counts, same
    rounding; ``n_inter >= 1`` keeps the old inner-join behavior of never
    emitting zero-overlap pairs."""
    sigs = minhash_signatures(df, id_col, text_col, k)
    pairs = lsh_candidate_pairs(sigs, id_col, k, bands)
    toks = df.select(
        F.col(id_col), _token_array(F.col(text_col)).alias("_toks")
    ).localCheckpoint(eager=False)
    ta = toks.select(F.col(id_col).alias("doc_a"), F.col("_toks").alias("_ta"))
    tb = toks.select(F.col(id_col).alias("doc_b"), F.col("_toks").alias("_tb"))
    out = (
        pairs.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("_ta", "_tb")).cast("long").alias("n_inter"),
            F.size("_ta").cast("long").alias("n_a"),
            F.size("_tb").cast("long").alias("n_b"),
        )
        .filter(F.col("n_inter") >= 1)
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 4
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("doc_a", "doc_b", "n_inter", "n_a", "n_b", "jaccard")


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash: per token the first 16 hex digits of md5(token)
    supply 64 bits (two 8-hex-digit groups parsed as 32-bit ints; bit i =
    bit i%32 of group i//32); per bit a +1/-1 vote over the doc's token
    set; the sign vector packs into a long. One shuffle, 64 SUM
    aggregates, all codegen. md5-derived bits keep the signature
    engine-portable (DuckDB parses the same hex groups).
    Output: id, simhash (long)."""
    toks = distinct_tokens(_spread_small_scan(df), id_col, text_col).withColumn(
        "h", F.md5("token")
    )
    # two 32-bit group values per token feed all 64 vote expressions
    digits = toks.select(
        id_col,
        *[
            F.conv(F.substring(F.col("h"), 8 * g + 1, 8), 16, 10)
            .cast("long")
            .alias(f"v{g}")
            for g in range(2)
        ],
    )
    # branch-free votes: bit∈{0,1} → 2*bit-1 ∈ {-1,+1}, same sum as the
    # when/otherwise form but pure integer arithmetic in the agg loop
    votes = [
        F.sum(
            F.shiftright(F.col(f"v{i // 32}"), i % 32)
            .bitwiseAND(F.lit(1))
            .cast("long")
            * 2
            - 1
        ).alias(f"b{i}")
        for i in range(64)
    ]
    agg = digits.groupBy(id_col).agg(*votes)
    packed = None
    for i in range(64):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, i)  # i=63 wraps to the sign bit — intended
        packed = term if packed is None else packed.bitwiseXOR(term)
    return agg.select(F.col(id_col), packed.alias("simhash"))


def simhash_near_pairs(
    sim: DataFrame, id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by Hamming distance ≤ max_hamming, blocked on
    ``max_hamming + 1`` bit-bands: with ≤ max_hamming differing bits over
    max_hamming+1 disjoint bands, pigeonhole guarantees at least one band
    identical — complete for ANY max_hamming, and the join stays equi on a
    band key, never cartesian. (Fixed from a 4×16-bit chunking that was
    only complete for max_hamming ≤ 3.)"""
    n_bands = min(max_hamming + 1, 64)
    widths = _band_widths(64, n_bands)
    starts = [sum(widths[:b]) for b in range(n_bands)]
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftrightunsigned(F.col("simhash"), starts[b])
            .bitwiseAND(F.lit((1 << widths[b]) - 1))
            .alias("key"),
        )
        for b in range(n_bands)
    ]
    keyed = sim.select(
        id_col, "simhash", F.explode(F.array(*band_cols)).alias("bk")
    ).select(id_col, "simhash", "bk.band", "bk.key")
    a, b = keyed.alias("a"), keyed.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs


def span_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 50,
    anchor_k: int = 8,
    anchor_mod: int = 8,
) -> DataFrame:
    """(id, pos, fp) — md5 fingerprints of fixed-``width`` character
    windows of the NORMALIZED text, starting at CONTENT-DEFINED anchor
    positions (docs shorter than ``width`` emit nothing).

    An anchor is any position whose leading ``anchor_k``-gram hashes to
    0 mod ``anchor_mod`` (the 0-mod-p rule of content-defined chunking:
    rsync / LBFS). Position-stride sampling would only match a shared
    run when both copies happen to align mod stride; content-defined
    anchors are chosen by the BYTES, so the same run selects the same
    window starts in every doc that contains it, at any offset. A shared
    run of length L >= width misses detection only if it contains no
    anchor — probability (1-1/p)^(L-width+...) ~ 1e-4 at p=8, L=100 —
    the same probabilistic-recall contract as the MinHash-LSH path.

    Scale: anchor selection is a per-doc JVM array filter (no explode
    until after selection), expected density 1/p, so the shuffle carries
    ~len/p rows of (id, int, 16-byte digest) per doc — raw substrings
    never shuffle. The anchor hash is the first 8 md5 hex chars of the
    k-gram read as an int (engine-portable: same rule in the DuckDB
    oracle)."""
    base = (
        df.select(F.col(id_col), normalized(F.col(text_col)).alias("_txt"))
        .filter(F.length("_txt") >= width)
    )
    txt = F.col("_txt")
    # explode positions FIRST, then hash in the codegen'd pipeline: the
    # previous higher-order-function filter evaluated the per-position
    # md5 through the interpreted lambda path (HOFs sit outside
    # whole-stage codegen), which was ~2-3x slower for the same hash
    # count; explode + filter + md5 all fuse into one codegen stage.
    pos_df = base.select(
        F.col(id_col),
        txt,
        F.explode(F.sequence(F.lit(0), F.length(txt) - width)).alias("pos"),
    )
    gram = F.substring(txt, F.col("pos") + 1, F.lit(anchor_k))
    anchor_hash = F.conv(F.substring(F.md5(gram), 1, 8), 16, 10).cast("long")
    return pos_df.filter(anchor_hash % anchor_mod == 0).select(
        F.col(id_col),
        F.col("pos"),
        F.md5(F.substring(txt, F.col("pos") + 1, F.lit(width))).alias("fp"),
    )


def duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 50,
    anchor_k: int = 8,
    anchor_mod: int = 8,
) -> DataFrame:
    """Exact duplicated-substring spans across documents (the
    suffix-array dedup of Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better", re-shaped for Spark: fixed-width
    windows at content-defined anchors instead of a global suffix
    array — see span_fingerprints for the recall contract).

    A window is duplicated when its fingerprint occurs in >=2 DISTINCT
    docs; the keeper (min id per fingerprint) keeps its copy, every
    other doc's overlapping windows merge into removable intervals.

    Returns (id, span_start, span_end) merged intervals over the
    normalized text — feed to strip_duplicated_spans / _span_stats.

    Scale: one shuffle keyed by the 16-byte digest with two-stage
    aggregation ((fp,doc) then fp — both partial-agg'd map-side); the
    join back is an equi-join where the built side has ONE row per fp,
    so a boilerplate gram shared by millions of docs skews only the
    probe side (AQE skew-split territory, never a row explosion). The
    interval merge windows partition by doc — bounded by per-doc anchor
    count, never corpus-wide.
    """
    from pyspark.sql import Window

    # lazily checkpoint: the fingerprint lineage (scan + per-position
    # anchor hashing) feeds both the per-fp census and the removable-
    # window join; without the checkpoint it runs twice.
    fps = span_fingerprints(
        df, id_col, text_col, width, anchor_k, anchor_mod
    ).localCheckpoint(eager=False)
    per_fp = (
        fps.select("fp", id_col)
        .distinct()
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keeper_id"))
        .filter(F.col("n_docs") >= 2)
    )
    removable = (
        fps.join(per_fp, "fp")
        .filter(F.col(id_col) != F.col("keeper_id"))
        .select(id_col, "pos", (F.col("pos") + width).alias("end"))
        .distinct()  # the same window can match several shared fps
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    prev_max_end = F.max("end").over(w.rowsBetween(Window.unboundedPreceding, -1))
    islands = removable.withColumn(
        "new_island",
        F.when(prev_max_end.isNull() | (F.col("pos") > prev_max_end), 1).otherwise(0),
    ).withColumn(
        "island",
        F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return islands.groupBy(id_col, "island").agg(
        F.min("pos").alias("span_start"), F.max("end").alias("span_end")
    ).drop("island")


def duplicated_span_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 50,
    anchor_k: int = 8,
    anchor_mod: int = 8,
) -> DataFrame:
    """Per-doc exact-substring duplication census over ALL docs:
    (id, n_dup_spans, dup_chars, doc_chars, dup_fraction). Docs with no
    removable span (including every keeper) report zeros."""
    spans = duplicated_spans(df, id_col, text_col, width, anchor_k, anchor_mod)
    per_doc = spans.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum(F.col("span_end") - F.col("span_start")).alias("dup_chars"),
    )
    base = df.select(
        F.col(id_col), F.length(normalized(F.col(text_col))).alias("doc_chars")
    )
    return (
        base.join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
            F.coalesce("dup_chars", F.lit(0)).cast("long").alias("dup_chars"),
            F.col("doc_chars").cast("long").alias("doc_chars"),
            F.round(
                F.coalesce("dup_chars", F.lit(0))
                / F.greatest("doc_chars", F.lit(1)),
                9,
            ).alias("dup_fraction"),
        )
    )


def strip_duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 50,
    anchor_k: int = 8,
    anchor_mod: int = 8,
) -> DataFrame:
    """(id, text) with removable duplicated spans CUT out of the
    normalized text (keepers — and docs with no shared span — pass
    through whole). The cut is a JVM fold (F.aggregate) over the doc's
    sorted merged intervals: no Python, state is one cursor + the
    growing output string, intervals per doc bounded by anchor density."""
    spans = duplicated_spans(df, id_col, text_col, width, anchor_k, anchor_mod)
    ivs = spans.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("ivs")
    )
    base = df.select(F.col(id_col), normalized(F.col(text_col)).alias("_txt"))
    joined = base.join(ivs, id_col, "left")
    acc0 = F.struct(F.lit(0).alias("cur"), F.lit("").alias("out"))
    folded = F.aggregate(
        F.coalesce("ivs", F.array().cast("array<struct<span_start:int,span_end:int>>")),
        acc0,
        lambda acc, iv: F.struct(
            F.greatest(acc["cur"], iv["span_end"]).alias("cur"),
            F.concat(
                acc["out"],
                F.substring(
                    F.col("_txt"), acc["cur"] + 1, iv["span_start"] - acc["cur"]
                ),
            ).alias("out"),
        ),
        lambda acc: F.concat(
            acc["out"],
            F.substring(
                F.col("_txt"), acc["cur"] + 1, F.length("_txt") - acc["cur"]
            ),
        ),
    )
    return joined.select(F.col(id_col), folded.alias(text_col))
