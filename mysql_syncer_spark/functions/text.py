"""Text extraction / normalization / analysis over web-page payloads.

Extraction determinism contract (BASELINE.json input_hint): ``text`` must be
byte-identical per url between the engine and the oracle's pure-Python
fold. ``extract_text_bytes`` is THE spec — ASCII-regex tag stripping +
HTML entity subset + whitespace collapse, with no locale-, version-, or
library-dependent behavior.

The engine runs ONE vectorized re-expression of it, ``extract_text_arrow``
(pyarrow compute / RE2 over a whole Arrow array, no per-row Python call).
It serves the pages sink's fill (``fill_text_arrow``, run inside the
sink's Arrow write pass, so the payload crosses into Python once), the
``with_filled_text`` Arrow UDF and ``with_extracted_text(impl='arrow')``.
``impl='sql'`` is a pure JVM regexp_replace chain used to cross-check it
in tests (Java's ``\\s`` is ASCII-only, so it differs on Unicode
whitespace).

The analysis helpers (language ID, quality score, token count,
fingerprint) are JVM built-ins end-to-end — these run in the 100 TB hot
path and must stay inside whole-stage codegen.
"""

from __future__ import annotations

import re

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf

_TAG_RE = re.compile(r"<[^>]*>")
_WS_RE = re.compile(r"\s+")
# Fixed entity subset — deliberately tiny and version-independent.
_ENTITIES = [("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"')]
_TAG_PAT = r"<[^>]*>"
_WS_PAT = r"\s+"

# Python's str ``\s`` is exactly these 29 code points (str.isspace()); RE2's
# ``\s`` is ASCII-only, so the Arrow kernel spells the class out.
_WS_CODEPOINTS = (
    0x09, 0x0A, 0x0B, 0x0C, 0x0D, 0x1C, 0x1D, 0x1E, 0x1F, 0x20, 0x85, 0xA0,
    0x1680, 0x2000, 0x2001, 0x2002, 0x2003, 0x2004, 0x2005, 0x2006, 0x2007,
    0x2008, 0x2009, 0x200A, 0x2028, 0x2029, 0x202F, 0x205F, 0x3000,
)


def _re2_class(cps) -> str:
    return "[" + "".join(f"\\x{{{c:x}}}" for c in cps) + "]"


# ``\s+`` -> " " rewrites every single space to itself; matching only runs
# of two or more, or one non-space whitespace character, gives the same
# result without touching the (most common) single spaces.
_WS_ARROW = (
    _re2_class(_WS_CODEPOINTS)
    + "{2,}|"
    + _re2_class(c for c in _WS_CODEPOINTS if c != 0x20)
)


def extract_text_bytes(html: bytes) -> str:
    """Pure deterministic html→text. THE spec — the oracle calls it, and
    ``extract_text_arrow`` re-expresses it over Arrow arrays."""
    s = html.decode("utf-8", errors="replace")
    s = _TAG_RE.sub(" ", s)
    for ent, ch in _ENTITIES:
        s = s.replace(ent, ch)
    return _WS_RE.sub(" ", s).strip()


def extract_text_arrow(html):
    """``extract_text_bytes`` over a binary Arrow array (or chunked array):
    a string array, NULL where ``html`` is NULL. Decoding is a validating
    cast; only a batch the cast rejects (invalid UTF-8 somewhere) falls
    back to Python's ``decode("utf-8", "replace")``. After the decode
    every step is one RE2 / string kernel over the whole array, and once
    whitespace runs are single spaces, trimming spaces is ``strip()``."""
    try:
        s = pc.cast(html, pa.string())
    except pa.ArrowInvalid:
        s = pa.array(
            [
                None if b is None else b.decode("utf-8", errors="replace")
                for b in html.to_pylist()
            ],
            pa.string(),
        )
    s = pc.replace_substring_regex(s, _TAG_PAT, " ")
    for ent, ch in _ENTITIES:
        s = pc.replace_substring(s, ent, ch)
    s = pc.replace_substring_regex(s, _WS_ARROW, " ")
    return pc.utf8_trim(s, " ")


def _filled(html, text):
    """``text`` with ONLY its missing entries (html present, text NULL)
    extracted; rows that already carry text pass through untouched."""
    need = pc.and_(pc.is_null(text), pc.is_valid(html))
    if not pc.any(need).as_py():
        return text
    if isinstance(text, pa.ChunkedArray):
        text, need = text.combine_chunks(), need.combine_chunks()
    got = extract_text_arrow(pc.filter(html, need)).cast(text.type)
    if isinstance(got, pa.ChunkedArray):
        got = got.combine_chunks()
    return pc.replace_with_mask(text, need, got)


def fill_text_arrow(
    table: pa.Table, html_col: str = "html", text_col: str = "text"
) -> pa.Table:
    """The pages sink's transform (``TableConfig.transform``, Arrow table →
    Arrow table): fills ONLY missing text — merge winners from the change
    stream — so extraction cost scales with newly-won rows, not table
    rows; current-state winners and tombstones pass through untouched."""
    i = table.schema.get_field_index(text_col)
    return table.set_column(
        i, text_col, _filled(table[html_col], table[text_col])
    )


@arrow_udf(T.StringType())
def _fill_text_udf(html: pa.Array, text: pa.Array) -> pa.Array:
    return _filled(html, text)


def extract_text_sql(html: Column) -> Column:
    """JVM-side equivalent (regexp_replace chain; whole-stage codegen)."""
    s = F.decode(html, "UTF-8")
    s = F.regexp_replace(s, _TAG_PAT, " ")
    for ent, ch in _ENTITIES:
        s = F.replace(s, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(s, _WS_PAT, " "))


def with_filled_text(
    df: DataFrame, html_col: str = "html", text_col: str = "text"
) -> DataFrame:
    """``fill_text_arrow`` as a DataFrame column (an Arrow UDF)."""
    return df.withColumn(text_col, _fill_text_udf(F.col(html_col), F.col(text_col)))


def with_extracted_text(
    df: DataFrame, html_col: str = "html", out_col: str = "text", impl: str = "arrow"
) -> DataFrame:
    if impl == "arrow":
        col = _fill_text_udf(F.col(html_col), F.lit(None).cast("string"))
    elif impl == "sql":
        col = extract_text_sql(F.col(html_col))
    else:
        raise ValueError(f"impl must be arrow|sql, got {impl}")
    return df.withColumn(
        out_col, F.when(F.col(html_col).isNotNull(), col).otherwise(F.lit(None))
    )


# ---------------------------------------------------------------------------
# Text analysis (documents table / extracted text) — all JVM built-ins.
# ---------------------------------------------------------------------------

TOKEN_PAT = r"\s+"

# Tiny fixed marker-word lists for the n-gram-free heuristic language ID.
LANG_MARKERS: dict[str, str] = {
    "en": r"\b(the|a|is|and|of)\b",
    "de": r"\b(der|die|das|und|ist)\b",
    "fr": r"\b(le|la|les|et|est)\b",
    "es": r"\b(el|los|las|y|es)\b",
}


def token_count(text: Column) -> Column:
    """Whitespace token count, empty/NULL-safe."""
    trimmed = F.trim(text)
    return F.when(
        trimmed.isNull() | (trimmed == ""), F.lit(0)
    ).otherwise(F.size(F.split(trimmed, TOKEN_PAT)))


def lang_scores(text: Column) -> dict[str, Column]:
    return {lang: F.regexp_count(F.lower(text), F.lit(pat)) for lang, pat in LANG_MARKERS.items()}


# Fixed priority for tie-breaks — first listed wins a tie.
LANG_PRIORITY = ("en", "de", "fr", "es")


def lang_id(text: Column) -> Column:
    """Heuristic language ID: argmax of marker-word hit counts; 'und' if no
    marker hits. Ties break by LANG_PRIORITY order — a plain comparison
    cascade so the DuckDB oracle can mirror it verbatim."""
    s = lang_scores(text)
    top = F.greatest(*[s[lang] for lang in LANG_PRIORITY])
    pick = F.lit("und")
    for lang in reversed(LANG_PRIORITY):
        pick = F.when(s[lang] == top, F.lit(lang)).otherwise(pick)
    return F.when(top > 0, pick).otherwise(F.lit("und"))


def quality_features(text: Column) -> dict[str, Column]:
    """Length / punctuation / stopword-ratio features (web-corpus quality
    scoring). All exact-arithmetic per row (no aggregation FP ambiguity)."""
    n_chars = F.length(text)
    n_tokens = token_count(text)
    stop_hits = F.regexp_count(F.lower(text), F.lit(r"\b(the|a|of|and|is)\b"))
    punct = F.regexp_count(text, F.lit(r"[^\w\s]"))
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "stop_hits": stop_hits,
        "punct_hits": punct,
        "stop_ratio": F.round(stop_hits / F.greatest(n_tokens, F.lit(1)), 4),
        "punct_ratio": F.round(punct / F.greatest(n_chars, F.lit(1)), 4),
        "avg_token_len": F.round(n_chars / F.greatest(n_tokens, F.lit(1)), 4),
    }


# GPT2-ish pre-tokenizer: contraction suffixes, letter runs, digit runs,
# punctuation runs (space-prefixed). Works identically under Java regex and
# RE2 (no lookaheads used).
BPE_PAT = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"


def token_count_bpe(text: Column) -> Column:
    """BPE-ish token count (subword-boundary approximation for LLM-corpus
    budgeting) — one JVM regexp_count, no Python."""
    return F.regexp_count(text, F.lit(BPE_PAT))


_RH_MOD = 1_000_000_007
_RH_MUL = 1_000_003


def rolling_fingerprint(text: Column) -> Column:
    """Karp-Rabin-style rolling hash over the whitespace token stream:
    fold acc = (acc*MUL + h(token)) mod P with h = len*96769 + ascii(first).
    Order-sensitive (unlike a bag-of-words md5), pure int64 arithmetic in
    a higher-order fold — engine-portable and collision-checkable."""
    norm = F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))
    toks = F.split(norm, " ")
    hashes = F.transform(
        toks,
        lambda t: (F.length(t) * F.lit(96769) + F.ascii(t)).cast("long") % _RH_MOD,
    )
    return F.aggregate(
        hashes,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * _RH_MUL + h) % _RH_MOD,
    )


# PII scrubbing patterns — fixed, version-independent ASCII regexes that
# behave identically under Java regex and RE2/DuckDB (no lookarounds).
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{3}[-.]\d{3,4}[-.]\d{4}\b", "<PHONE>"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
)


def redact_pii(text: Column) -> Column:
    """Training-corpus PII scrubbing: emails / phone-shaped / SSN-shaped
    spans replaced with typed placeholders. Pure JVM regexp_replace chain
    (whole-stage codegen) — the 100 TB hot path needs no Python here."""
    out = text
    for pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def vocabulary(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", top_k: int = 50
) -> DataFrame:
    """Corpus vocabulary: total occurrence count per whitespace token,
    top-k by (count desc, token asc). Explode multiplies rows, but count
    partial-combines map-side so the shuffle carries one row per (mapper,
    token); the top-k itself is ``orderBy(...).limit(k)`` — a TakeOrdered
    physical op (per-partition heaps, no global sort, no single-partition
    window over the whole vocabulary). Rank is then derived by a window
    over the ALREADY k-limited result (≤ k rows — driver-trivial).
    Output: token, n_occurrences, rank."""
    toks = df.select(
        F.explode(F.split(normalized_text(F.col(text_col)), " ")).alias("token")
    ).filter(F.col("token") != "")
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n_occurrences"))
    topk = counts.orderBy(F.desc("n_occurrences"), F.asc("token")).limit(top_k)
    from pyspark.sql import Window

    return topk.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("n_occurrences"), F.asc("token"))),
    )


def unigram_nll(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus-relative unigram negative log-likelihood per document — the
    CCNet-style LM quality proxy with the corpus itself as the model:
    nll = ln(total_tokens) - avg over the doc's token OCCURRENCES of
    ln(count(token)). Low = built from common tokens (typical text);
    high = rare-token salad. The usual pipeline drops the tails of the
    nll distribution (boilerplate at the bottom, garbage at the top).

    Shape: two partial-agg'd shuffles (vocab count; per-doc avg) and one
    equi-join on token. The join's hot keys ('the') are exactly the skew
    AQE's skew-join split handles, and Spark broadcasts the vocab side
    outright when it is small. The exploded token stream feeds both the
    vocab aggregate and the join, so it is lazily localCheckpoint-ed —
    at persistent scale you'd materialize the vocab table once per
    corpus snapshot instead.
    Output: id, n_tokens (occurrences), nll (rounded 4)."""
    toks = (
        df.select(
            F.col(id_col),
            F.explode(F.split(normalized_text(F.col(text_col)), " ")).alias("token"),
        )
        .filter(F.col("token") != "")
        .localCheckpoint(eager=False)
    )
    vocab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    return (
        toks.join(vocab, "token")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.avg(F.log("cnt")).alias("_avg_ln_cnt"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            id_col,
            "n_tokens",
            F.round(F.log("total") - F.col("_avg_ln_cnt"), 4).alias("nll"),
        )
    )


def normalized_text(text: Column) -> Column:
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 over normalized text (lower + collapsed
    whitespace). Stable across engines (md5 of UTF-8 bytes)."""
    norm = F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))
    return F.md5(norm)


def repetition_features(text: Column) -> dict[str, Column]:
    """Gopher-style LINE repetition signals (Rae et al. 2021 §A1.1, the
    standard webtext quality gate): fraction of duplicate lines and
    fraction of characters inside duplicate lines. JVM higher-order array
    functions, projection-only (no shuffle); the per-row cost is
    O(lines²) which is bounded — web pages have tens to hundreds of
    lines, not thousands. Token-level n-gram mass lives in
    ``top_ngram_char_fraction`` (explode-based, linear) because gram
    counts DO reach the thousands per document."""
    lines = F.filter(F.split(text, r"\n"), lambda x: F.trim(x) != "")
    n_lines = F.size(lines)
    n_distinct_lines = F.size(F.array_distinct(lines))
    dup_line_frac = F.when(
        n_lines > 0, 1.0 - n_distinct_lines / n_lines
    ).otherwise(F.lit(0.0))
    dup_line_chars = F.aggregate(
        lines,
        F.lit(0),
        lambda acc, x: acc
        + F.when(
            F.size(F.filter(lines, lambda y: y == x)) > 1, F.length(x)
        ).otherwise(F.lit(0)),
    )
    total_line_chars = F.aggregate(
        lines, F.lit(0), lambda acc, x: acc + F.length(x)
    )
    dup_line_char_frac = F.when(
        total_line_chars > 0, dup_line_chars / total_line_chars
    ).otherwise(F.lit(0.0))
    return {
        "dup_line_frac": F.round(dup_line_frac, 4),
        "dup_line_char_frac": F.round(dup_line_char_frac, 4),
    }


def _ngrams(text: Column, n: int) -> Column:
    toks = F.filter(F.split(F.lower(text), r"\W+"), lambda x: x != "")
    return F.when(F.size(toks) >= n, F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + k) for k in range(n)]),
    )).otherwise(F.array().cast("array<string>"))


def top_ngram_char_fraction(
    df, n: int, id_col: str = "doc_id", text_col: str = "text"
):
    """Character mass of each document's most frequent word n-gram
    (Gopher §A1.1 "top n-gram"): explode grams → count per (doc, gram) →
    max mass vs total. Linear in corpus size, ONE shuffle keyed by
    (doc, gram) with map-side partial counts — the scale-safe shape for
    documents with thousands of grams (an all-pairs array expression
    would be O(grams²) per row)."""
    grams = df.select(
        F.col(id_col), F.explode(_ngrams(F.col(text_col), n)).alias("_g")
    )
    per_gram = grams.groupBy(id_col, "_g").agg(F.count(F.lit(1)).alias("_c"))
    frac = (
        per_gram.groupBy(id_col)
        .agg(
            F.max(F.col("_c") * F.length("_g")).alias("_top_mass"),
            F.sum(F.col("_c") * F.length("_g")).alias("_total_mass"),
        )
        .select(
            F.col(id_col),
            F.round(F.col("_top_mass") / F.col("_total_mass"), 4).alias(
                f"top_{n}gram_char_frac"
            ),
        )
    )
    return frac


def with_repetition_features(df, id_col: str = "doc_id", text_col: str = "text"):
    """documents + dup-line fractions (inline) + top 2-gram / 3-gram char
    mass (two linear aggregations, left-joined back; docs with no grams
    get 0.0)."""
    out = df
    for name, col in repetition_features(F.col(text_col)).items():
        out = out.withColumn(name, col)
    for n in (2, 3):
        out = out.join(top_ngram_char_fraction(df, n, id_col, text_col),
                       on=id_col, how="left")
        out = out.fillna({f"top_{n}gram_char_frac": 0.0})
    return out


def inverted_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df_frac: float = 1.0,
) -> DataFrame:
    """Corpus inverted index: token -> (n_docs, postings) with postings a
    SORTED doc-id array — the retrieval-side artifact of a data platform
    (serve term lookups / AND-queries without scanning text).

    One explode + one groupBy (count and collect_list both partial-
    combine map-side; the sort is per-token over its own postings).
    ``max_df_frac`` drops stopword-grade tokens: a posting list for
    'the' IS the whole corpus — at 100 TB that row would be a multi-GB
    array in one reducer, so high-document-frequency tokens are capped
    out by a cheap post-aggregate filter (count first, list only kept
    rows via a second pass when the cap is active).
    Output: token, n_docs, postings."""
    from mysql_syncer_spark.functions.dedup_text import distinct_tokens

    toks = distinct_tokens(df, id_col, text_col)
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n_docs"))
    if max_df_frac < 1.0:
        n_total = df.select(id_col).distinct().count()
        counts = counts.filter(F.col("n_docs") <= int(max_df_frac * n_total))
        toks = toks.join(F.broadcast(counts.select("token")), "token", "left_semi")
    lists = toks.groupBy("token").agg(
        F.sort_array(F.collect_list(id_col)).alias("postings")
    )
    return counts.join(lists, "token").select("token", "n_docs", "postings")


def search_all_terms(
    index: DataFrame, terms: list[str], id_col: str = "doc_id"
) -> DataFrame:
    """AND-query over the inverted index: doc ids containing EVERY term.
    Explodes only the queried terms' postings (index rows are fetched by
    an IN filter — partition-prunable when the index is written bucketed
    by token) and keeps ids seen len(terms) times. Never touches text."""
    n = len(set(terms))
    hits = (
        index.filter(F.col("token").isin(*set(terms)))
        .select(F.explode("postings").alias(id_col))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("_nt"))
        .filter(F.col("_nt") == n)
        .select(id_col)
    )
    return hits


def doc_lengths(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, dl) — token count per doc under the index tokenizer (full
    counts, not set semantics). Computed map-side from the split array;
    no shuffle beyond the trivial projection."""
    toks = F.filter(
        F.split(normalized_text(F.col(text_col)), " "), lambda x: x != ""
    )
    return df.select(F.col(id_col), F.size(toks).alias("dl"))


def tf_postings(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df_frac: float = 1.0,
) -> DataFrame:
    """(token, doc_id, tf) — term-frequency postings, the ranked-retrieval
    index artifact (inverted_index keeps set semantics for AND-queries;
    BM25 needs tf). One explode + one groupBy(token, id) with map-side
    partial counts; write it bucketed by token so term fetches prune.
    ``max_df_frac`` caps stopword-grade tokens exactly as inverted_index
    does — a posting list for 'the' is the corpus itself at 100 TB."""
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.filter(
                F.split(normalized_text(F.col(text_col)), " "), lambda x: x != ""
            )
        ).alias("token"),
    )
    tf = toks.groupBy("token", id_col).agg(F.count(F.lit(1)).alias("tf"))
    if max_df_frac < 1.0:
        n_total = df.select(id_col).distinct().count()
        keep = (
            tf.groupBy("token")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .filter(F.col("n_docs") <= int(max_df_frac * n_total))
            .select("token")
        )
        tf = tf.join(F.broadcast(keep), "token", "left_semi")
    return tf


def bm25_topk(
    postings: DataFrame,
    lens: DataFrame,
    terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 top-k over a persisted (token, doc_id, tf) postings table and
    a (doc_id, dl) length table — Robertson idf = ln(1 + (N-df+.5)/(df+.5)).

    Query-time plan: fetch ONLY the query terms' postings (an IN filter —
    partition-pruned when the postings table is bucketed/partitioned by
    token), derive per-term df from the fetched rows themselves (a tiny
    groupBy over |terms| keys, broadcast back), join doc lengths on id
    (one shuffle of the fetched postings, never the corpus), sum scores
    per doc, TakeOrdered k. N and avgdl are one-row aggregates
    cross-joined in-plan — no driver round-trip, no global sort.
    Output: doc_id, score (rounded to 9 for engine-portable comparison),
    ordered score desc then id."""
    qterms = sorted(set(terms))
    # lazily checkpoint the fetched postings: df derivation and scoring
    # both consume them, and when the caller composes postings in-memory
    # (tests) the corpus tokenize would otherwise run once per consumer.
    # Against a persisted postings table this is a few-row cache.
    fetched = postings.filter(F.col("token").isin(*qterms)).localCheckpoint(
        eager=False
    )
    dfreq = fetched.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    stats = lens.agg(
        F.count(F.lit(1)).alias("n_corpus"), F.avg("dl").alias("avgdl")
    )
    scored = (
        fetched.join(F.broadcast(dfreq), "token")
        .join(lens, id_col)
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_corpus") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "w",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(F.round(F.sum("w"), 9).alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )
