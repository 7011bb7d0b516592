"""Text extraction determinism (D4) + analysis functions."""

import pyspark.sql.functions as F

from mysql_syncer_spark.functions.text import (
    extract_text_bytes,
    fingerprint,
    lang_id,
    quality_features,
    token_count,
    with_extracted_text,
)
from mysql_syncer_spark.generator import make_html


def test_pure_extraction_deterministic():
    h = make_html("https://x.example.com/p/1", 1700000000000000, 3)
    assert extract_text_bytes(h) == extract_text_bytes(h)
    assert "&" in extract_text_bytes(h)  # entity decoded
    assert "<" not in extract_text_bytes(h)


def test_udf_matches_pure_and_sql(spark):
    htmls = [
        make_html(f"https://d{i}.example.com/p/{i}", 1700000000000000 + i, i)
        for i in range(50)
    ] + [b"<p>a  b\n c</p>", b"no tags &amp; done", b""]
    df = spark.createDataFrame([(h,) for h in htmls], "html binary")
    both = with_extracted_text(
        with_extracted_text(df, "html", "t_arrow", impl="arrow"),
        "html",
        "t_sql",
        impl="sql",
    ).collect()
    for r, h in zip(both, htmls):
        expect = extract_text_bytes(h)
        assert r["t_arrow"] == expect
        assert r["t_sql"] == expect


def _ws_codepoints():
    import re

    return [c for c in range(0x110000) if re.match(r"\s", chr(c))]


def test_arrow_kernel_matches_spec_on_every_python_whitespace():
    """All 29 code points of Python's ``\\s``, alone, doubled, next to a
    space and between words: the RE2 class must equal the spec's."""
    import pyarrow as pa

    from mysql_syncer_spark.functions.text import extract_text_arrow

    cps = _ws_codepoints()
    assert len(cps) == 29
    cases = []
    for c in cps:
        w = chr(c)
        cases += [w, w + w, "a" + w + "b", "a " + w + "b", " " + w, w + " x " + w]
    htmls = [x.encode() for x in cases]
    got = extract_text_arrow(pa.array(htmls, pa.binary())).to_pylist()
    assert got == [extract_text_bytes(h) for h in htmls]


def test_arrow_kernel_matches_spec_on_adversarial_bytes():
    """Invalid UTF-8 (the decode fallback), entity chains like
    ``&amp;lt;``, unclosed and nested tags, NULLs — in one batch and in a
    batch of valid UTF-8 only (the cast path)."""
    import random

    import pyarrow as pa

    from mysql_syncer_spark.functions.text import extract_text_arrow

    parts = [b"<", b">", b"<p>", b"</a", b"<a<b>c>", b"&amp;", b"&lt;", b"&gt;",
             b"&quot;", b"&amp;lt;", b"amp;", b"&", b"x", b" ", b"  ", b"\n",
             b"\xff", b"\xc3", b"\xc3\xa9", b"\xe2\x80", b"\x00",
             "\u00a0\u3000\u2028é😀".encode()]
    parts += [chr(c).encode() for c in _ws_codepoints()]
    rng = random.Random(7)
    htmls = [
        b"".join(rng.choice(parts) for _ in range(rng.randint(0, 24)))
        for _ in range(3000)
    ] + [b"&amp;lt;b&amp;gt;", b"<unclosed", b"<<a>>", b""]

    def valid(b):
        try:
            b.decode("utf-8")
            return True
        except UnicodeDecodeError:
            return False

    assert not all(valid(h) for h in htmls)
    for batch in (htmls, [h for h in htmls if valid(h)]):
        got = extract_text_arrow(pa.array(batch + [None], pa.binary())).to_pylist()
        assert got == [extract_text_bytes(h) for h in batch] + [None]


def test_fill_text_arrow_keeps_existing_text(spark):
    """The sink transform fills only NULL text with a present html; set
    text (even empty) and tombstone rows (NULL html) pass through — as a
    table function and as the ``with_filled_text`` Arrow UDF."""
    import pyarrow as pa

    from mysql_syncer_spark.functions.text import fill_text_arrow, with_filled_text

    html = [b"<p>a  b</p>", b"<p>x</p>", None, b"&amp;lt;", b"<i>y</i>"]
    text = [None, "kept", None, None, ""]
    want = ["a b", "kept", None, "<", ""]
    t = pa.table({"html": pa.array(html, pa.binary()), "text": pa.array(text, pa.string())})
    out = fill_text_arrow(t)
    assert out.column_names == t.column_names
    assert out["text"].to_pylist() == want
    assert out["html"].to_pylist() == html
    df = spark.createDataFrame(list(zip(html, text)), "html binary, text string")
    rows = with_filled_text(df, "html", "text").collect()
    assert [r["text"] for r in rows] == want


def test_token_count_edges(spark):
    df = spark.createDataFrame(
        [("a b  c",), ("",), ("   ",), (None,), ("one",)], "text string"
    )
    out = [r[0] for r in df.select(token_count(F.col("text"))).collect()]
    assert out == [3, 0, 0, 0, 1]


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            ("the cat is on the mat and happy",),
            ("der hund und die katze das ist gut",),
            ("le chat et la maison les arbres",),
            ("xyzzy qwerty",),
        ],
        "text string",
    )
    out = [r[0] for r in df.select(lang_id(F.col("text"))).collect()]
    assert out == ["en", "de", "fr", "und"]


def test_quality_and_fingerprint(spark):
    df = spark.createDataFrame([("The cat, the hat!",)], "text string")
    feats = quality_features(F.col("text"))
    row = df.select(
        *[c.alias(k) for k, c in feats.items()], fingerprint(F.col("text")).alias("fp")
    ).collect()[0]
    assert row["n_tokens"] == 4
    assert row["stop_hits"] == 2  # 'The'/'the' both match after lower()
    assert row["punct_hits"] == 2
    assert len(row["fp"]) == 32


def test_pii_redaction(spark):
    from pyspark.sql import functions as F

    from mysql_syncer_spark.functions.text import redact_pii

    rows = [
        (0, "mail a.b+c@sub.example.org now"),
        (1, "call 555-123-4567 or 555-0100-1234"),
        (2, "ssn 123-45-6789 stays private; year 2024-01-01 is not an ssn"),
        (3, "clean text untouched"),
    ]
    df = spark.createDataFrame(rows, "i long, text string")
    out = {r["i"]: r["c"] for r in df.select("i", redact_pii(F.col("text")).alias("c")).collect()}
    assert out[0] == "mail <EMAIL> now"
    assert out[1] == "call <PHONE> or <PHONE>"
    assert out[2].startswith("ssn <SSN> stays")
    assert "2024-01-01" in out[2]  # date shape is NOT an SSN
    assert out[3] == "clean text untouched"


def test_vocabulary_counts_and_ranks(spark):
    from mysql_syncer_spark.functions.text import vocabulary

    df = spark.createDataFrame(
        [(0, "a b b c"), (1, "B a  a")], "doc_id long, text string"
    )
    out = {r["token"]: (r["n_occurrences"], r["rank"]) for r in vocabulary(df, top_k=2).collect()}
    # lowercased totals: a=3, b=3, c=1; tie a/b broken by token asc
    assert out == {"a": (3, 1), "b": (3, 2)}


def test_repetition_features_gopher(spark):
    """Dup-line fractions + top n-gram char mass vs hand-computed truth."""
    from mysql_syncer_spark.functions.text import with_repetition_features

    docs = [
        # 4 lines, "same line" twice: dup_line_frac = 1 - 3/4 = 0.25;
        # dup chars = 2*9 = 18 of 9+9+5+7 = 30 → 0.6
        (1, "same line\nsame line\nother\nanother"),
        # heavy 2-gram repetition: "buy now" x3
        (2, "buy now buy now buy now"),
        (3, "all distinct words here today"),
        (4, ""),  # empty: all features 0
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r for r in with_repetition_features(df).collect()}

    assert got[1]["dup_line_frac"] == 0.25
    assert got[1]["dup_line_char_frac"] == 0.6
    assert got[3]["dup_line_frac"] == 0.0

    # doc 2 grams: [buy now, now buy, buy now, now buy, buy now]
    # masses: "buy now"×3×7=21, "now buy"×2×7=14, total 35 → 0.6
    assert got[2]["top_2gram_char_frac"] == 0.6
    # doc 3: every 2-gram unique → top = 1/n_grams weighted; all grams
    # distinct so top mass = max single gram length / total
    assert 0.0 < got[3]["top_2gram_char_frac"] < 0.5
    assert got[4]["dup_line_frac"] == 0.0
    assert got[4]["top_2gram_char_frac"] == 0.0
    assert got[4]["top_3gram_char_frac"] == 0.0

    # plan shape: the inline features add no shuffle beyond the two
    # n-gram aggregations
    plan = with_repetition_features(df)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "BatchEval" not in plan


def test_unigram_nll_hand_truth(spark):
    import math

    from mysql_syncer_spark.functions.text import unigram_nll

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "b c")], "doc_id long, text string"
    )
    # counts: a=2, b=2, c=1, total=5
    got = {r["doc_id"]: (r["n_tokens"], r["nll"]) for r in unigram_nll(df).collect()}
    nll1 = round(math.log(5) - (2 * math.log(2) + math.log(2)) / 3, 4)
    nll2 = round(math.log(5) - (math.log(2) + math.log(1)) / 2, 4)
    assert got == {1: (3, nll1), 2: (2, nll2)}


def test_unigram_nll_matches_duckdb(spark):
    import duckdb

    from mysql_syncer_spark.functions.text import unigram_nll

    sf = "/root/testdata/sf0.01"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    got = {
        (r["doc_id"], r["n_tokens"], r["nll"]) for r in unigram_nll(docs).collect()
    }
    con = duckdb.connect()
    con.execute(f"create view documents as select * from '{sf}/documents.parquet'")
    oracle = con.execute(r"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(
                trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS token
            FROM documents),
        tok AS (SELECT * FROM toks WHERE token <> ''),
        vocab AS (SELECT token, count(*)::BIGINT AS cnt FROM tok GROUP BY 1),
        tot AS (SELECT sum(cnt) AS total FROM vocab)
        SELECT doc_id, count(*)::BIGINT AS n_tokens,
               round(ln(total) - avg(ln(cnt)), 4) AS nll
        FROM tok JOIN vocab USING (token), tot
        GROUP BY doc_id, total
    """).fetchall()
    assert got == set(oracle) and len(got) == 500


def test_inverted_index_matches_duckdb(spark):
    from mysql_syncer_spark.functions.text import inverted_index

    sf = "/root/testdata/sf0.01"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    got = {
        (r["token"], r["n_docs"], tuple(r["postings"]))
        for r in inverted_index(docs).collect()
    }
    import duckdb

    con = duckdb.connect()
    con.execute(f"create view documents as select * from '{sf}/documents.parquet'")
    oracle = con.execute(r"""
        WITH toks AS (
            SELECT doc_id, unnest(list_distinct(string_split_regex(
                trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '
            ))) AS token FROM documents),
        tok AS (SELECT * FROM toks WHERE token <> '')
        SELECT token, count(*)::BIGINT AS n_docs,
               list(doc_id ORDER BY doc_id) AS postings
        FROM tok GROUP BY token
    """).fetchall()
    assert got == {(t, n, tuple(p)) for t, n, p in oracle}
    # every posting list is sorted and duplicate-free
    for _, n, p in got:
        assert list(p) == sorted(set(p)) and n == len(p)


def test_inverted_index_max_df_and_search(spark):
    from mysql_syncer_spark.functions.text import (
        inverted_index,
        search_all_terms,
    )

    sf = "/root/testdata/sf0.01"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    full = inverted_index(docs)
    capped = inverted_index(docs, max_df_frac=0.5)
    n_total = docs.count()
    # the cap drops exactly the rows whose df exceeds the fraction
    dropped = {
        r["token"]
        for r in full.filter(F.col("n_docs") > int(0.5 * n_total))
        .select("token").collect()
    }
    assert dropped
    assert {r["token"] for r in full.select("token").collect()} - {
        r["token"] for r in capped.select("token").collect()
    } == dropped

    # AND-search parity vs brute-force token membership
    terms = ["spark", "hash"]
    got = {r["doc_id"] for r in search_all_terms(full, terms).collect()}
    brute = {
        r["doc_id"]
        for r in docs.filter(
            F.arrays_overlap(
                F.split(F.lower("text"), r"\s+"), F.array(F.lit("spark"))
            )
            & F.arrays_overlap(
                F.split(F.lower("text"), r"\s+"), F.array(F.lit("hash"))
            )
        ).select("doc_id").collect()
    }
    assert got == brute and got
