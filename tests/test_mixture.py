"""Quality bucketing / sequence packing: hand truth, invariants, and
DuckDB SQL parity on the real documents table (md5-hex draws are
engine-portable, so parity is exact)."""

import duckdb

from mysql_syncer_spark.functions.mixture import pack_sequences

SF = "/root/testdata/sf0.01"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_pack_sequences_invariants(spark):
    out = pack_sequences(_docs(spark), budget=512).collect()
    by_group: dict[str, list] = {}
    for r in out:
        by_group.setdefault(r["pack_group"], []).append(r)
    assert len(by_group) > 50  # 500 docs spread over 256 hex groups
    for rows in by_group.values():
        rows.sort(key=lambda r: r["start_tok"])
        run = 0
        for r in rows:
            assert r["start_tok"] == run  # contiguous stream per group
            assert r["shard_idx"] == run // 512
            run += r["n_tokens"]


def test_pack_sequences_matches_duckdb(spark):
    got = {
        (r["doc_id"], r["pack_group"], r["shard_idx"], r["start_tok"], r["n_tokens"])
        for r in pack_sequences(_docs(spark), budget=512).collect()
    }
    con = duckdb.connect()
    con.execute(f"create view documents as select * from '{SF}/documents.parquet'")
    oracle = con.execute(r"""
        WITH t AS (
            SELECT doc_id, md5('pack1|' || doc_id::VARCHAR) AS h,
                   len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS n_tokens
            FROM documents),
        b AS (SELECT doc_id, substr(h, 1, 2) AS pack_group,
                     substr(h, 3, 30) AS ord, n_tokens FROM t)
        SELECT doc_id, pack_group,
               (sum(n_tokens) OVER w - n_tokens) // 512 AS shard_idx,
               (sum(n_tokens) OVER w - n_tokens) AS start_tok,
               n_tokens
        FROM b
        WINDOW w AS (PARTITION BY pack_group ORDER BY ord, doc_id
                     ROWS UNBOUNDED PRECEDING)
    """).fetchall()
    assert got == set(oracle)


def test_quality_buckets_hand_truth(spark):
    from mysql_syncer_spark.functions.mixture import quality_buckets

    df = spark.createDataFrame(
        [(i, "d", float(i)) for i in range(1, 7)],
        "doc_id long, source string, score double",
    )
    got = {
        r["doc_id"]: r["bucket"]
        for r in quality_buckets(df, "score").collect()
    }
    # percent_rank over 6 rows = (i-1)/5
    assert got == {1: "head", 2: "head", 3: "middle", 4: "middle",
                   5: "tail", 6: "tail"}
    desc = {
        r["doc_id"]: r["bucket"]
        for r in quality_buckets(df, "score", ascending_is_better=False).collect()
    }
    assert desc == {6: "head", 5: "head", 4: "middle", 3: "middle",
                    2: "tail", 1: "tail"}


def test_quality_buckets_match_duckdb(spark):
    from mysql_syncer_spark.functions.mixture import quality_buckets
    from mysql_syncer_spark.functions.text import unigram_nll

    docs = _docs(spark)
    scored = unigram_nll(docs).join(docs.select("doc_id", "source"), "doc_id")
    got = {
        (r["doc_id"], r["q_rank"], r["bucket"])
        for r in quality_buckets(scored, "nll").collect()
    }
    con = duckdb.connect()
    con.execute(f"create view documents as select * from '{SF}/documents.parquet'")
    lo, hi = 1.0 / 3.0, 2.0 / 3.0
    oracle = con.execute(rf"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(
                trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS token
            FROM documents),
        tok AS (SELECT * FROM toks WHERE token <> ''),
        vocab AS (SELECT token, count(*)::BIGINT AS cnt FROM tok GROUP BY 1),
        tot AS (SELECT sum(cnt) AS total FROM vocab),
        nll AS (
            SELECT doc_id, round(ln(total) - avg(ln(cnt)), 4) AS nll
            FROM tok JOIN vocab USING (token), tot GROUP BY doc_id, total),
        ranked AS (
            SELECT d.doc_id, round(percent_rank() OVER (
                       PARTITION BY d.source ORDER BY n.nll), 6) AS q_rank
            FROM documents d JOIN nll n USING (doc_id))
        SELECT doc_id, q_rank,
               CASE WHEN q_rank < {lo!r} THEN 'head'
                    WHEN q_rank < {hi!r} THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM ranked
    """).fetchall()
    assert got == set(oracle) and len(got) == 500


def test_pack_sequences_property(spark):
    """Hypothesis: for ANY doc set (ids, token counts), packing yields
    contiguous per-group streams with shard = start//budget and total
    tokens preserved."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=20, deadline=None)
    @given(
        st.lists(
            st.tuples(st.integers(0, 10**6), st.integers(0, 500)),
            min_size=1,
            max_size=60,
            unique_by=lambda t: t[0],
        ),
        st.integers(16, 2048),
    )
    def check(docs, budget):
        df = spark.createDataFrame(
            [(i, n) for i, n in docs], "doc_id long, n_tokens long"
        )
        out = pack_sequences(
            df, budget=budget, n_tokens_col="n_tokens"
        ).collect()
        assert len(out) == len(docs)
        assert sum(r["n_tokens"] for r in out) == sum(n for _, n in docs)
        by_group: dict[str, list] = {}
        for r in out:
            by_group.setdefault(r["pack_group"], []).append(r)
        for rows in by_group.values():
            rows.sort(key=lambda r: r["start_tok"])
            run = 0
            for r in rows:
                assert r["start_tok"] == run
                assert r["shard_idx"] == run // budget
                run += r["n_tokens"]

    check()
