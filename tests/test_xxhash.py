"""Local XXH64 twin vs the JVM, and the job-free point-lookup path."""

import time

import pyspark.sql.functions as F
from hypothesis import given, settings
from hypothesis import strategies as st

from mysql_syncer_spark.xxhash import bucket_of, canary_hash, chain_hash


def test_twin_matches_jvm_on_assorted_values(spark):
    strings = ["", "a", "x" * 7, "y" * 8, "z" * 31, "w" * 32, "v" * 100,
               "üñïçødé-テスト", "https://d7.example.com/p/123"]
    df = spark.createDataFrame([(s,) for s in strings], "s string").select(
        "s", F.xxhash64("s").alias("h"),
        F.pmod(F.xxhash64("s"), F.lit(64)).cast("int").alias("b"),
    )
    for r in df.collect():
        assert chain_hash([r["s"]]) == r["h"], r["s"]
        assert bucket_of([r["s"]], 64) == r["b"], r["s"]
    longs = spark.range(-3, 4).select("id", F.xxhash64("id").alias("h"))
    for r in longs.collect():
        assert chain_hash([r["id"]]) == r["h"]
    chained = spark.createDataFrame([("u", 5)], "a string, b long")
    assert chain_hash(["u", 5]) == chained.select(F.xxhash64("a", "b")).head()[0]
    # canary equals what create() stores
    stored = spark.createDataFrame(
        [("msss-xxh64-canary",)], "k string"
    ).select(F.xxhash64("k")).head()[0]
    assert canary_hash() == stored


def test_bucket_col_matches_bucket_of(spark):
    """The JVM bucket column and the local twin agree on every key and
    bucket count, negative hashes included."""
    from mysql_syncer_spark.xxhash import bucket_col

    keys = [f"https://d{i}.example.com/p/{i * 7}" for i in range(40)] + ["", "üñï"]
    assert any(chain_hash([k]) < 0 for k in keys)
    df = spark.createDataFrame([(k,) for k in keys], "url string")
    for n in (1, 2, 7, 64, 1000):
        got = df.select("url", bucket_col(["url"], n).alias("b")).collect()
        assert {r["url"]: r["b"] for r in got} == {k: bucket_of([k], n) for k in keys}


@settings(max_examples=200, deadline=None)
@given(st.binary(min_size=0, max_size=200), st.integers(0, 2**63 - 1))
def test_xxh64_reference_vectors_via_chaining(data, seed):
    """Property: the pure-Python xxh64 is self-consistent under the spec's
    algebra — appending 8 zero bytes changes the hash (no trivial
    collisions) and results stay in signed-64 range."""
    from mysql_syncer_spark.xxhash import _to_signed, xxh64

    h = xxh64(data, seed)
    assert 0 <= h < 2**64
    assert -(2**63) <= _to_signed(h) < 2**63
    assert xxh64(data + b"\x00" * 8, seed) != h


def test_lookup_routes_without_spark_job(spark, event_log_dir, tmp_table_path):
    from mysql_syncer_spark.plans.replay import replay
    from mysql_syncer_spark.sink.pages_table import PagesTable

    replay(spark, event_log_dir, tmp_table_path, num_buckets=8)
    t = PagesTable(spark, tmp_table_path)
    url = t.read().select("url").head()["url"]
    # the bucket routing must be local: building the lookup plan may cost
    # py4j roundtrips but must launch ZERO Spark jobs (the old probe ran a
    # 1-row job per read)
    tracker = spark.sparkContext.statusTracker()
    jobs_before = len(tracker.getJobIdsForGroup(None))
    t0 = time.time()
    df = t.lookup(url)
    plan_secs = time.time() - t0
    assert len(tracker.getJobIdsForGroup(None)) == jobs_before, (
        "lookup probe ran a Spark job"
    )
    assert plan_secs < 1.0, plan_secs  # no job → no 100ms-per-read floor
    rows = df.collect()
    assert len(rows) == 1 and rows[0]["url"] == url
    # parity with a full-scan read
    full = t.read().filter(F.col("url") == url).collect()
    assert rows[0].asDict() == full[0].asDict()
    # canary is stored in the manifest
    assert t.manifest().xxh64_canary == canary_hash()
