"""Seeded inputs, their on-disk cache, and the oracle digests they are
checked against.

Every input is a pure function of (workload shape, seed). Generated logs
and oracle results are cached per (kind, shape, seed) under the work
directory, so a repeated seed skips generation and the sequential oracle;
a cache miss is paid inside set-up and recorded as such.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import json
import os
import shutil
import time
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the cached layout or the digest rule changes.
CACHE_FORMAT = 2

# Warm-up inputs use one fixed seed: their logs are cached after the first
# run in a checkout, and they never coincide with a measured input.
WARM_SEED = 1_000_003


def _key(kind: str, shape: dict, seed: int) -> str:
    blob = json.dumps(
        {"kind": kind, "shape": shape, "seed": seed, "format": CACHE_FORMAT},
        sort_keys=True,
    )
    return f"{kind}-s{seed}-{hashlib.sha1(blob.encode()).hexdigest()[:12]}"


def table_hash(tbl: pa.Table) -> str:
    """Content hash of an Arrow table (IPC stream bytes)."""
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, tbl.schema) as w:
        w.write_table(tbl)
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(root, fn))
    return total


class Cache:
    """Directory cache of generated inputs. ``entry`` returns the final
    directory of a key, building it through ``build(tmp_dir)`` on a miss;
    the build lands under a temporary name and is renamed into place, so a
    killed run never leaves a half-written entry. ``build_s`` sums the time
    spent building missing entries."""

    def __init__(self, root: str):
        self.root = root
        self.build_s = 0.0
        os.makedirs(root, exist_ok=True)

    def entry(self, key: str, build) -> tuple[str, bool]:
        final = os.path.join(self.root, key)
        if os.path.exists(os.path.join(final, "_COMPLETE")):
            return final, True
        tmp = os.path.join(self.root, f".tmp-{key}-{uuid.uuid4().hex[:8]}")
        os.makedirs(tmp)
        t0 = time.perf_counter()
        try:
            build(tmp)
            with open(os.path.join(tmp, "_COMPLETE"), "w") as f:
                f.write("ok\n")
            shutil.rmtree(final, ignore_errors=True)
            os.rename(tmp, final)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            self.build_s += time.perf_counter() - t0
        return final, False


# ---------------------------------------------------------------------------
# Row digests shared by the oracle side (plain Python values) and the engine
# side (Spark columns). Both reduce a row to the same token string.
# ---------------------------------------------------------------------------


def value_token(v) -> str:
    if v is None:
        return "-"
    if isinstance(v, (bytes, bytearray)):
        return "b" + hashlib.sha256(bytes(v)).hexdigest()
    if isinstance(v, str):
        return "s" + hashlib.sha256(v.encode("utf-8")).hexdigest()
    if isinstance(v, _dt.datetime):
        from mysql_syncer_spark.oracle import _to_us

        return "t" + str(_to_us(v))
    if isinstance(v, bool) or not isinstance(v, int):
        raise TypeError(f"no digest rule for {type(v).__name__}")
    return "v" + str(v)


def row_digest(tokens: list[str]) -> str:
    return hashlib.sha256("|".join(tokens).encode()).hexdigest()[:32]


def digest_columns(df, key: str, columns: list[str]) -> list:
    """Spark columns ``k`` (the key) and ``d`` (the row digest of
    ``columns``, the same value :func:`row_digest` gives for the plain
    Python row), hashed on the executors so only digests travel."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    types = {f.name: f.dataType for f in df.schema.fields}
    toks = []
    for c in columns:
        col, dt = F.col(f"`{c}`"), types[c]
        if isinstance(dt, T.BinaryType):
            tok = F.concat(F.lit("b"), F.sha2(col, 256))
        elif isinstance(dt, T.StringType):
            tok = F.concat(F.lit("s"), F.sha2(col.cast("binary"), 256))
        elif isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            tok = F.concat(F.lit("t"), F.unix_micros(col).cast("string"))
        elif isinstance(dt, T.IntegralType):
            tok = F.concat(F.lit("v"), col.cast("string"))
        else:
            raise TypeError(f"no digest rule for column {c}: {dt}")
        toks.append(F.coalesce(tok, F.lit("-")))
    return [
        F.col(f"`{key}`").alias("k"),
        F.substring(F.sha2(F.concat_ws("|", *toks), 256), 1, 32).alias("d"),
    ]


def spark_digests(df, key: str, columns: list[str]) -> dict[str, str]:
    """key -> row digest of an engine DataFrame."""
    out = df.select(*digest_columns(df, key, columns)).toArrow()
    return dict(zip(out.column("k").to_pylist(), out.column("d").to_pylist()))


def compare_digests(want: dict, got: dict, limit: int = 5) -> list[str]:
    """Human-readable differences between two key -> digest maps (empty
    when they agree)."""
    diffs = []
    for k in sorted(set(want) - set(got))[:limit]:
        diffs.append(f"missing {k}")
    for k in sorted(set(got) - set(want))[:limit]:
        diffs.append(f"unexpected {k}")
    for k in sorted(k for k in set(want) & set(got) if want[k] != got[k])[:limit]:
        diffs.append(f"differs {k}")
    return diffs


# ---------------------------------------------------------------------------
# Pages change logs (bulk_replay, stream_tail)
# ---------------------------------------------------------------------------


def pages_spec(shape: dict, seed: int):
    from mysql_syncer_spark.generator import GenSpec

    return GenSpec(
        n_events=shape["n_events"],
        n_urls=max(1000, shape["n_events"] // 5),
        events_per_file=shape["events_per_file"],
        html_repeat=shape["html_repeat"],
        seed=seed,
    )


def url_pools(tbl: pa.Table) -> dict:
    """Read targets drawn from the log: the most written urls (hot), urls
    written once (cold), and every url (to find the deleted ones)."""
    import pyarrow.compute as pc

    urls = pc.struct_field(tbl.column("after"), "url").drop_null()
    counts = pc.value_counts(urls)
    pairs = sorted(
        zip(counts.field("counts").to_pylist(), counts.field("values").to_pylist()),
        key=lambda cu: (-cu[0], cu[1]),
    )
    return {
        "hot_urls": [u for _, u in pairs[:40]],
        "cold_urls": sorted(u for c, u in pairs if c == 1)[:200],
        "all_urls": sorted(u for _, u in pairs),
    }


def pages_oracle(tbl: pa.Table) -> dict:
    """Per-url digest of the sequential oracle's final state.

    The oracle runs without text extraction and the winners' text is filled
    in afterwards with the same extraction function: the final text of a
    url is a function of its winning html alone, so the result is the same
    as extracting every applied event, at a fraction of the cost."""
    from mysql_syncer_spark.functions.text import extract_text_bytes
    from mysql_syncer_spark.oracle import sequential_replay

    state, columns, _ = sequential_replay(tbl, extract_text=False)
    payload = [c for c in columns if c != "url"]
    digests = {}
    for url, row in state.items():
        if row.get("html") is not None:
            row["text"] = extract_text_bytes(row["html"])
        digests[url] = row_digest([value_token(row.get(c)) for c in payload])
    return {"columns": payload, "digests": digests}


def ensure_pages_log(cache: Cache, shape: dict, seed: int, oracle: bool) -> dict:
    """Generated binlog directory for (shape, seed), plus its oracle when
    ``oracle`` is set. Returns paths, hit/miss and the time each part
    took in this call."""
    from mysql_syncer_spark.generator import generate_events, write_event_log

    timings = {"input_s": 0.0, "oracle_s": 0.0}

    def build(tmp: str) -> None:
        t0 = time.perf_counter()
        tbl = generate_events(pages_spec(shape, seed))
        write_event_log(tbl, os.path.join(tmp, "log"))
        meta = {"input_hash": table_hash(tbl), "n_events": tbl.num_rows}
        meta.update(url_pools(tbl))
        t1 = time.perf_counter()
        timings["input_s"] = t1 - t0
        if oracle:
            o = pages_oracle(tbl)
            with open(os.path.join(tmp, "oracle.json"), "w") as f:
                json.dump(o, f)
            live = set(o["digests"])
            meta["deleted_urls"] = [u for u in meta.pop("all_urls") if u not in live][:200]
            timings["oracle_s"] = time.perf_counter() - t1
        meta.pop("all_urls", None)
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)

    kind = "pages-oracle" if oracle else "pages"
    d, hit = cache.entry(_key(kind, shape, seed), build)
    with open(os.path.join(d, "meta.json")) as f:
        meta = json.load(f)
    out = {
        "dir": d,
        "log": os.path.join(d, "log"),
        "hit": hit,
        "log_bytes": dir_bytes(os.path.join(d, "log")),
        **meta,
        **timings,
    }
    if oracle:
        with open(os.path.join(d, "oracle.json")) as f:
            out["oracle"] = json.load(f)
    return out


# ---------------------------------------------------------------------------
# Document corpus (corpus_ingest)
# ---------------------------------------------------------------------------

# The 30-word vocabulary of the repository's documents fixture: with a
# vocabulary this small, long documents share most tokens, so LSH candidate
# pairs are plentiful and the exact-Jaccard verify decides most of them.
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


N_CORPUS_BATCHES = 3


def generate_docs(seed: int, n_docs: int, p_dup: float = 0.05) -> tuple[pa.Table, int]:
    """Documents of 10-100 words drawn uniformly from VOCAB; ``p_dup`` of
    them are an earlier document plus one marker word (a near-duplicate).
    Returns the table (doc_id, text, batch) and the number of batches;
    ``batch`` splits the docs at random. The batch count is fixed: the
    pairs a batch verifies grow with its size squared, so a seed-chosen
    count would make the cost of a run depend on the seed."""
    rng = np.random.default_rng(seed)
    words = np.array(VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(n_docs):
        if i and rng.random() < p_dup:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(words[rng.integers(0, len(words), n)]))
    n_batches = N_CORPUS_BATCHES
    batch = rng.integers(0, n_batches, n_docs).astype(np.int32)
    tbl = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "batch": pa.array(batch),
        }
    )
    return tbl, n_batches


def greedy_accepted(
    batches: list[list[int]], texts: dict[int, str], pairs, threshold: float
) -> tuple[set, int]:
    """The corpus oracle: a sequential greedy fold over the verified
    collision relation (LSH candidate pairs whose exact token-set Jaccard
    meets ``threshold``). A doc is rejected when it collides with an
    accepted doc of an earlier batch or with any lower-id doc of its own
    batch. Returns (accepted ids, verified pair count)."""
    toks = {d: set(t.lower().split()) for d, t in texts.items()}
    collide: dict[int, set] = {}
    n_verified = 0
    for a, b in pairs:
        ta, tb = toks[a], toks[b]
        if len(ta & tb) / len(ta | tb) >= threshold:
            n_verified += 1
            collide.setdefault(a, set()).add(b)
            collide.setdefault(b, set()).add(a)
    accepted: set = set()
    for batch in batches:
        bset = set(batch)
        for d in sorted(batch):
            nbrs = collide.get(d, set())
            if (nbrs & (accepted - bset)) or any(o < d for o in nbrs if o in bset):
                continue
            accepted.add(d)
    return accepted, n_verified


def ensure_docs(cache: Cache, shape: dict, seed: int) -> dict:
    """Per-batch document parquet files for (shape, seed)."""
    timings = {"input_s": 0.0}

    def build(tmp: str) -> None:
        t0 = time.perf_counter()
        tbl, n_batches = generate_docs(seed, shape["n_docs"])
        batch = tbl.column("batch").to_numpy()
        for i in range(n_batches):
            part = tbl.filter(pa.array(batch == i)).select(["doc_id", "text"])
            pq.write_table(part, os.path.join(tmp, f"batch-{i}.parquet"))
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(
                {"input_hash": table_hash(tbl), "n_docs": tbl.num_rows,
                 "n_batches": n_batches},
                f,
            )
        timings["input_s"] = time.perf_counter() - t0

    d, hit = cache.entry(_key("docs", shape, seed), build)
    with open(os.path.join(d, "meta.json")) as f:
        meta = json.load(f)
    files = [os.path.join(d, f"batch-{i}.parquet") for i in range(meta["n_batches"])]
    return {"dir": d, "hit": hit, "files": files,
            "docs_bytes": sum(os.path.getsize(p) for p in files), **meta, **timings}


def ensure_corpus_oracle(cache: Cache, spark, docs: dict, threshold: float) -> dict:
    """Accepted doc ids of the greedy fold, with the candidate pairs taken
    from the engine's split-invariant LSH relation over the whole corpus
    (MinHash signatures depend only on each doc's own text) — the ground
    truth of the repository's verified-gate corpus test."""
    from mysql_syncer_spark.functions.dedup_text import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    timings = {"oracle_s": 0.0}

    def build(tmp: str) -> None:
        t0 = time.perf_counter()
        batches, texts = [], {}
        for p in docs["files"]:
            t = pq.read_table(p)
            ids = t.column("doc_id").to_pylist()
            batches.append(ids)
            texts.update(zip(ids, t.column("text").to_pylist()))
        all_docs = spark.read.parquet(*docs["files"]).select("doc_id", "text")
        pairs_tbl = lsh_candidate_pairs(minhash_signatures(all_docs)).toArrow()
        pairs = zip(pairs_tbl.column("doc_a").to_pylist(),
                    pairs_tbl.column("doc_b").to_pylist())
        accepted, _ = greedy_accepted(batches, texts, pairs, threshold)
        with open(os.path.join(tmp, "oracle.json"), "w") as f:
            json.dump({"accepted": sorted(accepted)}, f)
        timings["oracle_s"] = time.perf_counter() - t0

    key = _key("corpus-oracle", {"docs": docs["input_hash"], "t": threshold}, 0)
    d, hit = cache.entry(key, build)
    with open(os.path.join(d, "oracle.json")) as f:
        return {"hit": hit, **json.load(f), **timings}
