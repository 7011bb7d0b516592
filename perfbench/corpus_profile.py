"""Profile of a document corpus as corpus_ingest loads it: the shape of the
text, LSH candidate and verified pairs, the greedy-fold reject rate, and
where ingest time goes. It compares the generated corpus with a documents
fixture (a parquet file with doc_id and text columns).

    python3 perfbench/corpus_profile.py --n 800 [--seed S]
    python3 perfbench/corpus_profile.py --n 800 --docs documents.parquet

Without --docs it profiles the benchmark's generated corpus of N docs; with
--docs, the first N docs of that file (all of them when N is 0). Both are
split into batches at random by the seed, as the benchmark splits its own.
Prints one JSON line. Run from the checkout root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import inputs  # noqa: E402
from perfbench.harness import Ctx  # noqa: E402
from perfbench.workloads import CORPUS_JACCARD  # noqa: E402


def load(path: str | None, n: int, seed: int) -> pa.Table:
    """(doc_id, text, batch) of the corpus to profile."""
    if path is None:
        tbl, _ = inputs.generate_docs(seed, n)
        return tbl
    tbl = pq.read_table(path, columns=["doc_id", "text"])
    if n:
        tbl = tbl.slice(0, n)
    batch = np.random.default_rng(seed).integers(0, inputs.N_CORPUS_BATCHES, tbl.num_rows)
    return tbl.append_column("batch", pa.array(batch.astype(np.int32)))


def profile(ctx: Ctx, tbl: pa.Table) -> dict:
    from mysql_syncer_spark.functions.dedup_text import (
        lsh_candidate_pairs,
        minhash_signatures,
        verified_near_duplicates,
    )
    from mysql_syncer_spark.sink.corpus_table import CorpusTable

    spark, tr = ctx.spark, ctx.tracer
    ids = tbl.column("doc_id").to_pylist()
    texts = dict(zip(ids, tbl.column("text").to_pylist()))
    words = [len(t.split()) for t in texts.values()]
    vocab = set()
    for t in texts.values():
        vocab.update(t.lower().split())
    batch = tbl.column("batch").to_numpy()
    files, batches = [], []
    work = tempfile.mkdtemp(dir=ctx.run_dir)
    for i in range(inputs.N_CORPUS_BATCHES):
        part = tbl.filter(pa.array(batch == i)).select(["doc_id", "text"])
        files.append(os.path.join(work, f"batch-{i}.parquet"))
        pq.write_table(part, files[-1])
        batches.append(part.column("doc_id").to_pylist())

    tr.set_enabled(True)
    docs = spark.read.parquet(*files)
    sig_path = os.path.join(work, "signatures")
    with tr.span("minhash_signatures") as mh:
        minhash_signatures(docs).write.parquet(sig_path)
    with tr.span("lsh_candidate_pairs") as lsh:
        pairs = lsh_candidate_pairs(spark.read.parquet(sig_path)).toArrow()
    with tr.span("verified_near_duplicates") as ver:
        verified_near_duplicates(docs, threshold=CORPUS_JACCARD).count()
    pair_list = list(zip(pairs.column("doc_a").to_pylist(), pairs.column("doc_b").to_pylist()))
    accepted, n_verified = inputs.greedy_accepted(batches, texts, pair_list, CORPUS_JACCARD)

    table = CorpusTable.create(spark, os.path.join(work, "corpus"),
                               verify_jaccard=CORPUS_JACCARD)
    applies = []
    for i, p in enumerate(files):
        with tr.span("CorpusTable.apply_batch") as rec:
            table.apply_batch(f"b{i}", spark.read.parquet(p))
        applies.append(rec)
    tr.set_enabled(False)

    def dur(rec: dict) -> float:
        return rec["end"] - rec["start"]

    ingest_s = sum(dur(r) for r in applies)
    minhash_s, lsh_s = dur(mh), dur(lsh)
    n = len(ids)
    return {
        "n_docs": n,
        "words_per_doc_mean": statistics.fmean(words),
        "words_per_doc_min": min(words),
        "words_per_doc_max": max(words),
        "distinct_tokens": len(vocab),
        "dup_marker_share": sum(t.endswith(" dup") for t in texts.values()) / n,
        "candidate_pairs": len(pair_list),
        "candidate_pairs_per_doc": len(pair_list) / n,
        "verified_pairs": n_verified,
        "verified_per_candidate": n_verified / max(1, len(pair_list)),
        "reject_rate": 1 - len(accepted) / n,
        "engine_rejected": table.manifest().n_rejected,
        "oracle_rejected": n - len(accepted),
        "minhash_s": minhash_s,
        "lsh_pairs_s": lsh_s,
        "verify_s": max(0.0, dur(ver) - minhash_s - lsh_s),
        "ingest_s": ingest_s,
        "apply_batch_s": [round(dur(r), 3) for r in applies],
        "jobs_per_batch": statistics.fmean(r["jobs"] for r in applies),
        "stages_per_batch": statistics.fmean(r["stages"] for r in applies),
        "docs_per_s": n / ingest_s,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--docs", help="documents parquet file (default: generated)")
    ap.add_argument("--n", type=int, default=800)
    ap.add_argument("--seed", type=int, default=201)
    args = ap.parse_args(argv)
    ctx = Ctx("corpus_profile", args.seed, 0, False)
    try:
        tbl = load(args.docs, args.n, args.seed)
        ctx.start_spark()
        # the first pass over 200 docs warms the JVM; the second is reported
        profile(ctx, tbl.slice(0, 200))
        out = profile(ctx, tbl)
    finally:
        if ctx.spark is not None:
            ctx.stop_spark()
        shutil.rmtree(ctx.run_dir, ignore_errors=True)
    out["source"] = os.path.basename(args.docs) if args.docs else "generated"
    out["seed"] = args.seed
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
