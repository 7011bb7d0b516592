"""Hot-key flood A/B: replay three flood logs (generator.GenSpec, no DDL, 64
buckets, default table config) and print wall time, process-tree CPU and a
final-state digest per replay, one JSON line each. Run it on two checkouts in
turn (parent, change, parent, ...): ``python tools/flood_ab.py --seed 1 --cores 4``.
Shapes: zipf, 100k zipf events in 1 file (dup share ~0.81); hot10, 100k events
with one url on every 10th, the rest unique (~0.10); zipf4, 4 files of 60k zipf
events, pipelined at depth 4; serial40, 40 files of 2,000 zipf events at depth 1,
so threshold folds fire on the serial path. ``--shapes serial40`` runs a subset
(the warm-up replay always runs). Folds are counted from ``history()``: the
buckets folded over all versions and the number of ``compact-v*`` commits."""

import argparse
import hashlib
import json
import os
import shutil
import sys
import tempfile
import time

import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from mysql_syncer_spark.generator import GenSpec, generate_events, write_event_log  # noqa: E402
from mysql_syncer_spark.plans.replay import replay  # noqa: E402
from mysql_syncer_spark.session import get_spark  # noqa: E402
from mysql_syncer_spark.sink.pages_table import PagesTable  # noqa: E402

def tree_cpu_s() -> float:  # this process and its descendants, exited children included
    kids, cpu = {}, {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(rest[1]), []).append(int(pid))
        cpu[int(pid)] = sum(int(x) for x in rest[11:15])  # u/s/cu/cs time
    tree = lambda p: cpu.get(p, 0) + sum(tree(c) for c in kids.get(p, []))  # noqa: E731
    return tree(os.getpid()) / os.sysconf("SC_CLK_TCK")


def one_hot_key(tbl: pa.Table, every: int = 10) -> pa.Table:
    """One hot url on every ``every``-th event, a unique url on the rest."""
    urls = pa.array(["https://hot.example.com/" if i % every == 0 else f"https://u{i}.example.com/"
                     for i in range(tbl.num_rows)])
    for name in ("before", "after"):
        col = tbl[name].combine_chunks()
        kids = [urls if f.name == "url" else col.field(f.name) for f in col.type]
        new = pa.StructArray.from_arrays(kids, fields=list(col.type), mask=col.is_null())
        tbl = tbl.set_column(tbl.schema.get_field_index(name), name, new)
    return tbl


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--shapes", default="zipf,hot10,zipf4,serial40")
    args = ap.parse_args()
    spark, work = get_spark(cores=args.cores), tempfile.mkdtemp(prefix="flood_ab_")
    gen = lambda n, per_file: generate_events(GenSpec(  # noqa: E731
        n_events=n, events_per_file=per_file, n_urls=1_000_000, ddl_scenario=(), seed=args.seed))
    shapes = [("warmup", lambda: gen(5_000, 5_000), 1), ("zipf", lambda: gen(100_000, 100_000), 1),
              ("hot10", lambda: one_hot_key(gen(100_000, 100_000)), 1),
              ("zipf4", lambda: gen(240_000, 60_000), 4),
              ("serial40", lambda: gen(80_000, 2_000), 1)]  # (name, log builder, pipeline depth)
    wanted = {"warmup", *args.shapes.split(",")}
    for name, events, depth in (s for s in shapes if s[0] in wanted):
        log, path = os.path.join(work, name, "log"), os.path.join(work, name, "pages")
        write_event_log(events(), log)
        c0, t0 = tree_cpu_s(), time.time()
        res = replay(spark, log, path, num_buckets=64, pipeline_depth=depth)
        wall, cpu = time.time() - t0, tree_cpu_s() - c0
        table = PagesTable(spark, path)
        rows = table.read().selectExpr("url", "xxhash64(*) AS h").collect()
        digest = hashlib.sha256(repr(sorted((r["url"], r["h"]) for r in rows)).encode()).hexdigest()
        if name != "warmup":  # the warm-up replay pays JVM and UDF-worker start
            keys = ("skew_probed", "dup_share", "prefiltered")
            plans = [{k: b[k] for k in keys if k in b} for b in res["batches"]]
            hist = table.history().collect()
            print(json.dumps({"shape": name, "seed": args.seed, "wall_s": round(wall, 3),
                              "cpu_s": round(cpu, 3), "rows": len(rows), "digest": digest[:16],
                              "folded_buckets": sum(r["compacted_buckets"] for r in hist),
                              "fold_commits": sum((r["batch_id"] or "").startswith("compact-v") for r in hist),
                              "plans": plans}), flush=True)
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
