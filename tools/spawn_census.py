"""Count the ``chmod`` and ``readlink`` processes the JVM spawns while the
pages engine runs. Without Hadoop's native IO library, the local file
system sets permissions and resolves links by running those commands, one
process each. The tool puts logging wrappers for both on ``PATH`` of its
own process only, so only the Spark session it starts sees them, then runs
four phases on generated logs of the benchmark's shapes:

- ``tail``: an AvailableNow streaming tail of 10 files of 250 events into
  a fresh 16-bucket table (threshold folds run inside it);
- ``replay``: one pipelined replay (depth 4) of 8k events in 4 files of
  ~4 KB pages into a fresh 16-bucket table;
- ``lookups``: 5 ``lookup_many`` calls of 40 urls on the tail's table;
- ``changes``: 3 ``changes_between(1, last)`` on the tail's table.

Each spawn is counted by phase, command, and where its path argument
lies: under a table's ``data/`` dir, under the tail's checkpoint, or
elsewhere. Prints one JSON object.

    python tools/spawn_census.py --seed 901 [--root CHECKOUT] [--cores 4]

``--root`` runs the package of another checkout (the same census for a
before/after pair)."""

import argparse
import json
import os
import shutil
import sys
import tempfile

WRAPPED = ("chmod", "readlink")


def install_wrappers(work: str) -> tuple[str, str]:
    """Wrapper scripts that log one line per call (phase, command, args)
    and exec the real binary; returns (bin dir, log path)."""
    bindir, log = os.path.join(work, "bin"), os.path.join(work, "spawns.log")
    phase = os.path.join(work, "phase")
    os.makedirs(bindir)
    for cmd in WRAPPED:
        real = shutil.which(cmd)
        if real is None:
            raise SystemExit(f"no {cmd} on PATH")
        p = os.path.join(bindir, cmd)
        with open(p, "w") as f:
            f.write(
                "#!/bin/sh\n"
                f'printf "%s\\t{cmd}\\t%s\\n" "$(cat {phase})" "$*" >> {log}\n'
                f'exec {real} "$@"\n'
            )
        os.chmod(p, 0o755)
    os.environ["PATH"] = bindir + os.pathsep + os.environ.get("PATH", "")
    return bindir, log


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=901)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--root", default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    args = ap.parse_args()
    sys.path.insert(0, os.path.abspath(args.root))

    from mysql_syncer_spark.generator import GenSpec, generate_events, write_event_log
    from mysql_syncer_spark.plans.replay import replay
    from mysql_syncer_spark.session import get_spark
    from mysql_syncer_spark.sink.pages_table import PagesTable
    from mysql_syncer_spark.streaming.runner import run_streaming_replay

    work = tempfile.mkdtemp(prefix="spawn_census_")
    _, log = install_wrappers(work)
    phase_file = os.path.join(work, "phase")

    def phase(name: str) -> None:
        with open(phase_file, "w") as f:
            f.write(name)

    phase("setup")
    logs = {}
    for name, n, per_file, rep in (("tail", 2_500, 250, 4), ("bulk", 8_000, 2_000, 32)):
        spec = GenSpec(n_events=n, n_urls=max(1000, n // 5), events_per_file=per_file,
                       html_repeat=rep, seed=args.seed)
        logs[name] = os.path.join(work, f"log_{name}")
        write_event_log(generate_events(spec), logs[name])
    spark = get_spark(app_name="spawn_census", cores=args.cores,
                      extra_conf={"spark.local.dir": os.path.join(work, "local")})
    tail_path, ckpt = os.path.join(work, "tail"), os.path.join(work, "ckpt")
    bulk_path = os.path.join(work, "bulk")
    try:
        phase("tail")
        run_streaming_replay(spark, logs["tail"], tail_path, ckpt, num_buckets=16)
        phase("replay")
        replay(spark, logs["bulk"], bulk_path, num_buckets=16, pipeline_depth=4)
        t = PagesTable(spark, tail_path)
        urls = sorted(r["url"] for r in t.read().select("url").collect())
        phase("lookups")
        for k in range(5):
            t.lookup_many(urls[k * 40:(k + 1) * 40]).collect()
        phase("changes")
        last = t.manifest().version
        for _ in range(3):
            t.changes_between(1, last).collect()
        phase("teardown")
    finally:
        spark.stop()

    where_of = (
        (os.path.join(tail_path, "data"), "data"),
        (os.path.join(bulk_path, "data"), "data"),
        (ckpt, "checkpoint"),
    )
    counts = {
        ph: {cmd: {"data": 0, "checkpoint": 0, "other": 0} for cmd in WRAPPED}
        for ph in ("setup", "tail", "replay", "lookups", "changes", "teardown")
    }
    with open(log) as f:
        for line in f:
            ph, cmd, argv = line.rstrip("\n").split("\t", 2)
            where = next((w for root, w in where_of if root in argv), "other")
            counts[ph][cmd][where] += 1
    print(json.dumps({"seed": args.seed, "cores": args.cores, "spawns": counts}))
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
