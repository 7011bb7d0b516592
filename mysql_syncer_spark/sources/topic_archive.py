"""Topic archives on disk for every CDC wire format: the shape a sink
like Kafka Connect S3 leaves — one file per SOURCE binlog file,
``topic-{seq:06d}.<kind>``, holding that file's messages in log order.
File kinds: ``JSONL`` (one JSON message per line: Debezium JSON, Maxwell,
Canal) and ``AVRO`` (registry-framed Avro messages in parquet columns
``log_pos``/``key``/``value``, plus the registry dump ``_registry.json``).

A wire format plugs in as a ``TopicCodec``; ``write``, ``read`` and
``replay`` are shared. Replay applies one exactly-once ``PagesTable``
batch per source binlog file (batch_id ``fileseq-{seq}``, the ledger keys
of ``plans.replay``, so replaying the same stream from another format is
a no-op) through ``PagesTable.apply_batches``, the one replay loop: DDL
rides in-stream and is collected per batch, and the keys-only skew probe
runs on the first batch only. The naming lets each batch read EXACTLY its own file
(O(files) bytes over a replay); an archive named otherwise falls back to
a content filter on file_seq, which re-scans the archive per batch.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import re
from collections.abc import Callable
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# a file kind is also its files' extension
JSONL = "jsonl"
AVRO = "parquet"
_AVRO_FILE = pa.schema(
    [("log_pos", pa.int64()), ("key", pa.binary()), ("value", pa.binary())]
)


@dataclass(frozen=True)
class TopicCodec:
    """One wire format's place in a topic archive."""

    # typed events (+ format options) -> file_seq, log_pos, [key,] value
    encode: Callable[..., DataFrame]
    # archive rows -> typed events; AVRO decoders also take the registry
    decode: Callable[..., DataFrame]
    kind: str  # JSONL or AVRO
    # AVRO only: payload struct -> {schema_id: schema} to dump
    registry: Callable | None = None


def load_registry(path: str) -> dict[int, dict] | None:
    """The ``_registry.json`` dump of an AVRO archive dir, or None."""
    p = os.path.join(path, "_registry.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        raw = json.load(f)
    return {int(k): v for k, v in raw.items()}


def write(codec: TopicCodec, events: DataFrame, out_dir: str, **encode_kw) -> list[str]:
    """Dump a typed event log as a topic archive, one file per binlog
    file_seq (rotation parity with write_event_log); returns the paths.
    Streams via toLocalIterator — the whole topic is never driver-resident
    (fixture side; a real deployment's producer is the CDC connector)."""
    os.makedirs(out_dir, exist_ok=True)
    if codec.kind == AVRO:
        registry = codec.registry(events.schema["after"].dataType)
        with open(os.path.join(out_dir, "_registry.json"), "w") as f:
            json.dump({str(k): v for k, v in registry.items()}, f, indent=1)
    it = (
        codec.encode(events, **encode_kw)
        .orderBy("file_seq", "log_pos")
        .toLocalIterator()
    )
    paths: list[str] = []
    for seq, rows in itertools.groupby(it, key=lambda r: int(r["file_seq"])):
        path = os.path.join(out_dir, f"topic-{seq:06d}.{codec.kind}")
        if codec.kind == JSONL:
            with open(path, "w", encoding="utf-8") as fh:
                fh.writelines(r["value"] + "\n" for r in rows)
        else:
            rows = [r.asDict() for r in rows]
            pq.write_table(pa.Table.from_pylist(rows, schema=_AVRO_FILE), path)
        paths.append(path)
    return paths


def read(
    codec: TopicCodec,
    spark: SparkSession,
    path: str,
    streaming: bool = False,
    registry: dict[int, dict] | None = None,
    **decode_kw,
) -> DataFrame:
    """Typed event stream from a topic archive dir (or one file).
    ``streaming=True`` tails the dir with readStream: new topic files are
    discovered incrementally, with the binlog tail's rotation semantics.
    AVRO archives resolve schema ids against ``registry``, by default the
    archive's own ``_registry.json``."""
    if codec.kind == JSONL:
        raw = (spark.readStream if streaming else spark.read).text(path)
        return codec.decode(raw, **decode_kw)
    if registry is None:
        registry = load_registry(path if os.path.isdir(path) else os.path.dirname(path))
    if streaming:
        raw = spark.readStream.schema("log_pos long, key binary, value binary").parquet(path)
    else:
        raw = spark.read.parquet(path)
    return codec.decode(raw, registry, **decode_kw)


def replay(
    codec: TopicCodec,
    spark: SparkSession,
    archive_dir: str,
    table_path: str,
    cfg=None,
    num_buckets: int = 64,
) -> dict:
    """Batch replay of a topic archive into a PagesTable, one exactly-once
    commit per source binlog file (see the module docstring)."""
    from ..plans.replay import default_pages_config
    from ..sink.pages_table import PagesTable

    registry = load_registry(archive_dir) if codec.kind == AVRO else None
    named: dict[int, str] = {}
    for p in glob.glob(os.path.join(archive_dir, f"topic-*.{codec.kind}")):
        m = re.fullmatch(rf"topic-(\d+)\.{codec.kind}", os.path.basename(p))
        if m:
            named[int(m.group(1))] = p
    if named:  # one-file-per-batch read: never rescans the archive
        per_seq = (
            (seq, read(codec, spark, p, registry=registry))
            for seq, p in sorted(named.items())
        )
    else:  # foreign layout: content filter (O(files) scans per batch)
        events = read(codec, spark, archive_dir, registry=registry)
        seqs = [
            r["file_seq"]
            for r in events.select("file_seq").distinct().orderBy("file_seq").collect()
        ]
        per_seq = ((seq, events.filter(F.col("file_seq") == seq)) for seq in seqs)
    table = PagesTable.open(spark, table_path, num_buckets)
    results = table.apply_batches(
        ((f"fileseq-{seq}", ev) for seq, ev in per_seq),
        cfg or default_pages_config(),
    )
    return {
        "batches": len(results),
        "events_in": sum(r.get("events_in", 0) for r in results),
        "results": results,
    }
