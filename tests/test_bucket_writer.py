"""The pages sink's one write pass (``_bucket_writer`` under ``mapInArrow``):
what a delta dir holds, the lineage it reports, and retried tasks."""

import os

import pyarrow.parquet as pq
import pyspark.sql.functions as F

from mysql_syncer_spark.plans.replay import default_pages_config
from mysql_syncer_spark.sink.pages_table import PagesTable, _bucket_writer
from mysql_syncer_spark.sources.event_log import read_event_log


def test_delta_dir_holds_only_part_files_and_lineage_matches(
    spark, event_log_dir, tmp_table_path
):
    t = PagesTable.create(spark, tmp_table_path, num_buckets=8)
    ev = read_event_log(spark, event_log_dir)
    res = t.apply_batch("b-0", ev.filter(F.col("file_seq") == 0), default_pages_config())
    m = t.manifest()
    assert res["buckets_touched"] == len(m.buckets) > 0
    data = os.path.join(tmp_table_path, "data")
    (delta,) = os.listdir(data)
    for root, dirs, files in os.walk(os.path.join(data, delta)):
        assert "_temporary" not in dirs and "_tmp" not in dirs, root
        if root == os.path.join(data, delta):
            assert all(d.startswith("_bucket=") for d in dirs), dirs
            assert files == []
            continue
        assert files and all(
            f.startswith("part-") and f.endswith(".parquet") for f in files
        ), (root, files)
    total = 0
    for b, (d,) in m.buckets.items():
        path = os.path.join(tmp_table_path, d)
        n_disk = sum(
            pq.read_metadata(os.path.join(path, f)).num_rows for f in os.listdir(path)
        )
        n_read = spark.read.parquet(path).count()
        assert m.lineage[b]["rows"] == n_disk == n_read, b
        total += n_read
    assert total == res["rows_after_dedup"]
    # lean footers: no embedded Arrow schema, no statistics on the payload,
    # statistics kept on the key (row-group pruning on url stays)
    f = next(
        os.path.join(r, x)
        for r, _, fs in os.walk(os.path.join(data, delta))
        for x in fs
    )
    md = pq.read_metadata(f)
    assert b"ARROW:schema" not in (md.metadata or {})
    rg = md.row_group(0)
    stats = {
        rg.column(i).path_in_schema: rg.column(i).is_stats_set
        for i in range(rg.num_columns)
    }
    assert stats["url"] and not stats["html"] and not stats["text"]


def test_rerun_of_one_partition_leaves_one_file(spark, tmp_path):
    """A retried task attempt writes the same ``part-<partition>`` name,
    so running one partition's writer twice leaves one file per bucket,
    holding the second attempt's rows."""
    out = str(tmp_path / "d-x")
    df = spark.createDataFrame(
        [(b % 3, f"k{b}") for b in range(12)], "_bucket int, url string"
    ).coalesce(1)
    for _ in range(2):
        got = df.mapInArrow(_bucket_writer(out), "_bucket int, rows long").collect()
        assert sorted(tuple(r) for r in got) == [(0, 4), (1, 4), (2, 4)]
    for b in range(3):
        d = os.path.join(out, f"_bucket={b}")
        (f,) = os.listdir(d)
        assert f.startswith("part-")
        assert pq.read_table(os.path.join(d, f)).num_rows == 4
    assert os.listdir(os.path.join(out, "_tmp")) == []
