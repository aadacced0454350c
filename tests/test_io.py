"""io.load_table's plan memo: it must see rows appended below a directory
table's root, and cost one stat per call on a plain file."""

import os
import shutil

from hyperdx_spark import io


def test_memo_sees_append_into_existing_partition(spark, tmp_path):
    table = tmp_path / "t.parquet"
    schema = "id long, date string"
    spark.createDataFrame([(1, "2024-01-01"), (2, "2024-01-01")], schema) \
        .write.partitionBy("date").parquet(str(table))
    assert io.load_table(spark, str(tmp_path), "t").count() == 2
    # land one more file in the existing partition, as a streaming sink
    # does: the root directory's own stat does not change
    root_stat = os.stat(table)
    staged = tmp_path / "staged"
    spark.createDataFrame([(3, "2024-01-01")], schema).coalesce(1) \
        .write.partitionBy("date").parquet(str(staged))
    (part,) = [f for f in os.listdir(staged / "date=2024-01-01") if f.endswith(".parquet")]
    shutil.move(staged / "date=2024-01-01" / part, table / "date=2024-01-01" / part)
    assert os.stat(table).st_mtime_ns == root_stat.st_mtime_ns
    got = io.load_table(spark, str(tmp_path), "t")
    assert sorted(r["id"] for r in got.collect()) == [1, 2, 3]


def test_memo_hit_on_file_stats_once(spark, sf_dir, monkeypatch):
    first = io.load_table(spark, sf_dir, "events")
    calls = []
    real_stat = os.stat

    def counting_stat(*a, **k):
        calls.append(a[0])
        return real_stat(*a, **k)

    monkeypatch.setattr(io.os, "stat", counting_stat)
    assert io.load_table(spark, sf_dir, "events") is first
    assert len(calls) == 1
