"""Sink tests: partitioned layout and partition pruning of the parquet sink."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from anime_data_pipeline_spark.sources.sinks import write_table


def test_partitioned_write_layout(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, ["a", "b", "c"][i % 3], float(i)) for i in range(90)],
        "id int, src string, v double",
    )
    out = str(tmp_path / "t1")
    write_table(df, out, partition_by=["src"], sort_by=["id"])
    dirs = {d for d in os.listdir(out) if d.startswith("src=")}
    assert dirs == {"src=a", "src=b", "src=c"}
    # one file per partition dir (repartition on the partition column)
    for d in dirs:
        files = [f for f in os.listdir(os.path.join(out, d)) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)
    back = spark.read.parquet(out)
    assert back.count() == 90
    # partition pruning: filtering one src reads one directory
    assert back.filter(F.col("src") == "a").count() == 30


def test_partition_pruning_in_plan(spark, tmp_path):
    """A filter on the partition column must become a PartitionFilter
    (pruned directories), not a post-scan predicate."""
    df = spark.createDataFrame(
        [(i, ["a", "b", "c"][i % 3], float(i)) for i in range(90)],
        "id int, src string, v double",
    )
    out = str(tmp_path / "t3")
    write_table(df, out, partition_by=["src"])
    back = spark.read.parquet(out).filter(F.col("src") == "a")
    jdf = back._jdf
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = jdf.queryExecution().explainString(mode)
    assert "PartitionFilters" in plan and "src" in plan.split("PartitionFilters", 1)[1][:120], plan

