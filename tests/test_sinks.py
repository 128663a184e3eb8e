"""Sink tests: partitioned layout, sorted row groups, parquet upsert."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from anime_data_pipeline_spark.sources.sinks import upsert_table, write_table


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


def test_parquet_upsert(spark, tmp_path):
    path = str(tmp_path / "t2")
    base = spark.createDataFrame(
        [(i, f"old{i}") for i in range(10)], "k int, v string"
    )
    upsert_table(spark, base, path, ["k"])  # initial load
    updates = spark.createDataFrame(
        [(5, "new5"), (6, "new6"), (99, "new99")], "k int, v string"
    )
    upsert_table(spark, updates, path, ["k"])
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert len(got) == 11
    assert got[5] == "new5" and got[6] == "new6" and got[99] == "new99"
    assert got[0] == "old0"


def test_parquet_upsert_leaves_no_tmp_dirs(spark, tmp_path):
    """The rename-swap rewrite must clean up both scratch dirs and
    never leave the target missing."""
    path = str(tmp_path / "t2b")
    base = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    upsert_table(spark, base, path, ["k"])
    upsert_table(
        spark,
        spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string"),
        path,
        ["k"],
    )
    siblings = set(os.listdir(tmp_path))
    assert siblings == {"t2b"}, siblings
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {1: "a", 2: "B", 3: "c"}


class _FakeMergeBuilder:
    def __init__(self, log):
        self.log = log

    def whenMatchedUpdateAll(self):
        self.log.append("whenMatchedUpdateAll")
        return self

    def whenNotMatchedInsertAll(self):
        self.log.append("whenNotMatchedInsertAll")
        return self

    def execute(self):
        self.log.append("execute")


class _FakeDeltaTable:
    """DeltaTable-shaped object: records the builder chain so the
    MERGE-semantics core is testable without delta-spark."""

    def __init__(self):
        self.log = []

    def alias(self, a):
        self.log.append(("alias", a))
        return self

    def merge(self, updates, cond):
        self.log.append(("merge", cond))
        return _FakeMergeBuilder(self.log)


def test_delta_merge_contract(spark):
    """build_merge drives any DeltaTable-shaped target through the
    whenMatchedUpdateAll/whenNotMatchedInsertAll chain with the right
    composite-key condition — proving a real DeltaTable drops in
    without touching operator code (J5's at-scale path)."""
    from anime_data_pipeline_spark.sources.sinks import build_merge, merge_condition

    updates = spark.createDataFrame([(1, "x")], "k int, v string")
    fake = _FakeDeltaTable()
    build_merge(fake, updates, ["k", "dt"]).execute()
    assert fake.log == [
        ("alias", "t"),
        ("merge", "t.k = u.k AND t.dt = u.dt"),
        "whenMatchedUpdateAll",
        "whenNotMatchedInsertAll",
        "execute",
    ]
    # key validation: empty and unsafe names are rejected
    import pytest

    with pytest.raises(ValueError):
        merge_condition([])
    with pytest.raises(ValueError):
        merge_condition(["k; DROP TABLE x"])


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


def test_partitioned_upsert_touches_only_affected_partitions(spark, tmp_path):
    """Dynamic-overwrite upsert must (a) merge updates into their
    partitions key-wise, (b) leave untouched partitions' FILES alone
    (not rewritten), (c) bootstrap when the table doesn't exist."""
    import os

    from anime_data_pipeline_spark.sources.sinks import upsert_table_partitioned

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "c", 40)],
        "k long, dt string, v long",
    )
    upsert_table_partitioned(spark, base, path, ["k"], "dt")  # bootstrap

    untouched_files = {
        f: os.path.getmtime(os.path.join(path, "dt=c", f))
        for f in os.listdir(os.path.join(path, "dt=c"))
        if f.endswith(".parquet")
    }

    updates = spark.createDataFrame(
        [(2, "a", 99), (5, "b", 50)], "k long, dt string, v long"
    )
    upsert_table_partitioned(spark, updates, path, ["k"], "dt")

    got = {
        r["k"]: (r["dt"], r["v"])
        for r in spark.read.parquet(path).collect()
    }
    assert got == {1: ("a", 10), 2: ("a", 99), 3: ("b", 30),
                   4: ("c", 40), 5: ("b", 50)}
    # partition c was untouched: same files, same mtimes
    after = {
        f: os.path.getmtime(os.path.join(path, "dt=c", f))
        for f in os.listdir(os.path.join(path, "dt=c"))
        if f.endswith(".parquet")
    }
    assert after == untouched_files
