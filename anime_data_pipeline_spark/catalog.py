"""Test-table catalog: load the driver's synthetic parquet tables.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file per table under
``/root/testdata/sf{0.001,0.01,0.1}/``.

At 100 TB these would be partitioned/bucketed parquet or Delta tables;
the loader keeps the access path identical (``spark.read.parquet``)
so only the path changes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Harnesses may hand us a session not built by session.get_spark;
    # re-apply the one optimizer exclusion correctness-neutral but
    # load-bearing for perf (see session.py: InferFiltersFromGenerate
    # re-inlines computed arrays into pushed-down filters, ~16× on the
    # explode-heavy dedup/term/contamination paths). APPENDED to any
    # exclusions the caller already configured, not overwritten
    # (r3 advice: a plain set() clobbered caller exclusions).
    _rule = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    try:
        current = spark.conf.get("spark.sql.optimizer.excludedRules")
    except Exception:
        current = None
    rules = [r for r in (current or "").split(",") if r.strip()]
    if _rule not in rules:
        rules.append(_rule)
        spark.conf.set("spark.sql.optimizer.excludedRules", ",".join(rules))
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # events.parquet stores ts as TIMESTAMP(NANOS), which Spark's
        # vectorized parquet reader rejects. Read nanos as long and
        # downcast to microsecond timestamps (Spark's native precision).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F

        df = spark.read.parquet(path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # Integer division, NOT `/`: long/long promotes to double,
            # which rounds at nanosecond-epoch magnitudes (~1.8e18 needs
            # 61 bits; double has 53) — observed off-by-1μs timestamps.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # timestamp[us] parquet arrives as TIMESTAMP_NTZ in Spark 4.x;
            # unix_micros() and withWatermark() both reject NTZ. The session
            # timezone is pinned to UTC (session.py), so the cast is
            # value-preserving vs the DuckDB oracle.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every test table as a DataFrame keyed by table name."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load tables and register each as a temp view for spark.sql()."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
