"""Fixture-table loaders (the driver's synthetic TPC-H-ish tables).

Centralizes the one schema quirk: ``events.parquet`` stores ``ts`` as parquet
TIMESTAMP(NANOS), which Spark cannot read natively — we read it as long
(``spark.sql.legacy.parquet.nanosAsLong``) and convert to a microsecond
timestamp, which is exactly what DuckDB produces for the same file (verified:
min/max agree to the microsecond), keeping the oracle comparable.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import ensure_engine_confs

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


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """events.ts as a real timestamp regardless of fixture encoding.

    Driver fixtures have shipped both shapes across rounds: raw int64
    ns-since-epoch and parquet timestamp[us]. Branch on the OBSERVED dtype —
    assuming one unit turned every 60 s window into garbage when the fixture
    flipped (r4's late_data_watermark 44-row red)."""
    if dict(df.dtypes).get("ts") == "bigint":
        # ns epoch -> µs timestamp (integer div keeps ANSI mode happy).
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_engine_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = normalize_event_ts(df)
    return df


def read_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a Structured Streaming source with normalized ts.

    Streaming file sources need an explicit schema AND a directory path: the
    schema comes from a driver-side footer read of the same file (metadata
    only), and a glob filter narrows the directory to the events table."""
    ensure_engine_confs(spark)
    batch_schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    stream = (
        spark.readStream.schema(batch_schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    stream = normalize_event_ts(stream)
    # Event-time watermarks reject TIMESTAMP_NTZ; fixtures that ship
    # timestamp[us] (isAdjustedToUTC=false) infer as NTZ, so cast.
    if dict(stream.dtypes).get("ts") == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def spread_if_narrow(df: DataFrame, key: Column) -> DataFrame:
    """Hash-repartition by ``key`` ONLY when the scan arrives with fewer
    partitions than the cluster's parallelism (the single-file fixture
    shape: one parquet file -> one task serializing a heavy per-row
    projection).

    At 100 TB the same table arrives as thousands of splits, the gate is
    false, and a pure-projection pipeline stays shuffle-free — an
    unconditional ``repartition`` there is a full-corpus shuffle in front
    of work that needed none (guide §2.4). Aggregation pipelines that WANT
    the partitioning (e.g. repartition-by-id before explode + groupBy(id),
    which keeps the exploded relation out of the shuffle) must keep their
    unconditional repartition — this gate is only for projection-only
    paths where the repartition buys nothing but local parallelism.

    The partition count is EXPLICIT: a keyed ``repartition(key)`` with no
    number is a coalescible exchange, and AQE's bytes-based advisory
    target folds a small-bytes/heavy-compute relation (the exact shape
    this gate exists for) straight back to one partition — the spread
    becomes a no-op shuffle. ``repartition(n, key)`` pins the count so
    the per-row compute actually lands on every core."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism, key)
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def local_df(spark: SparkSession, rows: list, schema) -> DataFrame:
    """Single-partition local DataFrame for tiny metadata row sets.

    ``createDataFrame`` slices local data across ``defaultParallelism``
    (32 under the bench profile), so a 1-row catalog listing becomes 32
    near-empty tasks — and a cross join of two of them 32x32 ≈ 1000 tasks of
    pure scheduler overhead. One slice keeps metadata surfaces at one task.
    Each collect still runs a Python-worker job, so per-request surfaces
    must not use it (build a local Arrow relation instead).
    """
    if not rows:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
