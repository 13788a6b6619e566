"""SparkSession helpers: one place for the engine's scale-oriented defaults."""

from __future__ import annotations

import os
import tempfile

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

# Beyond this many LIVE files, reads stop enumerating the snapshot on the
# driver entirely (no collect, no N-path reader argument list) and switch to
# the listing-join scan — see engine.Engine._read_data_listing_join.
LARGE_LISTING_THRESHOLD = 100_000

# Session-level SQL confs the engine depends on. Applied both at build time and
# (for externally supplied sessions, e.g. the verification driver's) at use time
# via ensure_engine_confs(); all of these are runtime-settable SQL confs.
ENGINE_SQL_CONFS = {
    # events.parquet carries TIMESTAMP(NANOS), which Spark's reader rejects
    # outright; read as long and convert explicitly (see io.load_table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Runtime re-planning: coalesce tiny shuffle partitions, split skewed ones.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas-UDF path (similarity/multimodal) — batch, not row.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Let the format("governed") Python Data Source receive pushed filters
    # for advisory file-level pruning (sources/governed.py).
    "spark.sql.python.filterPushdown.enabled": "true",
    # ID-mode column mapping: parquet columns resolve by field id when the
    # read schema carries parquet.field.id metadata (engine._physical_schema
    # attaches it). No-op for schemas without ids, so safe globally.
    "spark.sql.parquet.fieldId.read.enabled": "true",
    # Written schemas that carry parquet.field.id metadata (icebergCompat
    # staging writes) must land in the file footers. Spark's default since
    # 3.3, pinned because icebergCompat correctness depends on it.
    "spark.sql.parquet.fieldId.write.enabled": "true",
    # int64 micros, never INT96 (Spark's legacy default): required by
    # icebergCompatV1/V2 (Iceberg cannot read INT96) and strictly better
    # for every other reader (predicate pushdown works on int64).
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # Past this many reader paths or subdirectories (Spark's default: 32)
    # Spark stats them in a listing job, one task per path, on every read.
    # The log scan hands the reader its explicit file list, at most
    # LARGE_LISTING_THRESHOLD paths (past it the scan switches to the
    # listing join), so the driver stats the list itself and building a scan
    # runs no job. The engine's log IO is POSIX (open/os.listdir): the
    # driver sees the same filesystem as the data files. Session-wide: other
    # reads in the session list on the driver too.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": str(
        LARGE_LISTING_THRESHOLD
    ),
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def build_session(app_name: str = "delta-lake-proxy-spark", cpus: int | None = None) -> SparkSession:
    cpus = cpus or default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # keep managed-table state (bucketing tests etc.) out of the repo cwd
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(tempfile.gettempdir(), "spark_graft_warehouse"),
        )
    )
    for k, v in ENGINE_SQL_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_engine_confs(spark: SparkSession) -> SparkSession:
    """Set the engine's required SQL confs on an externally built session.
    A conf the deployment does not let us modify is left as it is; the
    reads that depend on one check it at use (id-mode column mapping
    refuses without ``spark.sql.parquet.fieldId.read.enabled``). Any other
    failure raises."""
    for k, v in ENGINE_SQL_CONFS.items():
        set_conf_if_modifiable(spark, k, v)
    return spark


def set_conf_if_modifiable(spark: SparkSession, key: str, value: str) -> None:
    """Set one SQL conf, leaving it as it is when the deployment does not
    let the session modify it; any other failure raises. Callers whose
    correctness depends on the value read it back."""
    try:
        spark.conf.set(key, value)
    except AnalysisException as e:
        if e.getCondition() not in ("CANNOT_MODIFY_CONFIG", "CANNOT_MODIFY_STATIC_CONFIG"):
            raise
