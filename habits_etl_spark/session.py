"""SparkSession factory tuned for the engine.

Local testing runs on ``local[N]`` but every knob here is chosen for the
1000-executor / 100 TB design point and degrades gracefully on a laptop:

- AQE on (runtime partition coalescing, skew-join splitting, dynamic join
  strategy) so plans self-correct at any scale factor.
- ``spark.sql.shuffle.partitions`` defaults to a small local value; on a
  real cluster AQE's coalescing makes the initial number mostly a ceiling.
- UTC session timezone so timestamp semantics match the reference's
  UTC-normalized fact table (reference sql/001_schema.sql:16) and the
  DuckDB oracle.
- Arrow enabled for any pandas-UDF extension path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "habits_etl_spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Session-wide AQE SMJ->SHJ rewriting
        # (spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold) was
        # MEASURED AND REJECTED in the r14 optimization round: it cut
        # ext_weighted_minhash_pairs 3.6->2.4 s but slowed
        # ext_admission_decision 2.6->3.3 s and ext_dedup_keep_policy
        # 0.92->1.15 s (chained same-key sort-merge joins lose the sort
        # reuse a blanket rewrite destroys). Individual joins that
        # measurably win carry an explicit shuffle_hash hint instead.
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet timestamps without the UTC flag read as session-tz
        # TIMESTAMP, not NTZ (see sources._force_ltz_reads — the testdata
        # generator omits isAdjustedToUTC; instant semantics under the UTC
        # session tz match DuckDB's naive timestamps exactly).
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Allow Python Data Sources to receive pushed filters (the
        # wide_sheet source implements pushFilters; off by default)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # No console progress bars: they fill the stderr of every bench,
        # tool and test run.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-warehouse"),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


ROCKSDB_STATE_STORE_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def enable_rocksdb_state_store(spark: SparkSession) -> bool:
    """Route Structured Streaming state through RocksDB instead of the
    default in-JVM-heap HDFSBackedStateStoreProvider.

    At 100 TB the stateful ops (dropDuplicatesWithinWatermark, windowed
    aggs, stream-stream joins) hold state proportional to the watermark
    horizon; the heap provider keeps every version in executor memory and
    GC-thrashes long before the horizon does — RocksDB spills to local
    disk with bounded memory, and changelog checkpointing uploads per-batch
    deltas instead of full snapshots (streaming/dedup.py's "RocksDB-backed
    in production configs" note, made real).

    Returns False (and changes nothing) when the provider class is not on
    the classpath — callers/tests skip rather than fail. Takes effect for
    queries STARTED after the call; a restarted query keeps the provider
    recorded in its checkpoint."""
    try:
        spark._jvm.java.lang.Class.forName(ROCKSDB_STATE_STORE_PROVIDER)  # type: ignore[union-attr]
    except Exception:
        return False
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", ROCKSDB_STATE_STORE_PROVIDER
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true",
    )
    return True


def tune_for_scale(spark: SparkSession) -> None:
    """Apply session-level conf we rely on when the driver hands us an
    externally built session (the harness owns SparkSession creation)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    except Exception:
        pass  # immutable at runtime on some builds; fine, default is true
