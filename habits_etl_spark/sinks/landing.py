"""Storage-layer sinks.

- ``land_raw``: content-hash-keyed append-once landing table
  (reference habits_raw, sql/001_schema.sql:7-11 + ON CONFLICT DO NOTHING
  at etl/etl_habits.py:27-30). The full source row is preserved as JSON
  for forensics/replay.
- ``write_events``: the fact table (reference habit_events hypertable,
  sql/001_schema.sql:14-28) as Parquet **partitioned by event_date** —
  the hypertable-chunking analog that gives partition pruning for the
  dashboards' time-range predicates — and sorted within partitions by
  (user_email, habit, ts) to approximate the reference's composite B-tree
  index via Parquet row-group min/max stats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from habits_etl_spark.functions.hashing import row_hash_expr


def land_raw(wide: DataFrame, path: str, existing_hashes: DataFrame | None = None) -> None:
    """Append-once landing: hash every raw row, drop rows whose hash is
    already present, append the rest as (row_hash, ingested_at, payload).

    Scale: the anti-join against existing hashes is a shuffle on sha256 —
    uniformly distributed; with a date-bucketed landing layout the anti
    join can be restricted to the affected buckets.
    """
    hashed = wide.select(
        row_hash_expr(wide).alias("row_hash"),
        F.current_timestamp().alias("ingested_at"),
        F.to_json(F.struct(*sorted(wide.columns))).alias("payload"),
    )
    fresh = hashed.dropDuplicates(["row_hash"])
    if existing_hashes is not None:
        fresh = fresh.join(existing_hashes.select("row_hash"), "row_hash", "left_anti")
    fresh.write.mode("append").parquet(path)


def write_events(events: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Write the tidy fact table date-partitioned + stat-sorted."""
    (
        events.withColumn("event_date", F.col("ts").cast("date"))
        .repartition("event_date")
        # event_date first: otherwise the writer's own sort by the
        # partition column replaces this one
        .sortWithinPartitions("event_date", "user_email", "habit", "ts")
        .write.mode(mode)
        .partitionBy("event_date")
        .parquet(path)
    )


def read_events(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)
