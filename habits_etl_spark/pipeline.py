"""End-to-end ingest pipeline — the engine's ``main()`` (reference
etl/etl_habits.py:41-50), as one lazy DataFrame program:

    read wide source -> land raw (content-hash append-once)
                     -> normalize (unpivot + parse + coerce)
                     -> dedup batch (deterministic winner)
                     -> keyed upsert into the date-partitioned fact table

vs. the reference's per-row Python loop with one SQL round-trip per
statement (etl/etl_habits.py:47-50) — the scalability cliff this engine
removes. The merge is **partition-scoped**: only the event_date partitions
named by the incoming batch are read, merged, and dynamically overwritten,
so ingest cost is O(batch date-spread), not O(table) — the property the
reference buys from Postgres unique-index upserts. The reference's CronJob
re-sends the whole sheet tab on every run, though, and a whole-sheet
re-send spans every date of the sheet: each run then rewrites every
partition the sheet covers. The ``ingest`` workload of ``perfbench/``
(100 users, 30+ days, 3% of rows edited per send) measures this as 12.5
bytes written per byte of new or changed sheet rows (``write_amp``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from habits_etl_spark.catalog import EVENTS_SCHEMA, LANDING_SCHEMA
from habits_etl_spark.config import PipelineConfig
from habits_etl_spark.operators.unpivot import normalize_wide_rows
from habits_etl_spark.sinks.landing import land_raw
from habits_etl_spark.sinks.upsert import dedup_batch, upsert_keyed
from habits_etl_spark.sources import read_wide_csv

EVENT_KEYS = ["user_email", "habit", "ts"]  # reference sql/001_schema.sql:22
# habit_events and habits_raw are read with their declared schemas
# (catalog.EVENTS_SCHEMA, LANDING_SCHEMA): a read without one runs a job on
# the file footers to infer it, on every ingest and every dashboard read.


def _events_path(warehouse: str) -> str:
    return os.path.join(warehouse, "habit_events")


def read_events_table(
    spark: SparkSession, warehouse: str, table_format: str = "parquet"
) -> DataFrame:
    if table_format == "manifest":
        from habits_etl_spark.sinks.manifest import read_snapshot

        return read_snapshot(spark, _events_path(warehouse))
    return spark.read.schema(EVENTS_SCHEMA).parquet(_events_path(warehouse))


def run_ingest(
    spark: SparkSession,
    wide: DataFrame | str,
    cfg: PipelineConfig,
    warehouse: str,
    land_raw_payloads: bool = True,
    table_format: str = "parquet",
) -> None:
    """One ingest run (the reference's 15-minute CronJob body).

    ``table_format``: ``"parquet"`` (default) keeps the date-partitioned
    layout with dynamic partition overwrite — correct under the
    reference's single-writer CronJob topology. ``"manifest"`` routes the
    merge through ``sinks/manifest.upsert_snapshot``: one atomic pointer
    swap per ingest, so readers CONCURRENT with the CronJob get snapshot
    isolation (and time travel / manifest-entry pruning), at the cost of
    merging against the whole snapshot rather than only the affected
    date partitions — pick it when concurrent readers matter more than
    merge locality (partition-scoped manifest merges = Iceberg partition
    overwrite, out of scope here)."""
    if isinstance(wide, str):
        wide = read_wide_csv(spark, wide)

    if land_raw_payloads:
        landing_path = os.path.join(warehouse, "habits_raw")
        existing_hashes = None
        if os.path.exists(landing_path):
            existing_hashes = spark.read.schema(LANDING_SCHEMA).parquet(landing_path)
        land_raw(wide, landing_path, existing_hashes)

    events = normalize_wide_rows(wide, cfg)
    # Deterministic intra-batch winner (SURVEY §7.3.4): the reference applies
    # sheet rows in order, so last-in-file wins; __ingest_seq reproduces that.
    incoming = dedup_batch(
        events.withColumn("__ingest_seq", F.monotonically_increasing_id()),
        EVENT_KEYS,
        "__ingest_seq",
    ).drop("__ingest_seq")
    incoming = incoming.withColumn("event_date", F.col("ts").cast("date"))

    events_path = _events_path(warehouse)
    if table_format == "manifest":
        from habits_etl_spark.sinks.manifest import upsert_snapshot

        upsert_snapshot(
            spark,
            incoming,
            events_path,
            keys=EVENT_KEYS,
            set_cols=["value"],
            coalesce_cols=["notes"],
            keep_old_cols=["source", "event_date"],
        )
        return

    # The batch is read twice below (affected dates, then the merge): persist
    # it so the sheet is parsed, normalized and deduped once. It is the
    # bounded CronJob sheet, the precondition upsert_keyed already states.
    incoming = incoming.persist()
    try:
        affected = [r.event_date for r in incoming.select("event_date").distinct().collect()]
        if not os.path.exists(events_path):
            merged = incoming
        else:
            # partition-scoped merge: touch only the affected dates
            existing = (
                spark.read.schema(EVENTS_SCHEMA)
                .parquet(events_path)
                .filter(F.col("event_date").isin(affected))
            )
            merged = upsert_keyed(
                existing,
                incoming,
                keys=EVENT_KEYS,
                set_cols=["value"],
                coalesce_cols=["notes"],
                keep_old_cols=["source"],
            ).withColumn("event_date", F.col("ts").cast("date"))

        # An explicit task count, which AQE does not coalesce: each date
        # still hashes to one task (one file per partition), but the dates
        # are written on every core instead of one after another in one task.
        # The sort leads with the partition column, or the writer's own sort
        # by event_date replaces it and the key order within files is lost.
        tasks = max(1, min(len(affected), spark.sparkContext.defaultParallelism))
        (
            merged.repartition(tasks, "event_date")
            .sortWithinPartitions("event_date", "user_email", "habit", "ts")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("event_date")
            .parquet(events_path)
        )
    finally:
        incoming.unpersist()
