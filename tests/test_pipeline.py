"""End-to-end ingest tests: idempotency (reference README.md:106 'safe
re-runs') and upsert semantics (reference etl/etl_habits.py:31-38)."""

from __future__ import annotations

import datetime as dt
import os

import pyarrow.parquet as pq
import pytest

from habits_etl_spark.config import PipelineConfig
from habits_etl_spark.pipeline import read_events_table, run_ingest

CFG = PipelineConfig.from_dict(
    {
        "date_column": "Report Date",
        "email_column": "Email Address",
        "timezone": "America/Chicago",
        "habits": {
            "Workout": {"id": "workout", "type": "bool"},
            "Mood": {"id": "mood_score", "type": "number"},
        },
        "notes_columns": ["Notes"],
    }
)

SCHEMA = "`Report Date` string, `Email Address` string, Workout string, Mood string, Notes string"


def wide(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def snapshot(spark, wh):
    df = read_events_table(spark, wh)
    return sorted(
        (r.user_email, r.habit, str(r.ts), r.value, r.notes, r.source) for r in df.collect()
    )


@pytest.fixture()
def wh(tmp_path):
    return str(tmp_path / "warehouse")


def test_ingest_idempotent(spark, wh):
    batch = wide(
        spark,
        [
            ("08/20/2025", "A@x.com", "Yes", "8", "good day"),
            ("08/21/2025", "a@x.com", "no", "5", None),
        ],
    )
    run_ingest(spark, batch, CFG, wh)
    s1 = snapshot(spark, wh)
    assert len(s1) == 4  # 2 rows x 2 habits
    run_ingest(spark, batch, CFG, wh)  # re-run: must be a no-op
    assert snapshot(spark, wh) == s1


def test_upsert_overwrites_value_keeps_notes(spark, wh):
    run_ingest(
        spark, wide(spark, [("08/20/2025", "a@x.com", "Yes", "8", "original note")]), CFG, wh
    )
    # resubmission: new value, no notes -> value updated, old notes survive
    run_ingest(spark, wide(spark, [("08/20/2025", "a@x.com", "No", "3", None)]), CFG, wh)
    s = {(r[1]): r for r in snapshot(spark, wh)}
    assert s["workout"][3] == 0.0
    assert s["mood_score"][3] == 3.0
    assert s["workout"][4] == "Notes: original note"  # COALESCE(new, old)


def test_intra_batch_last_writer_wins(spark, wh):
    batch = wide(
        spark,
        [
            ("08/20/2025", "a@x.com", "Yes", "8", None),
            ("08/20/2025", "a@x.com", "No", "2", "later row"),
        ],
    )
    run_ingest(spark, batch, CFG, wh)
    s = {r[1]: r for r in snapshot(spark, wh)}
    assert s["workout"][3] == 0.0  # last row in file order won
    assert s["mood_score"][3] == 2.0


def test_partition_scoped_merge_preserves_other_days(spark, wh):
    run_ingest(spark, wide(spark, [("08/20/2025", "a@x.com", "Yes", "8", None)]), CFG, wh)
    run_ingest(spark, wide(spark, [("08/21/2025", "a@x.com", "No", "1", None)]), CFG, wh)
    s1 = snapshot(spark, wh)
    # third ingest touches only 08/21; 08/20 rows must be byte-identical
    run_ingest(spark, wide(spark, [("08/21/2025", "a@x.com", "Yes", "9", None)]), CFG, wh)
    s2 = snapshot(spark, wh)
    day1 = [r for r in s1 if "2025-08-20" in r[2]]
    assert [r for r in s2 if "2025-08-20" in r[2]] == day1
    assert {r[3] for r in s2 if "2025-08-21" in r[2]} == {1.0, 9.0}


def test_landing_append_once(spark, wh):
    import os

    batch = wide(spark, [("08/20/2025", "a@x.com", "Yes", "8", "n1")])
    run_ingest(spark, batch, CFG, wh)
    run_ingest(spark, batch, CFG, wh)
    landing = spark.read.parquet(os.path.join(wh, "habits_raw"))
    assert landing.count() == 1  # duplicate payload landed once
    assert set(landing.columns) == {"row_hash", "ingested_at", "payload"}


def test_ingest_through_manifest_table(spark, wh):
    """table_format='manifest': the same reference upsert semantics, but
    every ingest is one atomic snapshot commit — a reader pinned before
    the second CronJob run keeps the first run's data."""
    from habits_etl_spark.sinks import manifest as M

    run_ingest(
        spark,
        wide(spark, [("08/20/2025", "a@x.com", "Yes", "8", "original note")]),
        CFG,
        wh,
        table_format="manifest",
    )
    table = f"{wh}/habit_events"
    pinned = M.read_snapshot(spark, table)
    v1 = M.current_manifest(table)["version"]

    run_ingest(
        spark,
        wide(spark, [("08/20/2025", "a@x.com", "No", "3", None)]),
        CFG,
        wh,
        table_format="manifest",
    )
    # merge semantics identical to the parquet path
    df = read_events_table(spark, wh, table_format="manifest")
    s = {r.habit: r for r in df.collect()}
    assert s["workout"].value == 0.0
    assert s["mood_score"].value == 3.0
    assert s["workout"].notes == "Notes: original note"
    assert all(r.source == "sheets" for r in df.collect())
    # snapshot isolation across CronJob runs
    assert M.current_manifest(table)["version"] == v1 + 1
    assert {r.habit: r.value for r in pinned.collect()}["workout"] == 1.0


def test_upsert_keyed_null_key_contract(spark):
    """Pin the non-null-key contract of upsert_keyed (r14 rewrite to a
    FULL OUTER join, VERDICT r14 finding #3): NULL keys never satisfy a
    join's equality predicate, so a NULL-key row present on both sides
    surfaces as TWO rows — the documented behavior of the join form (the
    pre-r14 groupBy form merged them, since grouping treats NULLs as
    equal). Callers must enforce non-null keys upstream
    (flt_required_fields); this test makes a silent divergence at a
    future call site visible instead of latent."""
    from habits_etl_spark.sinks.upsert import upsert_keyed

    existing = spark.createDataFrame(
        [(None, "old", "old-note"), ("k1", "old", None)],
        "k string, v string, notes string",
    )
    incoming = spark.createDataFrame(
        [(None, "new", None), ("k1", "new", "n2")],
        "k string, v string, notes string",
    )
    out = upsert_keyed(existing, incoming, ["k"], ["v"], ["notes"])
    rows = [(r.k, r.v, r.notes) for r in out.collect()]
    # non-null key merges: set_col takes incoming, coalesce_col takes the
    # non-null incoming value
    assert rows.count(("k1", "new", "n2")) == 1
    # NULL keys do NOT merge: both sides' NULL-key rows survive separately
    null_rows = sorted((v, n) for k, v, n in rows if k is None)
    assert null_rows == [("new", None), ("old", "old-note")]
    assert len(rows) == 3


def test_upsert_keyed_duplicate_incoming_fans_out(spark):
    """Pin the second half of the contract: the join form FANS OUT when
    the incoming side has duplicate keys (the groupBy form collapsed
    them) — so callers that cannot guarantee uniqueness must run
    dedup_batch first, as the docstring requires."""
    from habits_etl_spark.sinks.upsert import upsert_keyed

    existing = spark.createDataFrame([("k1", "old", "keep")], "k string, v string, notes string")
    incoming = spark.createDataFrame(
        [("k1", "a", None), ("k1", "b", None)], "k string, v string, notes string"
    )
    out = upsert_keyed(existing, incoming, ["k"], ["v"], ["notes"])
    rows = sorted((r.k, r.v, r.notes) for r in out.collect())
    assert rows == [("k1", "a", "keep"), ("k1", "b", "keep")]


def _persisted_rdds(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


@pytest.mark.parametrize("later_row", ["removed", "blanked"])
def test_whole_sheet_resend_reapplies_earlier_row(spark, wh, later_row):
    """The reference re-applies every sheet row on every run. A day
    re-submitted with new values, whose later row is then removed from the
    sheet or has its cells blanked, gets the earlier row's values back:
    the earlier row is upserted again and nothing later overrides it."""
    first = ("08/20/2025", "a@x.com", "Yes", "8", None)
    later = ("08/20/2025", "a@x.com", "No", "3", None)
    run_ingest(spark, wide(spark, [first]), CFG, wh)
    run_ingest(spark, wide(spark, [first, later]), CFG, wh)
    assert {r[1]: r[3] for r in snapshot(spark, wh)} == {"workout": 0.0, "mood_score": 3.0}

    if later_row == "removed":
        resend = [first]
    else:
        resend = [first, ("08/20/2025", "a@x.com", "", "  ", None)]
    run_ingest(spark, wide(spark, resend), CFG, wh)
    assert {r[1]: r[3] for r in snapshot(spark, wh)} == {"workout": 1.0, "mood_score": 8.0}


def test_resend_of_every_date_past_the_parallel_listing_threshold(spark, wh, tmp_path):
    """A whole-sheet re-send over more date partitions than Spark lists
    serially: the merged table equals a from-scratch ingest of the final
    sheet, every date partition holds one file sorted by key, and no
    cached batch outlives the call."""
    days = [dt.date(2025, 6, 1) + dt.timedelta(days=d) for d in range(40)]
    assert len(days) > int(spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold"))

    def sheet(edit):
        rows = [(d, u) for d in days for u in ("a@x.com", "b@x.com")]
        return wide(
            spark,
            [
                (f"{d:%m/%d/%Y}", u, "Yes" if (i + edit) % 2 else "No", str(i % 10 + edit), f"n{i}")
                for i, (d, u) in enumerate(rows)
            ],
        )

    before = _persisted_rdds(spark)
    run_ingest(spark, sheet(0), CFG, wh)
    run_ingest(spark, sheet(1), CFG, wh)
    assert _persisted_rdds(spark) == before

    fresh = str(tmp_path / "fresh")
    run_ingest(spark, sheet(1), CFG, fresh)
    assert snapshot(spark, wh) == snapshot(spark, fresh)

    table = os.path.join(wh, "habit_events")
    parts = [d for d in os.listdir(table) if d.startswith("event_date=")]
    assert len(parts) == len(days)
    for d in parts:
        files = [f for f in os.listdir(os.path.join(table, d)) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)
        rows = pq.read_table(os.path.join(table, d, files[0])).to_pylist()
        keys = [(r["user_email"], r["habit"], r["ts"]) for r in rows]
        assert keys == sorted(keys), d  # the file keeps the key order


@pytest.mark.parametrize("table_format", ["parquet", "manifest"])
def test_ingest_leaves_no_persisted_storage(spark, wh, monkeypatch, table_format):
    """run_ingest releases every batch it caches: after a first load, after
    a merge, and when the merge raises."""
    from habits_etl_spark import pipeline
    from habits_etl_spark.sinks import upsert

    before = _persisted_rdds(spark)
    batch = wide(spark, [("08/20/2025", "a@x.com", "Yes", "8", None)])
    run_ingest(spark, batch, CFG, wh, table_format=table_format)
    run_ingest(spark, batch, CFG, wh, table_format=table_format)
    assert _persisted_rdds(spark) == before

    def boom(*args, **kwargs):
        raise RuntimeError("merge failed")

    monkeypatch.setattr(pipeline, "upsert_keyed", boom)
    monkeypatch.setattr(upsert, "upsert_keyed", boom)
    with pytest.raises(RuntimeError, match="merge failed"):
        run_ingest(spark, batch, CFG, wh, table_format=table_format)
    assert _persisted_rdds(spark) == before


def test_run_ingest_keeps_the_session_overwrite_mode(spark, wh):
    """The dynamic partition overwrite is an option of run_ingest's own
    write: a caller's later overwrite keeps the session's static mode."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prior = spark.conf.get(key)
    spark.conf.set(key, "STATIC")
    try:
        run_ingest(spark, wide(spark, [("08/20/2025", "a@x.com", "Yes", "8", None)]), CFG, wh)
        run_ingest(spark, wide(spark, [("08/21/2025", "a@x.com", "No", "1", None)]), CFG, wh)
        assert spark.conf.get(key) == "STATIC"
        assert len(snapshot(spark, wh)) == 4  # the second write kept the first day
    finally:
        spark.conf.set(key, prior)
