"""Tests of the benchmark's own generators and counter readers.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen  # noqa: E402
from perfbench.measure import (  # noqa: E402
    Tracer,
    metric_total,
    quantile,
    tail,
    tree_files,
    written_bytes,
)


def _digest(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def test_star_tables_byte_identical_per_seed(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    gen.write_star_tables(str(a), 7, 0.001)
    gen.write_star_tables(str(b), 7, 0.001)
    gen.write_star_tables(str(c), 8, 0.001)
    names = sorted(os.listdir(a))
    assert len(names) == 10
    assert [_digest(a / n) for n in names] == [_digest(b / n) for n in names]
    assert [_digest(a / n) for n in names] != [_digest(c / n) for n in names]


def test_star_tables_sizes_follow_scale():
    t = gen.star_tables(1, 0.001)
    assert {k: v.num_rows for k, v in t.items()} == gen.star_sizes(0.001)
    assert t["lineitem"].num_rows == 6000


def _sheet(seed: int) -> gen.SheetGenerator:
    return gen.SheetGenerator(seed, users=5, initial_days=12, days_per_send=2)


def test_sheet_byte_identical_per_seed_across_sends():
    a, b = _sheet(3), _sheet(3)
    for _ in range(3):
        assert a.csv_bytes() == b.csv_bytes()
        a.grow()
        b.grow()
    assert a.csv_bytes() == b.csv_bytes()
    assert _sheet(4).csv_bytes() != _sheet(3).csv_bytes()


def test_sheet_grows_and_edits_between_sends():
    s = _sheet(5)
    first = s.csv_bytes().decode().splitlines()
    s.grow()
    second = s.csv_bytes().decode().splitlines()
    assert len(second) > len(first)
    changed = [i for i, line in enumerate(first) if second[i] != line]
    assert changed, "an edit or a cleared note must change an earlier row"


def test_sheet_carries_the_edge_rows():
    s = gen.SheetGenerator(11, users=20, initial_days=40, days_per_send=1)
    cells = [r.cells for r in s.rows]
    dates = [c["Report Date"] for c in cells]
    assert any(d.isdigit() for d in dates)  # serial
    assert any("/" in d for d in dates) and any("," in d for d in dates)
    assert any(c["Email Address"] == "" for c in cells)
    assert any(c["Report Date"] == "" for c in cells)
    assert any(c["Email Address"] != c["Email Address"].strip().lower()
               for c in cells if c["Email Address"])
    habit_cells = [c[h] for c in cells for h in gen.HABIT_COLUMNS]
    assert "" in habit_cells
    assert any(v in ("n/a", "seven", "-", "?") for v in habit_cells)
    lines = s.csv_bytes().splitlines()
    assert len(lines) > len(set(lines))  # exact duplicate submissions


def test_sheet_truth_last_writer_wins_and_notes_coalesce():
    s = _sheet(9)
    truth = gen.SheetTruth()
    truth.apply(s)
    last = {}
    for r in s.rows:  # the last row of a key in file order wins
        if r.user and r.day:
            for hid, val in r.values.items():
                last[(r.user, hid, gen.noon_utc(r.day))] = val
    assert {k: v[0] for k, v in truth.events.items()} == last
    assert any(v[1] for v in truth.events.values())
    # clear every note: the stored notes must survive (coalesce)
    before = dict(truth.events)
    for r in s.rows:
        r.cells["Notes"] = ""
    truth.apply(s)
    assert {k: v[1] for k, v in truth.events.items()} == {k: v[1] for k, v in before.items()}
    # dropped rows never reach the table
    assert all(k[0] is not None for k in truth.events)


def test_noon_anchor_matches_the_engine_golden_case():
    import datetime as dt

    assert gen.noon_utc(dt.date(2025, 8, 22)) == dt.datetime(2025, 8, 22, 17, 0)


def test_stream_batches_byte_identical_and_late_share():
    a = gen.stream_event_batch(1, 5, 2000, 10, current_day=20, late_share=0.2, late_span=10)
    b = gen.stream_event_batch(1, 5, 2000, 10, current_day=20, late_share=0.2, late_span=10)
    c = gen.stream_event_batch(1, 6, 2000, 10, current_day=20, late_share=0.2, late_span=10)
    assert a.equals(b) and not a.equals(c)
    days = a.column("ts").cast("int64").to_numpy() // gen.DAY_US
    current = (gen._epoch_us(gen.STREAM_START) // gen.DAY_US) + 20
    late = (days < current).mean()
    assert 0.15 < late < 0.25
    assert days.min() >= current - 10


def test_quantile_and_tail():
    xs = list(range(1, 101))
    assert quantile(xs, 0.5) == 50.5
    v, pct, n = tail([float(x) for x in xs])
    assert (pct, n) == (90.0, 100) and v == pytest.approx(90.1)
    v, pct, n = tail([1.0, 2.0, 3.0])
    assert (v, pct, n) == (2.0, 50.0, 3)


def test_metric_total_parses_sql_metric_displays():
    assert metric_total("776") == 776
    assert metric_total("1,234") == 1234
    assert metric_total("total (min, med, max (stageId: taskId))\n20.0 KiB (1.0 KiB, ...)") \
        == 20 * 1024
    assert metric_total("total (min, med, max (stageId: taskId))\n1.5 s (0 ms, ...)") == 1.5
    assert metric_total("250 ms") == 0.25


def test_tracer_self_times_sum_to_root():
    tr = Tracer(True)
    with tr.span("root", op="x"):
        with tr.span("a"):
            pass
        with tr.span("b"):
            with tr.span("c"):
                pass
    selfs = tr.self_times()
    root = tr.spans[0]
    assert sum(selfs.values()) == pytest.approx(root.end - root.start)
    assert all(s.op == "x" for s in tr.spans)
    off = Tracer(False)
    with off.span("root"):
        pass
    assert off.spans == []


def test_written_bytes_counts_new_and_replaced_files(tmp_path):
    (tmp_path / "keep.parquet").write_bytes(b"x" * 10)
    (tmp_path / "swap.parquet").write_bytes(b"y" * 5)
    before = tree_files(str(tmp_path))
    os.remove(tmp_path / "swap.parquet")
    (tmp_path / "swap.parquet").write_bytes(b"z" * 7)
    os.utime(tmp_path / "swap.parquet", ns=(1, 1))
    (tmp_path / "new.parquet").write_bytes(b"w" * 3)
    (tmp_path / "_SUCCESS").write_bytes(b"")
    assert written_bytes(before, tree_files(str(tmp_path))) == 10


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    pyspark = pytest.importorskip("pyspark")
    del pyspark
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[2]").appName("perfbench-test")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "2").getOrCreate())
    yield s
    s.stop()


def test_status_reader_counts_jobs_shuffle_and_writes(spark, tmp_path):
    from perfbench.measure import StatusReader, planning_phases

    st = StatusReader(spark)
    mark = st.mark()
    df = spark.range(10_000).selectExpr("id % 7 AS k", "id AS v").groupBy("k").count()
    phases = planning_phases(df)
    assert {"analysis", "optimization", "planning"} <= set(phases)
    df.write.mode("overwrite").parquet(str(tmp_path / "out"))
    tot = st.stages(mark)
    assert tot["jobs"] >= 1 and tot["tasks"] >= 1
    assert tot["shuffle_records"] > 0
    execs = st.executions(mark)
    writes = [e for e in execs if e["writes"]]
    assert len(writes) == 1 and "out" in writes[0]["writes"][0]
    assert writes[0]["write"]["number of output rows"] == 7
    assert writes[0]["write"]["number of written files"] >= 1
    assert writes[0]["scan"] == {}  # spark.range is not a file scan
    assert st.executions(st.mark()) == []
