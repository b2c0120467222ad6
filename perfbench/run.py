"""The repo benchmark. Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 20 --trace 0

``--trace 0`` measures the end-to-end metrics; ``--trace 1`` is the
separate traced run that reports the per-layer metrics. The last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``; the line before it is the full report (every
metric with unit and n, failures with causes, conf changes, provenance).
Everything the run writes stays under ``.perfbench_work/`` (removed at
exit) and ``.perfbench_out/`` (reports and span dumps) in the checkout.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))  # the checkout
sys.path.insert(0, ROOT)

DRIVER_MEMORY = "3g"


def _parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _hygiene(work: str) -> None:
    """Environment for a self-contained run: all cores, no progress bars,
    every scratch path inside the checkout."""
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count())
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell'
    )


def _stop(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # the JVM ignored its closed stdin
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str]) -> int:
    args = _parse(argv)
    try:
        import habits_etl_spark  # noqa: F401 - the program under test
        from perfbench import measure, workloads
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _hygiene(work)
    from habits_etl_spark.session import get_spark

    spark = None
    ticks = measure.cpu_ticks()
    try:
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        start_s = time.perf_counter() - t0
        ctx = workloads.Ctx(spark, work, args.seed, args.seconds, bool(args.trace), start_s)
        res = workloads.WORKLOADS[args.workload](ctx)
        prov = measure.provenance(spark, ROOT, args.seed, res.info.get("fixture", {}))
        prov["steal_share"] = measure.steal_share(ticks, measure.cpu_ticks())
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    spec = _spec()["end_to_end" if not args.trace else "per_layer"]
    names = [m["name"] for m in spec]
    if args.trace:  # a layer the workload never calls did no work in it
        for m in spec:
            res.metrics.setdefault(m["name"], measure.metric(0.0, m["unit"], 0,
                                                             note="layer not called"))
    res.metrics["fail_ratio"] = measure.metric(res.failed / max(res.attempted, 1), "ratio",
                                               res.attempted)
    report = {
        "workload": args.workload, "trace": args.trace, "seconds": args.seconds,
        "metrics": res.metrics, "attempted": res.attempted, "failed": res.failed,
        "failures": res.failures, "provenance": prov,
        **{k: v for k, v in res.info.items() if k != "spans"},
    }
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, f"{stem}.json"), "w") as fh:
        json.dump({**report, "spans": res.info.get("spans", [])}, fh, default=str)

    missing = [n for n in names if n not in res.metrics]
    if missing:
        print(f"perfbench: workload {args.workload} did not report {missing}", file=sys.stderr)
        return 3
    print(json.dumps(report, default=str))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {n: {"value": res.metrics[n]["value"], "unit": res.metrics[n]["unit"]}
                    for n in names},
    }))
    return 0


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
