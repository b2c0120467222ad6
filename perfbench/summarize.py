"""Summarize benchmark reports across runs (seeds).

    python3 perfbench/summarize.py [REPORT_DIR] [--out FILE]

Reads the per-run reports that run.py leaves in ``.perfbench_out/`` and
prints, per workload and metric, the median, the quartiles and the spread
(interquartile range over the median, from ``statistics.quantiles(n=4)``),
next to the metric's bound from BENCHMARK.json. Untraced runs give the
end-to-end metrics; traced runs give the per-layer metrics, the trace
coverage and the tracing overhead (traced wall_s minus untraced wall_s).
``--out`` writes the same summary as JSON.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys


def _stats(values: list[float]) -> dict:
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = med
    return {"n": len(values), "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0}


def summarize(report_dir: str, spec: dict) -> dict:
    runs: dict[tuple[str, int], list[dict]] = {}
    for path in sorted(glob.glob(os.path.join(report_dir, "*.json"))):
        with open(path) as fh:
            r = json.load(fh)
        runs.setdefault((r["workload"], r["trace"]), []).append(r)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    out: dict = {}
    for (workload, trace), rs in sorted(runs.items()):
        w = out.setdefault(workload, {})
        names = sorted({k for r in rs for k in r["metrics"]})
        key = "traced" if trace else "untraced"
        w[key] = {
            "runs": len(rs),
            "seeds": sorted(r["provenance"]["seed"] for r in rs),
            "failed": sum(r["failed"] for r in rs),
            "attempted": sum(r["attempted"] for r in rs),
            "failures": [f for r in rs for f in r["failures"]],
            "steal_share": _stats([r["provenance"].get("steal_share", 0.0) for r in rs]),
            "metrics": {
                n: {**_stats([r["metrics"][n]["value"] for r in rs if n in r["metrics"]]),
                    "unit": rs[0]["metrics"].get(n, {}).get("unit"),
                    "bound": bounds.get(n)}
                for n in names
            },
        }
        if trace:
            tr = [r["coverage"] for r in rs if "coverage" in r]
            w[key]["trace"] = {
                "unattributed_share_max": max(t["unattributed_share"] for t in tr),
                "tolerance": tr[0]["tolerance"],
                "traced_wall_s": statistics.median(t["traced_wall_s"] for t in tr),
            }
        w["provenance"] = {k: v for k, v in rs[0]["provenance"].items()
                           if k not in ("seed", "fixture", "steal_share")}
    for w in out.values():
        if "traced" in w and "untraced" in w and "wall_s" in w["untraced"]["metrics"]:
            untraced = w["untraced"]["metrics"]["wall_s"]["median"]
            w["tracing_overhead_s"] = w["traced"]["trace"]["traced_wall_s"] - untraced
    return out


def main(argv: list[str]) -> int:
    out_file = None
    if "--out" in argv:
        i = argv.index("--out")
        out_file = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    report_dir = argv[0] if argv else ".perfbench_out"
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    summary = summarize(report_dir, spec)
    for workload, w in summary.items():
        for key in ("untraced", "traced"):
            if key not in w:
                continue
            s = w[key]
            print(f"{workload} {key}: {s['runs']} runs, {s['failed']}/{s['attempted']} failed, "
                  f"median steal share {s['steal_share']['median']:.3f}")
            for name, m in s["metrics"].items():
                bound = f"  bound {m['bound']}" if m["bound"] is not None else ""
                print(f"  {name:34s} {m['median']:>14.6g} {m['unit'] or '':6s} "
                      f"q1 {m['q1']:.6g} q3 {m['q3']:.6g} spread {m['spread']:.3f}{bound}")
            if "trace" in s:
                print(f"  trace: {s['trace']}")
        if "tracing_overhead_s" in w:
            print(f"  tracing overhead on wall_s: {w['tracing_overhead_s']:.3f} s")
    if out_file:
        with open(out_file, "w") as fh:
            json.dump(summary, fh, indent=1, sort_keys=True)
            fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
