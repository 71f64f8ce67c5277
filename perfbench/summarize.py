"""Summarise this checkout's benchmark runs into a baseline record.

    python3 perfbench/summarize.py [--out FILE] [workload ...]

Reads the run records ``perfbench/run.py`` left in ``.perfbench/results/``
and prints, per workload, the untraced runs' end-to-end metrics and the
traced runs' per-layer metrics: median, quartiles and spread (quartile
distance over the median), with the seeds and the host record of the
runs.  ``perfbench/BASELINE.json`` was written this way.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
RESULTS = os.path.join(os.path.dirname(HERE), ".perfbench", "results")


def summarize(records: list[dict]) -> dict:
    metrics = records[0]["result"]["metrics"]
    out = {}
    for name, m in metrics.items():
        vals = [r["result"]["metrics"][name]["value"] for r in records]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        out[name] = {
            "unit": m["unit"],
            "median": med,
            "q1": q1,
            "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0,
        }
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("workloads", nargs="*")
    ap.add_argument("--out")
    args = ap.parse_args(argv)
    runs: dict[tuple[str, int], list[dict]] = {}
    for path in sorted(glob.glob(os.path.join(RESULTS, "*-seed*-trace*.json"))):
        with open(path) as f:
            rec = json.load(f)
        if not args.workloads or rec["workload"] in args.workloads:
            runs.setdefault((rec["workload"], rec["trace"]), []).append(rec)
    if not runs:
        print(f"no run records in {RESULTS}", file=sys.stderr)
        return 1
    summary: dict[str, dict] = {}
    for (w, trace), recs in sorted(runs.items()):
        summary.setdefault(w, {})["per_layer" if trace else "end_to_end"] = {
            "runs": len(recs),
            "seeds": sorted(r["host"]["seed"] for r in recs),
            "seconds": recs[0]["seconds"],
            "failed_ops": sum(r["result"]["failed"] for r in recs),
            "host": {
                k: v for k, v in recs[0]["host"].items() if k not in ("seed", "scratch_used")
            },
            "metrics": summarize(recs),
        }
    text = json.dumps(summary, indent=1)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")
    else:
        print(text)
    return 0


if __name__ == "__main__":
    sys.exit(main())
