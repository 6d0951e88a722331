"""Summarize run records into a baseline: per workload and metric, the
median over runs and the spread (interquartile range over the median).
Traced runs carry the tracing overhead as the ``trace.overhead_ms`` metric.

    python3 perfbench/summarize.py perfbench/results/<commit>_c<cpus> > baseline.json
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys


def summarize(records: list[dict]) -> dict:
    out: dict = {}
    for r in records:
        w = out.setdefault(r["workload"], {"runs": {}, "metrics": {}})
        kind = "trace" if r["trace"] else "plain"
        w["runs"][kind] = w["runs"].get(kind, 0) + 1
        for name, value in r["metrics"].items():
            w["metrics"].setdefault(name, []).append(value)
        w.setdefault("failed_units", 0)
        w["failed_units"] += sum(bool(u["problems"]) for u in r["units"])
    for w in out.values():
        for name, values in w["metrics"].items():
            med = statistics.median(values)
            row = {"median": med, "n": len(values), "min": min(values), "max": max(values)}
            if len(values) >= 2 and med:
                q = statistics.quantiles(values, n=4)
                row["spread"] = (q[2] - q[0]) / med
            w["metrics"][name] = row
    return out


def main(argv: list[str]) -> int:
    records = []
    for path in sorted(glob.glob(os.path.join(argv[0], "*.json"))):
        with open(path) as f:
            records.append(json.load(f))
    if not records:
        print(f"no run records in {argv[0]}", file=sys.stderr)
        return 1
    keys = {k: sorted({str(r[k]) for r in records})
            for k in ("commit", "source_sha256", "cpus", "nproc", "pyspark")}
    json.dump({"identity": keys, "workloads": summarize(records)}, sys.stdout, indent=1)
    print()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
