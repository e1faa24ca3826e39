"""Summarise the benchmark's runs.

    python3 perfbench/report.py [.perfbench_out/results.jsonl]

For each workload: every end-to-end metric's median, quartiles and
spread (inter-quartile distance over the median) across untraced runs;
the tracing overhead (median of traced runs minus median of untraced
runs); and which per-layer counts read exactly the same in every traced
run of the same seed.
"""

from __future__ import annotations

import json
import os
import sys
from collections import defaultdict

import stats
from metrics import PER_LAYER


def summarise(reports: list[dict]) -> dict:
    by = defaultdict(list)
    for r in reports:
        by[(r["workload"], r["trace"])].append(r)
    out: dict[str, dict] = {}
    for workload in sorted({w for w, _ in by}):
        plain, traced = by[(workload, 0)], by[(workload, 1)]
        summary: dict = {"runs": len(plain), "traced_runs": len(traced), "metrics": {}}
        names = plain[0]["metrics"] if plain else {}
        for name, m in names.items():
            values = [r["metrics"][name]["value"] for r in plain]
            q1, q2, q3 = stats.quartiles(values)
            row = {"unit": m["unit"], "median": q2, "q1": q1, "q3": q3,
                   "spread": stats.spread(values) if q2 else None}
            tv = [r["metrics"][name]["value"] for r in traced if name in r["metrics"]]
            if tv:
                row["trace_overhead"] = stats.median(tv) - q2
            summary["metrics"][name] = row
        summary["failed"] = sum(
            r["metrics"]["failed_ratio"]["value"] > 0 for r in plain + traced
        )
        by_seed = defaultdict(list)
        for r in traced:
            by_seed[r["seed"]].append(r["layers"])
        repeats, differ = set(), set()
        for layers in by_seed.values():
            if len(layers) < 2:
                continue
            for k, v in layers[0].items():
                if PER_LAYER[k] == "s":
                    continue
                (repeats if all(x.get(k) == v for x in layers) else differ).add(k)
        # a layer the workload never calls reads 0 in every run: not a
        # count a change could cite, so it is left out
        nonzero = {k for layers in by_seed.values() for x in layers for k, v in x.items() if v}
        summary["exact_counts"] = sorted((repeats - differ) & nonzero)
        summary["varying_counts"] = sorted(differ)
        out[workload] = summary
    return out


def main() -> int:
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(here, ".perfbench_out", "results.jsonl")
    with open(path) as f:
        reports = [json.loads(line) for line in f if line.strip()]
    print(json.dumps(summarise(reports), indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
