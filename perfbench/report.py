"""Per-layer report: every per-layer metric, by name, for each workload,
from the latest traced run of each in .bench_out/.

    python3 perfbench/report.py
"""

import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def latest_traced(out_dir):
    found = {}
    for path in sorted(glob.glob(os.path.join(out_dir, "*-trace1.json")),
                       key=os.path.getmtime):
        with open(path) as f:
            rec = json.load(f)
        found[rec["record"]["workload"]] = rec
    return found


def main():
    found = latest_traced(os.path.join(os.getcwd(), ".bench_out"))
    workloads = [w for w in run.WORKLOADS if w in found]
    if not workloads:
        print("no traced runs in .bench_out/; run perfbench/run.py --trace 1 first",
              file=sys.stderr)
        return 1
    print("| metric | unit | " + " | ".join(
        f"{w} (seed {found[w]['environment']['seed']})" for w in workloads) + " |")
    print("|---|---|" + "---|" * len(workloads))
    for name, unit in run.PER_LAYER.items():
        vals = [found[w]["result"]["metrics"][name]["value"] for w in workloads]
        print(f"| `{name}` | {unit} | " + " | ".join(f"{v:.6g}" for v in vals) + " |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
