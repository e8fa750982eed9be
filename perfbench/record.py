"""Regenerate ``expected.json``: the row count of every query at each scale
the benchmark and its self-test use.

Usage, from the repository root: ``python3 perfbench/record.py [--pin]``.
Each workload runs in one fresh process, every query once, in name order. A
query that raises stops the recording.

``--pin`` also re-draws ``subsets.json`` from the full-result times of the
benchmark-scale pass (``workloads.subset``), sized so that each subset takes
about ``workloads.SIZED_FOR_S`` seconds. That changes which queries every run
times, so it belongs in a change to the benchmark alone.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import run as bench
from workloads import PINNED, SIZED_FOR_S, members, subset

SCALES = (bench.SF, 0.001)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--pin", action="store_true", help="also re-draw subsets.json")
    args = ap.parse_args()
    root = os.getcwd()
    sys.path.insert(0, root)
    groups = members()
    out: dict = {"rows": {}}
    cost: dict[str, float] = {}
    for sf in SCALES:
        rows = out["rows"][str(sf)] = {}
        for workload, names in groups.items():
            r = bench.Run(root)
            try:
                bench.fixtures.write(r.sf_dir, sf)
                res = r.worker({"names": names})
            finally:
                r.close()
            for rec in res["queries"]:
                if rec["error"]:
                    raise SystemExit(f"{rec['name']} failed at sf {sf}: {rec['error']}")
                rows[rec["name"]] = rec["rows"]
                if sf == bench.SF:
                    cost[rec["name"]] = rec["total_s"]
            print(f"# sf {sf} {workload}: {len(names)} queries, {sum(q['total_s'] for q in res['queries']):.1f}s", file=sys.stderr)
    with open(bench.EXPECTED, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    if args.pin:
        pins = {}
        for workload, names in groups.items():
            mean = sum(cost[q] for q in names) / len(names)
            pins[workload] = subset(names, cost, round(SIZED_FOR_S / mean))
        with open(PINNED, "w") as f:
            json.dump(pins, f, indent=1, sort_keys=True)
            f.write("\n")


if __name__ == "__main__":
    main()
