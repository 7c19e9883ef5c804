"""Steadiness report over saved run outputs.

    python3 perfbench/steadiness.py runs/*.out

Each file holds the stdout of one ``perfbench/run.py`` run. Runs are
grouped by workload and by traced or untraced. For every metric the
report prints the median, the quartiles (``statistics.quantiles(n=4)``)
and the spread: the distance between the quartiles divided by the
median. It flags every end-to-end metric whose spread exceeds
``FLAG_SPREAD``, prints the box's ``calibration.spark_s`` the same way
(ungated: it shows drift of the box, not of the program), and flags
runs of one workload and seed whose output hashes differ. A group with
both traced and untraced runs also gets the tracing overhead: the
traced passes' ``rows_per_s`` against the untraced runs'.

Exit code 1 when anything is flagged or a run was not correct.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from collections import defaultdict

FLAG_SPREAD = 0.1


def load(path: str) -> dict:
    lines = [ln for ln in open(path).read().splitlines() if ln.startswith("{")]
    if not lines:  # the run printed no result
        return {"path": path, "result": {"correct": False, "metrics": {}}, "detail": {}}
    result = json.loads(lines[-1])
    detail = next(
        (json.loads(ln)["detail"] for ln in reversed(lines[:-1]) if ln.startswith('{"detail"')),
        {},
    )
    return {"path": path, "result": result, "detail": detail}


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median)."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def main(paths: list[str]) -> int:
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(os.path.dirname(here), "BENCHMARK.json")) as f:
        end_to_end = {m["name"] for m in json.load(f)["end_to_end"]}
    runs = [load(p) for p in paths]
    groups: dict[tuple, list[dict]] = defaultdict(list)
    for r in runs:
        traced = "rows_per_s" not in r["result"]["metrics"]
        groups[(r["detail"].get("workload", "?"), traced)].append(r)

    flagged = False
    for r in runs:
        if not r["result"]["correct"]:
            flagged = True
            print(f"NOT CORRECT: {r['path']}: {r['detail'].get('errors')}")
    for (workload, traced), rs in sorted(groups.items()):
        print(f"\n{workload} ({'traced' if traced else 'untraced'}, {len(rs)} runs)")
        print(f"  {'metric':40s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s}")
        series = defaultdict(list)
        for r in rs:
            for name, m in r["result"]["metrics"].items():
                series[name].append(m["value"])
            cal = (r["detail"].get("calibration") or {}).get("spark_s")
            if cal is not None:
                series["calibration.spark_s"].append(cal)
        for name, values in series.items():
            med, q1, q3, s = spread(values)
            flag = name in end_to_end and name != "setup_s" and s > FLAG_SPREAD
            flagged |= flag
            print(f"  {name:40s} {med:12.4f} {q1:12.4f} {q3:12.4f} {s:8.3f}"
                  f"{'  <-- spread > %.2f' % FLAG_SPREAD if flag else ''}")
        by_seed = defaultdict(set)
        for r in rs:
            d = r["detail"]
            for p in d.get("passes", []):
                by_seed[(d.get("seed"), d.get("size"))].add(
                    json.dumps(p["digests"], sort_keys=True))
        for (seed, size), digests in sorted(by_seed.items()):
            if len(digests) > 1:
                flagged = True
                print(f"  outputs differ between runs of seed {seed} ({size})")
        untraced = groups.get((workload, False))
        if traced and untraced:
            traced_rate = statistics.median(
                r["result"]["metrics"]["trace.rows_per_s"]["value"] for r in rs)
            base = statistics.median(
                r["result"]["metrics"]["rows_per_s"]["value"] for r in untraced)
            print(f"  tracing overhead: traced {traced_rate:.2f} vs untraced "
                  f"{base:.2f} rows/s ({base / traced_rate - 1:+.1%} wall)")
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
