#!/usr/bin/env python3
"""Compare two sets of benchmark results, workload by workload.

    python3 perfbench/compare.py BASE.jsonl NEW.jsonl

Each file holds result records as ``run.py`` appends them to
``.perfbench/results.jsonl``. Prints, per workload and metric, each side's
median and quartile spread and the change of the medians. Refuses (exit
code 2) when the records were taken on different hosts or core counts, or
with different run lengths.
"""

import json
import statistics
import sys

MUST_MATCH = ("host", "nproc", "master")


def load(path: str) -> list:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def summary(values: list) -> tuple:
    med = statistics.median(values)
    if len(values) < 2:
        return med, 0.0
    q = statistics.quantiles(values, n=4)
    return med, (q[2] - q[0]) / med if med else 0.0


def main(argv: list) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 1
    base, new = load(argv[0]), load(argv[1])
    envs = {tuple(r["env"][k] for k in MUST_MATCH) for r in base + new}
    seconds = {r["seconds"] for r in base + new}
    if len(envs) > 1 or len(seconds) > 1:
        print(f"refusing to compare: hosts/core counts {sorted(envs)}, run seconds {sorted(seconds)}",
              file=sys.stderr)
        return 2
    for other in ("spark", "python", "numpy", "pyarrow", "pandas"):
        if len({r["env"][other] for r in base + new}) > 1:
            print(f"warning: {other} versions differ between the records", file=sys.stderr)

    def grouped(records):
        out: dict = {}
        for r in records:
            for name, m in r["metrics"].items():
                out.setdefault((r["workload"], r["trace"], name, m["unit"]), []).append(m["value"])
        return out

    a, b = grouped(base), grouped(new)
    print(f"{'workload':16} {'metric':34} {'base median':>14} {'spread':>7} "
          f"{'new median':>14} {'spread':>7} {'change':>8}  unit")
    for key in sorted(set(a) & set(b)):
        workload, _, name, unit = key
        ma, sa = summary(a[key])
        mb, sb = summary(b[key])
        change = (mb - ma) / ma if ma else 0.0
        print(f"{workload:16} {name:34} {ma:14.4f} {sa:7.3f} {mb:14.4f} {sb:7.3f} {change:+8.3f}  {unit}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
