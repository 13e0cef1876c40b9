"""Compare two sets of benchmark results; refuse when their
environments differ.

    python3 perfbench/compare.py A1.json A2.json ... -- B1.json B2.json ...

Each file is a record ``perfbench/run.py`` wrote under
``perfbench/.work/results``. Both sides must cover the same
(workload, seed, trace) runs, and every such run must have recorded the
same environment on both sides, the source revision aside. Otherwise
the comparison is refused with exit code 3. For each workload and
metric it prints each side's median and quartiles and the ratio of the
medians, B over A.
"""

from __future__ import annotations

import json
import statistics
import sys

# environment fields that must match for an A/B comparison to mean anything
SAME = (
    "workload",
    "seed",
    "seconds",
    "trace",
    "cores",
    "master",
    "input_rows",
    "sizes",
    "shuffle_partitions",
    "shuffle_dir",
    "shuffle_fs",
    "driver_memory",
    "spark_version",
)


def _load(paths: list[str]) -> dict[tuple, dict]:
    runs: dict[tuple, dict] = {}
    for path in paths:
        with open(path) as f:
            rec = json.load(f)
        env = rec["env"]
        key = (env["workload"], env["seed"], env["trace"])
        if key in runs:
            raise SystemExit(f"{path}: a second run of {key} on one side")
        runs[key] = rec
    return runs


def _differences(a: dict, b: dict) -> list[str]:
    if a.keys() != b.keys():
        return [f"runs only on one side: {sorted(a.keys() ^ b.keys())}"]
    out = []
    for key in sorted(a):
        for field in SAME:
            va, vb = a[key]["env"].get(field), b[key]["env"].get(field)
            if va != vb:
                out.append(f"{key}: {field} differs: {va!r} vs {vb!r}")
    return out


def _quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def main(argv: list[str]) -> int:
    if "--" not in argv:
        print(__doc__, file=sys.stderr)
        return 2
    cut = argv.index("--")
    a, b = _load(argv[:cut]), _load(argv[cut + 1:])
    problems = _differences(a, b)
    if problems:
        print("refusing to compare:", *problems, sep="\n  ", file=sys.stderr)
        return 3
    for workload in sorted({k[0] for k in a}):
        keys = [k for k in a if k[0] == workload]
        metrics = a[keys[0]]["result"]["metrics"]
        print(f"{workload} ({len(keys)} runs per side)")
        for name, m in metrics.items():
            va = [a[k]["result"]["metrics"][name]["value"] for k in keys]
            vb = [b[k]["result"]["metrics"][name]["value"] for k in keys]
            qa, qb = _quartiles(va), _quartiles(vb)
            ratio = qb[1] / qa[1] if qa[1] else float("nan")
            print(
                f"  {name:<36} A {qa[1]:.6g} [{qa[0]:.6g}, {qa[2]:.6g}]"
                f"  B {qb[1]:.6g} [{qb[0]:.6g}, {qb[2]:.6g}]  B/A {ratio:.4f}"
                f"  {m['unit']}"
            )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
