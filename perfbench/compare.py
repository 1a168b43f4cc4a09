"""Compare two sets of benchmark results, metric by metric.

    python3 perfbench/compare.py BASE NEW

BASE and NEW are result files written by `perfbench/run.py` (under
`<build dir>/results/result-*.json`) or directories of them. Results are
grouped by workload and trace mode; each metric's median over the runs of
a group is compared, NEW / BASE. Results from hosts with different cpu
counts (or different local[N]) are refused: their times are not
comparable.
"""
import glob
import json
import os
import statistics
import sys


def load(path):
    files = sorted(glob.glob(os.path.join(path, "result-*.json"))) if os.path.isdir(path) \
        else [path]
    if not files:
        sys.exit(f"compare: no result files in {path}")
    return [json.load(open(f)) for f in files]


def medians(results):
    groups = {}
    for r in results:
        key = (r["stamp"]["workload"], r["stamp"]["trace"])
        metrics = r["per_layer"] if r["stamp"]["trace"] else r["metrics"]
        for k, v in (metrics or {}).items():
            if v is not None:
                groups.setdefault(key, {}).setdefault(k, []).append(v)
    return {g: {k: statistics.median(v) for k, v in m.items()} for g, m in groups.items()}


def cpus(results):
    return {(r["stamp"]["nproc"], r["stamp"]["local_n"]) for r in results}


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    base, new = load(sys.argv[1]), load(sys.argv[2])
    cb, cn = cpus(base), cpus(new)
    if len(cb | cn) != 1:
        sys.exit(f"compare: refusing to compare results from different cpu counts "
                 f"(nproc, local[N]): base {sorted(cb)}, new {sorted(cn)}")
    mb, mn = medians(base), medians(new)
    for group in sorted(set(mb) & set(mn)):
        print(f"{group[0]} ({'traced' if group[1] else 'untraced'})")
        for k in sorted(set(mb[group]) & set(mn[group])):
            b, n = mb[group][k], mn[group][k]
            ratio = f"{n / b:.3f}" if b else "n/a"
            print(f"  {k:40s} {b:14.6g} -> {n:14.6g}   x{ratio}")


if __name__ == "__main__":
    main()
