#!/usr/bin/env python3
"""Compare two sets of benchmark results, workload by workload.

    python3 perfbench/compare.py BASE NEW

BASE and NEW are directories (or single files) of result records written
by run.py. Results pair by their run record: session confs, cores, heap,
JVM and Spark versions, workload, seed, run length, trace flag and input
sizes. A result with no partner of identical record is refused, and the
comparison exits non-zero: numbers measured under different settings or on
different inputs are not comparable. For each workload and metric it
prints both medians, the new/base ratio, each side's quartile spread as a
share of its median, and whether the new median is within the metric's
bound from BENCHMARK.json.
"""
import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def load(arg):
    p = Path(arg)
    files = sorted(p.glob("*.json")) if p.is_dir() else [p]
    return [json.loads(f.read_text()) | {"_file": str(f)} for f in files]


def key(r):
    return json.dumps(r["record"], sort_keys=True)


def spread(xs):
    if len(xs) < 2:
        return float("nan")
    q = statistics.quantiles(xs, n=4)
    return (q[2] - q[0]) / statistics.median(xs)


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    base, new = load(sys.argv[1]), load(sys.argv[2])
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    new_by = {}
    for r in new:
        new_by.setdefault(key(r), []).append(r)
    pairs, refused = [], []
    for b in base:
        match = new_by.get(key(b))
        if match:
            pairs.append((b, match.pop()))
        else:
            refused.append(b["_file"])
    refused += [r["_file"] for rs in new_by.values() for r in rs]
    if refused:
        print("refused: no result with an identical record for", *refused, sep="\n  ")
        sys.exit(1)
    by_wl = {}
    for b, n in pairs:
        by_wl.setdefault((b["record"]["workload"], b["record"]["trace"]), []).append((b, n))
    worse = False
    for (wl, trace), ps in sorted(by_wl.items()):
        print(f"== {wl} (trace {trace}, {len(ps)} pairs)")
        for name in ps[0][0]["metrics"]:
            xs = [b["metrics"][name]["value"] for b, _ in ps]
            ys = [n["metrics"][name]["value"] for _, n in ps]
            mb, mn = statistics.median(xs), statistics.median(ys)
            ratio = mn / mb if mb else float("nan")
            verdict = ""
            if name in bounds and mb:
                m = bounds[name]
                change = (mn - mb) / mb * (1 if m["better"] == "lower" else -1)
                ok = change <= m["bound"]
                worse |= not ok
                verdict = "within bound" if ok else f"WORSE than bound {m['bound']}"
            print(f"  {name:34s} base {mb:12.5g} new {mn:12.5g} ratio {ratio:6.3f} "
                  f"spread {spread(xs):.3f}/{spread(ys):.3f} {verdict}")
    sys.exit(2 if worse else 0)


if __name__ == "__main__":
    main()
