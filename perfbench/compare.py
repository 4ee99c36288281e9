#!/usr/bin/env python3
"""Compare two perfbench result sets.

    python3 perfbench/compare.py BEFORE_DIR AFTER_DIR [--benchmark BENCHMARK.json]

Each directory holds result files as run.py keeps them
(`.bench_work/results/<workload>-seed<N>-trace<T>.json`; copy that
directory aside between the two commits). For every workload and
end-to-end metric it prints each side's median and quartiles, the bound,
and a verdict:

  better      the after median is lower by more than the before side's
              quartile spread, and at least 9 in 10 before/after pairs
              read lower after;
  worse       the after median exceeds the before median by more than the
              bound;
  unresolved  either side's quartile spread is wider than the bound, unless
              every after run reads lower than every before run;
  same        none of the above: no worse than the bound allows.

All metrics here are lower-is-better. Metrics the benchmark declares carry
their own bound; the workload's other end-to-end figures are judged with
the largest declared bound. Beside each workload's verdicts come its
per-layer medians from the traced runs, before and after, and the tracing
overhead (median traced-run cycle over median untraced-run cycle).
"""
import argparse
import glob
import json
import os
import statistics


def load(d):
    runs = {}
    for p in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(p) as fh:
            r = json.load(fh)
        runs.setdefault((r["workload"], int(r["trace"])), []).append(r)
    return runs


def quartiles(v):
    if len(v) == 1:
        return v[0], v[0], v[0]
    q = statistics.quantiles(v, n=4)
    return q[0], statistics.median(v), q[2]


def values(runs, section, name):
    out = []
    for r in runs:
        m = r[section].get(name)
        if m and isinstance(m["value"], (int, float)):
            out.append(float(m["value"]))
    return out


def verdict(a, b, bound):
    qa, qb = quartiles(a), quartiles(b)
    ma, mb = qa[1], qb[1]
    spread = max((qa[2] - qa[0]) / ma if ma else 0.0, (qb[2] - qb[0]) / mb if mb else 0.0)
    if max(b) < min(a):
        return "better"
    if spread > bound:
        return "unresolved"
    if mb > ma * (1 + bound):
        return "worse"
    wins = sum(1 for x in a for y in b if y < x) / (len(a) * len(b))
    if ma - mb > qa[2] - qa[0] and wins >= 0.9:
        return "better"
    return "same"


def fmt(q):
    return f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--benchmark", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json"))
    a = ap.parse_args()
    bounds = {}
    if os.path.exists(a.benchmark):
        with open(a.benchmark) as fh:
            bounds = {m["name"]: m["bound"] for m in json.load(fh)["end_to_end"]}
    default_bound = max(bounds.values(), default=0.25)
    before, after = load(a.before), load(a.after)
    for wl in sorted({w for w, _ in before} | {w for w, _ in after}):
        ua, ub = before.get((wl, 0), []), after.get((wl, 0), [])
        print(f"== {wl}: {len(ua)} before, {len(ub)} after untraced runs")
        names = list(dict.fromkeys(
            [n for r in ua + ub for n in r["end_to_end"]]))
        for n in names:
            va, vb = values(ua, "end_to_end", n), values(ub, "end_to_end", n)
            if not va or not vb:
                continue
            bound = bounds.get(n, default_bound)
            print(f"  {n:20s} before {fmt(quartiles(va)):32s} after {fmt(quartiles(vb)):32s}"
                  f" bound {bound:.2f}  {verdict(va, vb, bound)}")
        ta, tb = before.get((wl, 1), []), after.get((wl, 1), [])
        if ta or tb:
            print(f"  per-layer medians, {len(ta)} before and {len(tb)} after traced runs:")
            layer = list(dict.fromkeys([n for r in ta + tb for n in r["per_layer"]]))
            for n in layer:
                va, vb = values(ta, "per_layer", n), values(tb, "per_layer", n)
                ma = statistics.median(va) if va else float("nan")
                mb = statistics.median(vb) if vb else float("nan")
                rel = f"{(mb - ma) / ma:+.1%}" if va and vb and ma else ""
                print(f"    {n:34s} {ma:14.6g} -> {mb:14.6g} {rel}")
        for label, u, t in [("before", ua, ta), ("after", ub, tb)]:
            vu, vt = values(u, "end_to_end", "op_p50_s"), values(t, "end_to_end", "op_p50_s")
            if vu and vt:
                print(f"  tracing overhead {label}: "
                      f"{statistics.median(vt) / statistics.median(vu) - 1:+.1%} "
                      f"({len(vt)} traced vs {len(vu)} untraced runs)")


if __name__ == "__main__":
    main()
