#!/usr/bin/env python3
"""Read sets of benchmark runs (written by collect.py) and traced reports.

    python3 perfbench/compare.py spread SET
        steadiness: per workload x end-to-end metric, the median, the
        quartiles and the spread (interquartile distance over the median)
        against the metric's bound.
    python3 perfbench/compare.py ab PARENT_SET CHANGE_SET
        A/B: one row per workload x end-to-end metric with each side's median
        and quartiles, the share of seed-matched pairs the change won (ties
        count for neither) and a verdict (rule below).
    python3 perfbench/compare.py layers PARENT_REPORT CHANGE_REPORT
        per-layer counts and times of two traced runs, side by side.
    python3 perfbench/compare.py overhead UNTRACED_SET TRACED_REPORT...
        tracing overhead: a traced run's end-to-end metrics against the
        untraced runs' medians of the same workload.

Verdict (choosing-metrics section 8, with the bounds of BENCHMARK.json):
  better      the change wins at least 9 in 10 pairs and the medians differ
              by more than the parent's own interquartile distance;
  worse       the change's median is worse by more than the bound, and the
              spread is within the bound or the parent won 9 in 10 pairs;
  unresolved  neither, and either side's spread is wider than the bound
              (unless every change run beats every parent run);
  unchanged   otherwise.
SET and REPORT files are the JSON files collect.py and run.py write.
"""
import json
import statistics
import sys
from pathlib import Path

SPEC = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
E2E = {m["name"]: m for m in SPEC["end_to_end"]}


def load(p):
    return json.loads(Path(p).read_text())


def stats(vals):
    q1, med, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (vals * 3)
    return statistics.median(vals), q1, q3


def values(runs, metric):
    return {r["seed"]: r["metrics"][metric] for r in runs if metric in r["metrics"]}


def spread(path):
    s = load(path)
    print(f"{'workload':20s} {'metric':14s} {'median':>11s} {'q1':>11s} {'q3':>11s}"
          f" {'spread':>7s} {'bound':>6s}  n  steady")
    ok = True
    for w, runs in s["workloads"].items():
        for m, spec in E2E.items():
            v = list(values(runs, m).values())
            if not v:
                continue
            med, q1, q3 = stats(v)
            sp = (q3 - q1) / med if med else float("inf")
            steady = sp <= spec["bound"] / 3 or m == "setup_s"
            ok &= sp <= spec["bound"] or m == "setup_s"
            print(f"{w:20s} {m:14s} {med:11.4g} {q1:11.4g} {q3:11.4g} {sp:7.3f}"
                  f" {spec['bound']:6.2f} {len(v):2d}  {'yes' if steady else 'NO'}")
        bad = [r["seed"] for r in runs if not r["correct"]]
        if bad:
            ok = False
            print(f"{w}: runs with failures: seeds {bad}")
    return ok


def verdict(spec, p, c):
    lower = spec["better"] == "lower"
    seeds = sorted(set(p) & set(c))
    wins = sum(1 for s in seeds if (c[s] < p[s]) == lower and c[s] != p[s])
    losses = sum(1 for s in seeds if (c[s] > p[s]) == lower and c[s] != p[s])
    pm, pq1, pq3 = stats(list(p.values()))
    cm, cq1, cq3 = stats(list(c.values()))
    worse_by = ((cm - pm) if lower else (pm - cm)) / pm if pm else 0.0
    sp = max((pq3 - pq1) / pm if pm else 0, (cq3 - cq1) / cm if cm else 0)
    n = len(seeds)
    every = (max(c.values()) < min(p.values())) if lower else (min(c.values()) > max(p.values()))
    if n and wins >= 0.9 * n and abs(cm - pm) > (pq3 - pq1):
        v = "better"
    elif worse_by > spec["bound"] and (sp <= spec["bound"] or n and losses >= 0.9 * n):
        v = "worse"
    elif sp > spec["bound"] and not every:
        v = "unresolved"
    else:
        v = "unchanged"
    return (pm, pq1, pq3), (cm, cq1, cq3), wins / n if n else None, worse_by, v


def ab(parent, change):
    p, c = load(parent), load(change)
    print(f"{'workload':20s} {'metric':12s} {'parent med [q1,q3]':>30s}"
          f" {'change med [q1,q3]':>30s} {'won':>5s} {'worse':>7s}  verdict")
    for w in sorted(set(p["workloads"]) & set(c["workloads"])):
        for m, spec in E2E.items():
            pv, cv = values(p["workloads"][w], m), values(c["workloads"][w], m)
            if not pv or not cv:
                continue
            ps, cs, won, worse_by, v = verdict(spec, pv, cv)
            fmt = lambda t: f"{t[0]:.4g} [{t[1]:.4g},{t[2]:.4g}]"
            won = f"{won:5.0%}" if won is not None else f"{'-':>5s}"
            print(f"{w:20s} {m:12s} {fmt(ps):>30s} {fmt(cs):>30s} {won}"
                  f" {worse_by:+7.1%}  {v}")


def layers(a, b):
    ra, rb = load(a), load(b)
    la, lb = ra["per_layer"], rb["per_layer"]
    print(f"{ra['workload']} seed {ra['seed']} vs {rb['workload']} seed {rb['seed']}")
    print(f"{'metric':28s} {'parent':>14s} {'change':>14s} {'delta':>14s} {'ratio':>8s}")
    for m in SPEC["per_layer"]:
        k = m["name"]
        x, y = la.get(k, 0), lb.get(k, 0)
        ratio = f"{y / x:8.3f}" if x else f"{'-':>8s}"
        print(f"{k:28s} {x:14.6g} {y:14.6g} {y - x:+14.6g} {ratio}")


def overhead(untraced, reports):
    base = load(untraced)["workloads"]
    for r in map(load, reports):
        runs = base.get(r["workload"], [])
        for m in E2E:
            v = list(values(runs, m).values())
            if v and m in r["end_to_end"]:
                med = statistics.median(v)
                print(f"{r['workload']:20s} {m:12s} traced {r['end_to_end'][m]:10.4g}"
                      f"  untraced median {med:10.4g}  overhead"
                      f" {r['end_to_end'][m] / med - 1:+7.1%}")


def main():
    cmd, args = (sys.argv[1], sys.argv[2:]) if len(sys.argv) > 2 else (None, [])
    if cmd == "spread" and len(args) == 1:
        sys.exit(0 if spread(args[0]) else 1)
    elif cmd == "ab" and len(args) == 2:
        ab(*args)
    elif cmd == "layers" and len(args) == 2:
        layers(*args)
    elif cmd == "overhead" and len(args) >= 2:
        overhead(args[0], args[1:])
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main()
