#!/usr/bin/env python3
"""Run the benchmark over a range of seeds and keep every run's result.

    python3 perfbench/collect.py --out runs.json [--seeds 1-10]
        [--workloads a,b] [--seconds S] [--trace 0] [--checkout DIR ...]

Workloads and seconds default to BENCHMARK.json's.

With one checkout (default: the one holding this file) it runs each
workload once per seed. With two checkouts (parent first, then change) it
runs them as interleaved pairs, alternating which side runs first, and
writes `<out>` for the first and `<out>.change.json` for the second; feed
both to `compare.py`.

Output: {"workloads": {name: [{"seed", "correct", "attempted", "failed",
"metrics": {metric: value}}, ...]}}.
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += range(int(a), int(b or a) + 1)
    return out


def run_one(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        sys.stderr.write(p.stderr[-2000:])
        return {"seed": seed, "exit": p.returncode, "correct": False,
                "attempted": 0, "failed": 1, "metrics": {}}
    return {"seed": seed, "exit": p.returncode, "correct": res["correct"],
            "attempted": res["attempted"], "failed": res["failed"],
            "metrics": {k: v["value"] for k, v in res["metrics"].items()}}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--seeds", default="1-10")
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--checkout", action="append")
    a = ap.parse_args()
    checkouts = [Path(c).resolve() for c in (a.checkout or [HERE.parent])]
    if len(checkouts) > 2:
        ap.error("at most two checkouts (parent, change)")
    sets = [{"checkout": str(c), "workloads": {}} for c in checkouts]
    for w in a.workloads.split(","):
        for i, s in enumerate(seeds(a.seeds)):
            order = list(range(len(checkouts)))
            if i % 2:
                order.reverse()
            for k in order:
                r = run_one(checkouts[k], w, s, a.seconds, a.trace)
                sets[k]["workloads"].setdefault(w, []).append(r)
                print(f"{Path(checkouts[k]).name} {w} seed {s}: "
                      + " ".join(f"{m}={v:.4g}" for m, v in r["metrics"].items()),
                      flush=True)
    Path(a.out).write_text(json.dumps(sets[0], indent=1))
    if len(sets) > 1:
        Path(a.out + ".change.json").write_text(json.dumps(sets[1], indent=1))


if __name__ == "__main__":
    main()
