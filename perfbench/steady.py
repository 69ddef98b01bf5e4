#!/usr/bin/env python3
"""Steadiness report: run the benchmark several times per workload, each
time with another seed, and print the median and quartiles of every
end-to-end metric, with the inter-quartile spread as a share of the median
next to the bound BENCHMARK.json allows.

    python3 perfbench/steady.py --runs 10 --first-seed 100 \
        [--workload NAME ...] [--out results.json]

With --compare A.json B.json it instead compares two saved sets: each
metric's second median against the first, as a share of the first.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import report  # noqa: E402

BENCH = os.path.join(HERE, "..", "BENCHMARK.json")


def bench():
    with open(BENCH) as f:
        return json.load(f)


def run_once(workload, seed, seconds):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "0"]
    p = subprocess.run(cmd, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        raise SystemExit(f"run failed: {workload} seed {seed}")
    return json.loads(lines[-1])


def summarize(results, b):
    """results: workload -> list of result objects."""
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    rows = []
    for wl, rs in results.items():
        bad = [r for r in rs if not r["correct"]]
        rows.append(f"== {wl}: {len(rs)} runs, {len(bad)} not correct")
        for name, bound in bounds.items():
            xs = [r["metrics"][name]["value"] for r in rs
                  if name in r["metrics"]]
            if not xs:
                continue
            q1, q2, q3 = report.quartiles(xs)
            sp = report.spread(xs)
            # setup_s's spread has no gate, but may still not pass its bound
            flag = "  OVER BOUND" if sp > bound else \
                "  OVER 1/3 BOUND" if sp > bound / 3 and name != "setup_s" \
                else ""
            rows.append(f"{name:20s} median {q2:12.6f}  q1 {q1:12.6f}  "
                        f"q3 {q3:12.6f}  spread {sp:6.3f}  bound {bound}"
                        f"{flag}")
    return "\n".join(rows)


def compare(a, b, bench_):
    bounds = {m["name"]: m["bound"] for m in bench_["end_to_end"]}
    rows = []
    for wl in a:
        for name, bound in bounds.items():
            xa = [r["metrics"][name]["value"] for r in a[wl]]
            xb = [r["metrics"][name]["value"] for r in b.get(wl, [])]
            if not xa or not xb:
                continue
            ma, mb = report.quartiles(xa)[1], report.quartiles(xb)[1]
            d = (mb - ma) / ma
            rows.append(f"{wl:16s} {name:20s} {ma:12.6f} -> {mb:12.6f} "
                        f"({d:+.3f}, bound {bound})"
                        + ("  WORSE THAN BOUND" if d > bound else ""))
    return "\n".join(rows)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2)
    a = ap.parse_args()
    b = bench()
    if a.compare:
        sets = [json.load(open(f)) for f in a.compare]
        print(compare(sets[0], sets[1], b))
        return 0
    wls = a.workload or [w["name"] for w in b["workloads"]]
    results = {}
    for wl in wls:
        results[wl] = []
        for k in range(a.runs):
            r = run_once(wl, a.first_seed + k, b["run_seconds"])
            results[wl].append(r)
            print(f"{wl} seed {a.first_seed + k}: " +
                  " ".join(f"{n}={m['value']:.4f}"
                           for n, m in r["metrics"].items()), flush=True)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(results, f)
    print(summarize(results, b))
    return 0


if __name__ == "__main__":
    sys.exit(main())
