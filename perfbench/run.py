#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload analytic_mix --seed 1 \
        --seconds 12 --trace 0

Builds the engine and harness (perfbench/build.py), generates the seeded
inputs (perfbench/gen.py), runs one closed-loop client for --seconds,
checks every output, prints each metric by name with its unit and, as the
last line, one JSON object: {"correct", "attempted", "failed", "metrics"}.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
--workload all runs every workload in turn and prints their reports (no
JSON line).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import report  # noqa: E402

WORKLOADS = ("analytic_mix", "table_lifecycle", "llm_dedup")
BENCH = os.path.join(HERE, "..", "BENCHMARK.json")
JVM_OPTS = [
    "-Xmx2g", "-Xss4m", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
    "-XX:+UseCodeCacheFlushing", "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
JVM_TIMEOUT_S = 165


def listed_metrics(key):
    with open(BENCH) as f:
        return [m["name"] for m in json.load(f)[key]]


def run_jvm(classpath, workload, seed, seconds, trace, work):
    out = os.path.join(work, "raw.json")
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    cmd = (["java"] + JVM_OPTS +
           [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dderby.system.home={work}", "-cp", classpath,
            "graftbench.Main", workload, str(seed), str(seconds),
            str(trace), work, out])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        rc = build.run_child(cmd, timeout=JVM_TIMEOUT_S, stdout=log,
                             stderr=subprocess.STDOUT, env=env)
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: harness exited with {rc}")
    with open(out) as f:
        return json.load(f)


def one(workload, seed, seconds, trace):
    """Run one workload; return (report lines, result object)."""
    classpath = build.build()
    work = os.path.abspath(os.path.join(
        build.BUILD, "work", f"{workload}-{seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        t0 = time.perf_counter()
        plan = gen.generate(workload, seed, work)
        gen_s = time.perf_counter() - t0
        raw = run_jvm(classpath, workload, seed, seconds, trace, work)
        return summarise(raw, plan, work, gen_s, trace)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def summarise(raw, plan, work, gen_s, trace):
    ops = raw["ops"]
    reasons = {}      # op index -> why it failed
    for o in ops:
        if not o["ok"]:
            reasons[o["i"]] = o["err"]
    final, extra = {}, {}
    wl = raw["workload"]
    if wl == "analytic_mix":
        bad = report.check_analytic(raw, work, os.getcwd())
        for o in ops:
            if bad.get(o["kind"]):
                reasons.setdefault(o["i"], "oracle: " + bad[o["kind"]])
        final = {f"oracle:{q}": r for q, r in bad.items()}
    elif wl == "table_lifecycle":
        per_op, final = report.check_lifecycle(raw, plan)
        for i, r in per_op.items():
            if r:
                reasons.setdefault(i, r)
    else:
        bad, extra = report.check_dedup(raw, plan, work)
        for o in ops:
            if bad.get(o["kind"]):
                reasons.setdefault(o["i"], bad[o["kind"]])
        final = {f"truth:{k}": r for k, r in bad.items()}
    failed_final = {k: r for k, r in final.items() if r}
    e2e = report.end_to_end(raw, len(reasons), extra)
    lines = [f"== {wl} seed={raw['seed']} trace={trace} "
             f"ops={len(ops)} passes={len(raw['passes'])} "
             f"timed={raw['timed_s']:.1f}s"]
    dims = dict(plan.get("dims", {}))
    if wl == "analytic_mix":
        dims["distinct_queries"] = len(raw["results"].get("queries", []))
    if wl == "table_lifecycle":
        dims["versions_at_end"] = raw["results"].get("versions_at_end")
    lines.append("dims " + json.dumps(dims, sort_keys=True))
    for i, r in sorted(reasons.items()):
        lines.append(f"FAILED op {i} ({ops[i]['kind']}): {r}")
    for k, r in sorted(failed_final.items()):
        lines.append(f"FAILED check {k}: {r}")
    if trace:
        table = report.per_layer(raw, plan, gen_s)
        if "ann_recall" in extra:
            table["ops.ann_recall"] = (extra["ann_recall"], "ratio",
                                       "planted vector pairs found")
        names = listed_metrics("per_layer")
    else:
        table = e2e
        names = listed_metrics("end_to_end")
    for k in sorted(table):
        v, unit, note = table[k]
        lines.append(f"{k:40s} " + ("n/a".rjust(14) if v is None else
                                     f"{v:14.6f}") + f" {unit}" +
                     (f"  [{note}]" if note else ""))
    attempted = len(ops) + len(final)
    failed = len(reasons) + len(failed_final)
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed,
              "metrics": {k: {"value": table[k][0], "unit": table[k][1]}
                          for k in names if table.get(k, (None,))[0]
                          is not None}}
    missing = [k for k in names if k not in result["metrics"]]
    if missing:
        lines.append("MISSING metrics: " + ", ".join(missing))
        result["correct"] = False
    return lines, result


def main(argv=None):
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    for wl in (WORKLOADS if a.workload == "all" else (a.workload,)):
        lines, result = one(wl, a.seed, a.seconds, a.trace)
        print("\n".join(lines), flush=True)
    if a.workload != "all":
        print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
