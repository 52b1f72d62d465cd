#!/usr/bin/env python3
"""Self-test of the benchmark at tiny input sizes.

    python3 perfbench/selftest.py

For every workload it runs ``run.py --size tiny`` untraced once and
traced twice with the same seed, and checks that
- the run exits 0 and its last stdout line is the result object with
  exactly the keys correct / attempted / failed / metrics;
- every metric named in BENCHMARK.json is present with its unit, and no
  other metric;
- every output check passed (``correct`` is true, ``failed`` is 0);
- the traced run's per-layer self times add up to its timed wall time;
- the exact counts (Spark jobs/stages/tasks, search counters, candidate
  pairs) repeat between the two traced runs.
It also checks that the benchmark refuses to run, without printing a
result, from a directory that holds only BENCHMARK.json and perfbench/.
Takes a few minutes on 4 cores.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 7


def run(workload, trace, cwd=ROOT):
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    return p


def result_of(p, expected):
    errors = []
    if p.returncode != 0:
        return None, [f"exit code {p.returncode}: {p.stderr[-2000:]}"]
    r = json.loads(p.stdout.strip().splitlines()[-1])
    if set(r) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"result keys {sorted(r)}")
    if r.get("correct") is not True or r.get("failed") != 0 or not r.get("attempted", 0) >= 1:
        errors.append(f"checks failed: correct={r.get('correct')} failed={r.get('failed')}")
    got = {k: v["unit"] for k, v in r["metrics"].items()}
    if got != expected:
        errors.append(f"metric names/units differ from BENCHMARK.json: "
                      f"missing {sorted(set(expected) - set(got))}, extra {sorted(set(got) - set(expected))}, "
                      f"units {[k for k in got if k in expected and got[k] != expected[k]]}")
    for k, v in r["metrics"].items():
        if not (isinstance(v["value"], (int, float)) and math.isfinite(v["value"])):
            errors.append(f"{k} = {v['value']!r}")
    return r, errors


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    failures = []
    for w in (x["name"] for x in bench["workloads"]):
        r0, errs = result_of(run(w, 0), e2e)
        failures += [f"{w} untraced: {e}" for e in errs]
        if r0 is not None and any(r0["metrics"][m]["value"] <= 0 for m in e2e):
            failures.append(f"{w} untraced: an end-to-end metric is not positive")
        traced = []
        for _ in range(2):
            r1, errs = result_of(run(w, 1), layer)
            failures += [f"{w} traced: {e}" for e in errs]
            traced.append(r1)
        if traced[0] is not None:
            m = {k: v["value"] for k, v in traced[0]["metrics"].items()}
            selfs = sum(v for k, v in m.items() if k.startswith("self_s."))
            if abs(selfs - m["trace.timed_wall_s"]) > 1e-6 * max(1.0, m["trace.timed_wall_s"]):
                failures.append(f"{w}: self times sum to {selfs}, timed wall is {m['trace.timed_wall_s']}")
        if None not in traced:
            a, b = (t["metrics"] for t in traced)
            for k, unit in layer.items():
                if unit == "count" and a[k]["value"] != b[k]["value"]:
                    failures.append(f"{w}: count {k} differs between runs: {a[k]['value']} vs {b[k]['value']}")
        print(f"{w}: done", flush=True)

    bare = os.path.join(ROOT, ".bench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = run(bench["workloads"][0]["name"], 0, cwd=bare)
        if p.returncode == 0 or '"metrics"' in p.stdout:
            failures.append("a directory without the program still produced a result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    for f in failures:
        print("FAIL", f)
    print("selftest", "failed" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
