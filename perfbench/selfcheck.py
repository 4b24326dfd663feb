#!/usr/bin/env python3
"""Self-check of the benchmark on the sf0.001 fixture (about 4 minutes).

    python3 perfbench/selfcheck.py

Runs every workload of BENCHMARK.json once untraced and once traced on
the sf0.001 fixture (heavy_x10 on its ×10 replica) and asserts that

  * each run exits 0, reports correct=true and failed=0;
  * the untraced run prints exactly the end_to_end metrics, the traced run
    exactly the per_layer metrics, each with the unit BENCHMARK.json gives;
  * in the traced run, every query's build and noop-write spans add up to
    its traced wall time within 10 %, its Catalyst phase times (plans.*)
    fit inside that wall time, and the query span's own self time is
    under 10 % of the total.
"""
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def run(workload, trace):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--fixture", "sf0.001"]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True, timeout=600)
    assert p.returncode == 0, f"{workload} trace={trace}: exit {p.returncode}\n{p.stderr[-3000:]}"
    return json.loads(p.stdout.strip().splitlines()[-1])


def check_metrics(out, specs, what):
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    want = {m["name"]: m["unit"] for m in specs}
    assert got == want, f"{what}: metrics/units differ: {set(got.items()) ^ set(want.items())}"
    for k, v in out["metrics"].items():
        assert isinstance(v["value"], (int, float)), f"{what}: {k} is not a number"


def check_reconcile(workload):
    with open(os.path.join(ROOT, ".bench_build", "results",
                           f"{workload}-seed7-trace1.json")) as fh:
        rec = json.load(fh)
    wall = 0.0
    for x in rec["traced"]:
        parts = x["build_ms"] + x["write_ms"]
        assert abs(parts - x["wall_ms"]) <= 0.1 * x["wall_ms"], \
            f"{workload} {x['name']}: build+write {parts:.1f} vs wall {x['wall_ms']:.1f} ms"
        plans = x["analysis_ms"] + x["optimization_ms"] + x["planning_ms"]
        assert plans <= x["wall_ms"] * 1.1, \
            f"{workload} {x['name']}: plans {plans} ms exceed wall {x['wall_ms']:.1f} ms"
        wall += x["wall_ms"]
    query_self = rec["self_ms"].get("query", 0.0)
    assert query_self <= 0.1 * wall, f"{workload}: untraced share of query spans {query_self:.1f} ms"


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if os.environ.get("CARGO_TARGET_DIR"):
        sys.exit("selfcheck reads .bench_build/results; unset CARGO_TARGET_DIR")
    for w in spec["workloads"]:
        name = w["name"]
        for trace, specs in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            out = run(name, trace)
            assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, \
                f"{name} trace={trace}: {out['correct']=} {out['failed']=}"
            check_metrics(out, specs, f"{name} trace={trace}")
        check_reconcile(name)
        print(f"selfcheck {name}: ok", flush=True)
    print("selfcheck: all workloads ok")


if __name__ == "__main__":
    main()
