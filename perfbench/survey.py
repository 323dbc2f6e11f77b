#!/usr/bin/env python3
"""Chooses the inventory slice of the `inventory_slice_sf0.01` workload.

    python3 perfbench/survey.py      # writes perfbench/inventory_slice.json

Runs the whole non-streaming operator inventory at sf0.01 in one traced JVM
(a traced cold pass, an untraced warm-up pass, then six warm passes of which
three are traced), takes every query's median layer costs over the traced
warm passes (single passes are too noisy: a query that writes files eagerly
varied 6x between two of them), and picks one query out of
every STRIDE: the queries are sorted by warm construction time and cut into
strata of STRIDE, and from each stratum the one query is taken that keeps
the slice's running layer totals closest to the strata's expected totals.
The slice's layer shares should then match the whole sweep's; the file
records both. Takes about eight minutes.
"""
import json
import os
import shutil
import statistics
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import build  # noqa: E402
import run  # noqa: E402

STRIDE = 10
# per-query layer costs the slice is balanced on
KEYS = ["warm_s", "construct_s", "plan_s", "exec_s", "construct_jobs", "exec_jobs",
        "task_run_s", "cold_s", "compile_s"]


def sweep(out):
    """One traced JVM over the whole inventory, its record under `out`."""
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    jvm = run.Jvm(build.build(), time.time() + 1800)
    jvm(["--mode", "run", "--workload", "inventory", "--data",
         os.path.join(run.FIXTURES, "sf0.01"), "--work", out, "--out", out,
         "--seed", "1", "--warm", "6", "--trace", "1"], os.path.join(out, "jvm.log"))


def measure():
    """Runs the whole inventory; returns ({query: costs}, failed queries)."""
    out = os.path.join(run.WORK, "survey")
    sweep(out)
    with open(os.path.join(out, "record.json")) as f:
        rec = json.load(f)
    cold = rec["passes"][0]
    warm = [p for p in rec["passes"] if p["kind"] == "warm"]
    traced = [p["counters"] for p in warm if p["traced"]]
    cold_s = {n: t for n, t, _ in cold["steps"]}
    warm_s = {}
    for p in warm:
        for n, t, _ in p["steps"]:
            warm_s.setdefault(n, []).append(t)
    costs = {}
    for name in cold_s:
        g = lambda k: statistics.median(c.get(f"step.{name}.{k}", 0.0) for c in traced)  # noqa: E731
        costs[name] = {
            "warm_s": statistics.median(warm_s[name]), "construct_s": g("construct.s"),
            "plan_s": g("plan.s"), "exec_s": g("exec.s"), "construct_jobs": g("construct.jobs"),
            "exec_jobs": g("exec.jobs"), "task_run_s": g("task_run_s"),
            "cold_s": cold_s[name], "compile_s": cold["counters"].get(f"step.{name}.compile_s", 0.0)}
    return costs, sorted(rec["errors"])


def select(costs):
    """One query per stratum of STRIDE, balancing the running totals."""
    order = sorted(costs, key=lambda n: (-costs[n]["construct_s"], -costs[n]["warm_s"], n))
    strata = [order[i:i + STRIDE] for i in range(0, len(order), STRIDE)]
    scale = {k: sum(sum(costs[n][k] for n in s) / len(s) for s in strata) or 1.0 for k in KEYS}
    cum = dict.fromkeys(KEYS, 0.0)
    want = dict.fromkeys(KEYS, 0.0)
    names = []
    for s in strata:
        for k in KEYS:
            want[k] += sum(costs[n][k] for n in s) / len(s)
        pick = min(s, key=lambda n: (sum(((cum[k] + costs[n][k] - want[k]) / scale[k]) ** 2
                                         for k in KEYS), n))
        for k in KEYS:
            cum[k] += costs[pick][k]
        names.append(pick)
    return sorted(names)


def shares(costs, names):
    """Layer shares of a set of queries, as a pass over them would show."""
    tot = {k: sum(costs[n][k] for n in names) for k in KEYS}
    q = len(names)
    return {"queries": q, "warm_pass_s": round(tot["warm_s"], 3),
            "construct_share": round(tot["construct_s"] / tot["warm_s"], 4),
            "plan_share": round(tot["plan_s"] / tot["warm_s"], 4),
            "exec_share": round(tot["exec_s"] / tot["warm_s"], 4),
            "construct_jobs_per_query": round(tot["construct_jobs"] / q, 3),
            "exec_jobs_per_query": round(tot["exec_jobs"] / q, 3),
            "slot_busy_ratio": round(tot["task_run_s"] / (tot["warm_s"] * run.CORES), 4),
            "cold_pass_s": round(tot["cold_s"], 3),
            "compile_share_of_cold": round(tot["compile_s"] / tot["cold_s"], 4)}


def main():
    costs, failed = measure()
    ok = {n: v for n, v in costs.items() if n not in failed}
    names = select(ok)
    doc = {"about": "inventory_slice_sf0.01 queries; written by perfbench/survey.py",
           "stride": STRIDE, "failed_in_sweep": failed,
           "sweep": shares(costs, list(costs)), "slice": shares(costs, names),
           "names": names}
    with open(run.SLICE, "w") as f:
        json.dump(doc, f, indent=1)
        f.write("\n")
    print(json.dumps({k: doc[k] for k in ("sweep", "slice", "failed_in_sweep")}, indent=1))


if __name__ == "__main__":
    main()
