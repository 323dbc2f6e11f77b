#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one JVM on local[4].

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds graft and the runner from source (perfbench/build.py), prepares the
seeded inputs (perfbench/prepare.py), runs the JVM (perfbench/src), checks
every step's output against DuckDB (perfbench/check.py) and prints one JSON
line last: the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1. The lines before it are the run record: machine weather
per pass, versions, failures. Scratch space is perfbench/.work.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(BENCH, ".work")
FIXTURES = os.path.join(BENCH, "fixtures")
SLICE = os.path.join(BENCH, "inventory_slice.json")
# set-ups per run, each in a fresh JVM; setup_s is their median
SETUPS = 3
DEADLINE_S = 170
CORES = 4

# benchmark workload -> runner workload
WORKLOADS = {
    "tpch_sql_sf0.1": "tpch",
    "corpus_pipeline_5x": "corpus",
    "inventory_slice_sf0.01": "inventory",
}
# Warm passes per 10 s of --seconds. The count is fixed, not a deadline, so
# every run's median is the same pass of the JIT warm-up curve. A median of
# three is robust to one slow pass, such as one where the inventory's
# scan_dpp (an eager partitioned write) takes 1.5 s instead of 0.2 s; with
# two passes, TPC-H's query_tail_s spread reached 0.24 over ten seeds.
WARM_PER_10S = 3

END_TO_END = [("setup_s", "s"), ("cold_pass_s", "s"), ("warm_pass_s", "s"),
              ("query_p50_s", "s"), ("query_tail_s", "s"),
              ("correct_ratio", "ratio"), ("peak_rss_mb", "MB")]

PER_LAYER = [
    ("session.build_s", "s"), ("session.register_s", "s"),
    ("dfcontext.sql_s", "s"), ("dfcontext.rewritten_queries", "count"),
    ("plans.analysis_s", "s"), ("plans.optimization_s", "s"), ("plans.planning_s", "s"),
    ("plans.exchanges", "count"), ("plans.broadcast_joins", "count"),
    ("codegen.compile_s", "s"), ("codegen.compiles", "count"),
    ("construct.s", "s"), ("construct.jobs", "count"),
    ("exec.s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.task_run_s", "s"), ("exec.task_cpu_s", "s"),
    ("exec.slot_busy_ratio", "ratio"), ("exec.failed_tasks", "count"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
    ("shuffle.fetch_wait_s", "s"), ("spill.disk_bytes", "bytes"),
    ("scan.input_bytes", "bytes"), ("scan.input_records", "count"),
    ("sink.write_s", "s"), ("sink.compact_s", "s"), ("sink.bytes_written", "bytes"),
    ("sink.files_after", "count"), ("sink.write_amplification", "ratio"),
    ("dedup.cc_rounds", "count"), ("dedup.ngram_pairs_probed", "count"),
    ("dedup.ngram_pairs_kept_ratio", "ratio"),
    ("jvm.gc_s", "s"), ("jvm.gc_count", "count"), ("jvm.heap_peak_mb", "MB"),
    ("host.steal_s", "s"), ("host.iowait_s", "s"), ("host.foreign_cpu_s", "s"),
    ("host.loadavg_max", "load"), ("trace.overhead_ratio", "ratio"),
    ("queries.handwired_pass_s", "s"),
]

JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


def log(msg):
    print(msg, flush=True)


class Jvm:
    """Runs perfbench.Main with the built classpath inside the checkout."""

    def __init__(self, cp, deadline):
        self.cp, self.deadline = cp, deadline

    def __call__(self, args, log_path=None):
        """Runs one JVM to its end; returns the epoch time it was launched."""
        tmp = os.path.join(WORK, "tmp")
        os.makedirs(tmp, exist_ok=True)
        cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={tmp}",
               f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
               f"-Dderby.system.home={os.path.join(WORK, 'derby')}",
               "-cp", self.cp, "perfbench.Main", *args]
        local = os.path.join(WORK, "spark-local")
        env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=local, SPARK_LOCAL_DIRS=local)
        log_path = log_path or os.path.join(WORK, "jvm.log")
        with open(log_path, "w") as lf:
            launched = time.time()
            p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env, cwd=WORK)
            try:
                rc = p.wait(timeout=max(1.0, self.deadline - time.time()))
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                raise SystemExit("run: JVM passed the time limit")
        if rc != 0:
            with open(log_path) as lf:
                sys.stderr.write(lf.read()[-3000:])
            raise SystemExit(f"run: JVM exited with code {rc}")
        return launched


def inputs(kind, size, seed, jvm):
    """The input directory of one run; built outside every timed region."""
    import prepare
    if size == "small":
        if kind == "corpus":
            return prepare.corpus(os.path.join(FIXTURES, "sf0.001"),
                                  os.path.join(WORK, "corpus_small", str(seed)), seed, 1)
        return os.path.join(FIXTURES, "sf0.001")
    if kind == "tpch":
        return prepare.scaled_fixture(jvm, os.path.join(FIXTURES, "sf0.01"),
                                      os.path.join(WORK, "tpch_sf0.1"), 10)
    if kind == "corpus":
        return prepare.corpus(os.path.join(FIXTURES, "sf0.01"),
                              os.path.join(WORK, "corpus_5x", str(seed)), seed, 5)
    return os.path.join(FIXTURES, "sf0.01")


def nearest_rank(xs, p):
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def weather(rec):
    """Per-pass host readings and whether they mark the run as contaminated:
    other processes took >15% of the 4 slots, steal took >5%, or the load
    average passed 1.5x the cores."""
    rows, flagged = [], False
    for p in rec["passes"]:
        slots = p["wall_s"] * CORES
        foreign = p["host.foreign_cpu_s"] / slots
        steal = p["host.steal_s"] / slots
        bad = foreign > 0.15 or steal > 0.05 or p["host.loadavg_max"] > 1.5 * CORES
        flagged |= bad
        rows.append({"pass": p["kind"], "wall_s": round(p["wall_s"], 4),
                     "steal_s": p["host.steal_s"], "iowait_s": p["host.iowait_s"],
                     "foreign_cpu_s": p["host.foreign_cpu_s"],
                     "loadavg_max": p["host.loadavg_max"], "flagged": bad})
    return rows, flagged


def end_to_end(rec, verdicts):
    timed = [p for p in rec["passes"] if p["kind"] in ("cold", "warm_up", "warm")]
    warm = [p for p in timed if p["kind"] == "warm"]
    wrong = {n for n, v in verdicts.items() if v}
    steps = [s for p in timed for s in p["steps"]]
    failed = sum(1 for name, _, ok in steps if not ok or name in wrong)
    samples = [t for p in warm for _, t, ok in p["steps"] if ok]
    # the highest percentile with at least 10 warm samples beyond it
    pct = max(50, math.floor(100 * (1 - 10 / len(samples)))) if len(samples) > 20 else 50
    m = {
        "setup_s": statistics.median(s["setup_s"] for s in rec["setups"]),
        "cold_pass_s": timed[0]["wall_s"],
        "warm_pass_s": statistics.median(p["wall_s"] for p in warm),
        "query_p50_s": statistics.median(samples),
        "query_tail_s": nearest_rank(samples, pct),
        "correct_ratio": 1 - failed / len(steps),
        "peak_rss_mb": rec["peak_rss_mb"],
    }
    return m, len(steps), failed, {"tail_percentile": pct, "warm_samples": len(samples)}


def per_layer(rec):
    passes = rec["passes"]
    traced = [p for p in passes if p["kind"] == "warm" and p["traced"]]
    plain = [p for p in passes if p["kind"] == "warm" and not p["traced"]]
    cold = passes[0]["counters"]

    def med(key):
        return statistics.median(p["counters"].get(key, 0.0) for p in traced)

    m = {k: med(k) for k, _ in PER_LAYER}
    m["session.build_s"] = statistics.median(s["build_s"] for s in rec["setups"])
    m["session.register_s"] = statistics.median(s["register_s"] for s in rec["setups"])
    m["codegen.compile_s"] = cold.get("codegen.compile_s", 0.0)
    m["codegen.compiles"] = cold.get("codegen.compiles", 0.0)
    m["dfcontext.sql_s"] = m["construct.s"] if rec["workload"] == "tpch" else 0.0
    m["exec.slot_busy_ratio"] = statistics.median(
        p["counters"].get("exec.task_run_s", 0.0) / (p["wall_s"] * CORES) for p in traced)
    inp = med("sink.input_bytes")
    m["sink.write_amplification"] = m["sink.bytes_written"] / inp if inp else 0.0
    for k in ("jvm.gc_s", "jvm.gc_count", "jvm.heap_peak_mb"):
        m[k] = statistics.median(p[k] for p in traced)
    for k in ("host.steal_s", "host.iowait_s", "host.foreign_cpu_s"):
        m[k] = sum(p[k] for p in passes)
    m["host.loadavg_max"] = max(p["host.loadavg_max"] for p in passes)
    m["trace.overhead_ratio"] = (statistics.median(p["wall_s"] for p in traced)
                                 / statistics.median(p["wall_s"] for p in plain) - 1)
    hand = [p["wall_s"] for p in passes if p["kind"] == "handwired"]
    m["queries.handwired_pass_s"] = hand[0] if hand else 0.0
    m.update({k: float(v) for k, v in rec["extra"].items()})
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "small"), default="full",
                    help="small: sf0.001 inputs and a 1x corpus (harness smoke test)")
    a = ap.parse_args()
    deadline = time.time() + DEADLINE_S
    sys.path.insert(0, BENCH)
    import build

    os.makedirs(WORK, exist_ok=True)
    phases, t = {}, time.time()
    jvm = Jvm(build.build(), deadline)
    import check
    kind = WORKLOADS[a.workload]
    # a traced run makes four warm passes, untraced and traced as U T T U
    warm = 4 if a.trace else max(1, round(a.seconds * WARM_PER_10S / 10))
    phases["build_s"], t = time.time() - t, time.time()
    data = inputs(kind, a.size, a.seed, jvm)
    phases["inputs_s"], t = time.time() - t, time.time()
    out = os.path.join(WORK, "out", f"{a.workload}-{a.size}-{a.seed}-{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    common = ["--workload", kind, "--data", data, "--work", out]
    if kind == "inventory":
        common += ["--names", SLICE]
    # Set-up is timed in fresh JVMs, from launch to session built and tables
    # registered: SETUPS - 1 JVMs that only set up, then the run's own.
    launches = [jvm(["--mode", "setup", *common, "--out", os.path.join(out, f"setup{i}")],
                    os.path.join(out, f"setup{i}.log")) for i in range(SETUPS - 1)]
    shutil.rmtree(os.path.join(WORK, "spark-local"), ignore_errors=True)
    phases["setups_s"], t = time.time() - t, time.time()
    launches.append(jvm(["--mode", "run", *common, "--out", out, "--seed", str(a.seed),
                         "--warm", str(warm), "--trace", str(a.trace)],
                        os.path.join(out, "jvm.log")))
    phases["jvm_s"], t = time.time() - t, time.time()
    with open(os.path.join(out, "record.json")) as f:
        rec = json.load(f)
    samples = []
    for i in range(SETUPS - 1):
        with open(os.path.join(out, f"setup{i}", "setup.json")) as f:
            samples.append(json.load(f))
    samples.append(rec["setup"])
    rec["setups"] = [dict(s, setup_s=s["ready_ms"] / 1e3 - launched)
                     for s, launched in zip(samples, launches)]
    verdicts = check.check(data, os.path.join(out, "results"), rec["oracle"],
                           os.path.join(WORK, "tmp"))
    phases["check_s"] = time.time() - t

    rows, flagged = weather(rec)
    log(json.dumps({"run": {k: rec[k] for k in (
        "workload", "seed", "traced", "cores", "host_cpus", "heap_max_mb",
        "java_version", "spark_version", "scala_version")}, "data": data}))
    for r in rows:
        log(json.dumps({"weather": r}))
    log(json.dumps({"weather_flagged": flagged}))
    log(json.dumps({"phases": {k: round(v, 2) for k, v in phases.items()}}))
    for name, err in rec["errors"].items():
        log(json.dumps({"error": name, "message": err}))
    for name, why in verdicts.items():
        if why:
            log(json.dumps({"wrong_result": name, "detail": why}))

    e2e, attempted, failed, tail = end_to_end(rec, verdicts)
    log(json.dumps({"query_tail": tail}))
    correct = failed == 0 and not rec["errors"] and not any(verdicts.values())
    if a.trace:
        vals, units = per_layer(rec), PER_LAYER
    else:
        vals, units = e2e, END_TO_END
    metrics = {k: {"value": vals[k], "unit": u} for k, u in units}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)


if __name__ == "__main__":
    main()
