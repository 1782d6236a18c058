#!/usr/bin/env python3
"""Repository benchmark: runs one workload in one Spark JVM and prints
its metrics as the last line of stdout.

    python3 perfbench/run.py --workload ta_panel --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

Run it from the repository root. It builds the program from source
(perfbench/build.py), runs perfbench/src/PerfBench.scala against the
committed test tables, checks every query's result against DuckDB
running the program's own oracle SQL (perfbench/oracle.py), and prints one JSON
object: {"correct", "attempted", "failed", "metrics"}. `--trace 1`
prints the per-layer metrics instead of the end-to-end ones and keeps
the full per-query record in .bench_out/trace-<workload>-<seed>.json.
See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import oracle  # noqa: E402

OUT_DIR = ".bench_out"
DATA_ROOT = os.environ.get("PERFBENCH_DATA", "/root/testdata")
HEAP = "2g"

SCALE = "0.001"
WORKLOADS = ("ta_panel", "corpus_cold", "ann_serve")
# set-up runs a cold round and a warm one; the timed rounds that follow
# run until --seconds have passed, at least MIN_ROUNDS of them
WARMUPS = 2
MIN_ROUNDS = 2
# the JVM's threads by kind (PerfBench.threadKind); their CPU ticks
THREAD_KINDS = ("jit", "gc", "main", "task", "other")
TICK = os.sysconf("SC_CLK_TCK")

# Spark 4 on JDK 17 outside spark-submit (same list as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def host_sample():
    """Cumulative steal seconds and the 1-minute load average, read-only."""
    steal = None
    try:
        with open("/proc/stat") as f:
            for line in f:
                if line.startswith("cpu "):
                    steal = int(line.split()[8]) / os.sysconf("SC_CLK_TCK")
                    break
    except (OSError, IndexError, ValueError):
        pass
    return steal, os.getloadavg()[0]


def run_jvm(classes, workload, data, run_dir, seed, seconds, trace, warmups,
            min_rounds, max_rounds):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    java = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m"]
    for p in ADD_OPENS:
        java += ["--add-opens", f"{p}=ALL-UNNAMED"]
    java += [
        "-Djava.awt.headless=true", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={os.path.join(run_dir, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        "-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
        "perfbench.PerfBench", workload, data, run_dir, str(seed),
        str(seconds), str(trace), str(warmups), str(min_rounds),
        str(max_rounds),
    ]
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as f:
        r = subprocess.run(java, cwd=run_dir, stdout=f, stderr=subprocess.STDOUT,
                           timeout=170)
    report = os.path.join(run_dir, "report.json")
    if r.returncode != 0 or not os.path.exists(report):
        with open(log) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"benchmark JVM failed ({r.returncode})")
    with open(report) as f:
        return json.load(f)


def round_spans(rep, prefix, phase=None):
    """Sums the Spark counters of every span of one round (optionally
    one phase)."""
    fields = rep["span_fields"]
    tot = dict.fromkeys(fields, 0)
    for sp, vals in rep["spans"].items():
        parts = sp.split("/")
        if parts[0] == prefix and (phase is None or parts[-1] == phase):
            for k, v in zip(fields, vals):
                tot[k] += v
    return tot


def end_to_end(rep):
    timed = [r for r in rep["rounds"] if r["kind"] == "timed"]
    ids = {r["id"] for r in timed}
    lat = [s["construct_ms"] + s["exec_ms"] for s in rep["samples"]
           if s["round"] in ids and s["ok"]]
    per_round = [round_spans(rep, r["id"]) for r in timed]
    m = {
        "setup_s": (rep["setup_s"], "s"),
        "round_s": (median([r["wall_s"] for r in timed]), "s"),
        "query_p50_ms": (median(lat), "ms"),
        "cpu_s": (median([r["cpu_s"] for r in timed]), "s"),
        "spark_jobs": (median([s["jobs"] for s in per_round]), "count"),
        "shuffle_write_bytes": (median([s["shuffle_write_bytes"] for s in per_round]), "B"),
    }
    return m


def per_layer(rep):
    timed = [r for r in rep["rounds"] if r["kind"] == "timed"]
    src = {r["id"]: r for r in rep["rounds"] if r["kind"] == "source"}
    unreleased = [r for r in rep["rounds"] if r["kind"] == "unreleased"]
    rows = []
    for r in timed:
        rid = r["id"]
        n = rid[1:]
        samples = [s for s in rep["samples"] if s["round"] == rid]
        ex = round_spans(rep, rid, "exec")
        allsp = round_spans(rep, rid)
        exec_ms = sum(s["exec_ms"] for s in samples)
        rows.append({
            "sources.read_ms": sum(src["s" + n]["read_ms"].values()),
            "sources.read_jobs": round_spans(rep, "s" + n, "source")["jobs"],
            "construct.ms": sum(s["construct_ms"] for s in samples),
            "construct.jobs": round_spans(rep, rid, "construct")["jobs"],
            "plan.ms": ex["plan_ms"],
            "exec.ms": exec_ms,
            "exec.jobs": ex["jobs"],
            "exec.stages": ex["stages"],
            "exec.tasks": ex["tasks"],
            "exec.task_run_s": ex["task_run_ms"] / 1e3,
            "exec.task_cpu_s": ex["task_cpu_ns"] / 1e9,
            "exec.shuffle_read_bytes": ex["shuffle_read_bytes"],
            "exec.spill_bytes": ex["spill_bytes"],
            "exec.gc_ms": sum(s["gc_ms"] for s in samples),
            "exec.par": ex["task_run_ms"] / max(exec_ms, 1e-9),
            "exec.window_ops": ex["window_ops"],
            "codegen.compiles": r["codegen_compiles"],
            "chains.bill_ms": sum(r["chain_bill_ms"].values()),
            "chains.builds": len(r["chain_bill_ms"]),
            "chains.staged_bytes": r["staged_bytes"],
            "jvm.non_task_cpu_s": r["cpu_s"] - allsp["task_cpu_ns"] / 1e9,
            "jvm.heap_used_mb": r["heap_used_mb"],
            **{f"jvm.{k}_thread_cpu_s": r["thread_ticks"].get(k, 0) / TICK
               for k in THREAD_KINDS},
            "trace.round_s": r["wall_s"],
        })
    units = {"ms": "ms", "jobs": "count", "stages": "count", "tasks": "count",
             "builds": "count", "compiles": "count", "window_ops": "count", "bytes": "B",
             "_s": "s", "par": "ratio", "mb": "MB"}

    def unit(name):
        for suffix, u in units.items():
            if name.endswith(suffix):
                return u
        return "count"

    m = {k: (median([row[k] for row in rows]), unit(k)) for k in rows[0]}
    m["chains.cold_extra_s"] = (
        median([r["wall_s"] for r in timed]) - unreleased[0]["wall_s"], "s")
    return m


def query_table(rep):
    """Per-query breakdown over the timed rounds, for the trace file."""
    timed = {r["id"] for r in rep["rounds"] if r["kind"] == "timed"}
    out = {}
    for q in rep["queries"]:
        ss = [s for s in rep["samples"] if s["query"] == q and s["round"] in timed]
        cons = [round_spans_q(rep, s["round"], q, "construct") for s in ss]
        exe = [round_spans_q(rep, s["round"], q, "exec") for s in ss]
        out[q] = {
            "wall_ms": median([s["construct_ms"] + s["exec_ms"] for s in ss]),
            "construct_ms": median([s["construct_ms"] for s in ss]),
            "exec_ms": median([s["exec_ms"] for s in ss]),
            "chain_bill_ms": median([s["chain_bill_ms"] for s in ss]),
            "construct_jobs": median([c["jobs"] for c in cons]),
            "exec_jobs": median([e["jobs"] for e in exe]),
            "exec_tasks": median([e["tasks"] for e in exe]),
            "task_run_ms": median([e["task_run_ms"] for e in exe]),
            "shuffle_write_bytes": median([e["shuffle_write_bytes"] for e in exe]),
            "plan_ms": median([e["plan_ms"] for e in exe]),
            "window_ops": min([e["window_ops"] for e in exe], default=0),
            "failed": sum(not s["ok"] for s in ss),
        }
    return out


def round_spans_q(rep, rid, q, phase):
    fields = rep["span_fields"]
    return dict(zip(fields, rep["spans"].get(f"{rid}/{q}/{phase}", [0] * len(fields))))


def run_one(root, classes, workload, seed, seconds, trace, warmups=WARMUPS,
            min_rounds=MIN_ROUNDS, max_rounds=1000):
    data = os.path.join(DATA_ROOT, "sf" + SCALE)
    if not os.path.exists(os.path.join(data, "events.parquet")):
        raise SystemExit(f"test tables not found under {data} (PERFBENCH_DATA)")
    run_dir = os.path.abspath(os.path.join(
        root, OUT_DIR, f"run-{workload}-{seed}-{os.getpid()}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    steal0, load0 = host_sample()
    t0 = time.time()
    try:
        rep = run_jvm(classes, workload, data, run_dir, seed, seconds, trace,
                      warmups, min_rounds, max_rounds)
        t1 = time.time()
        problems = oracle.check(rep, data, run_dir)
        # each run gets its own java.io.tmpdir: count the graft_* store
        # directories the program left there
        leaked = sorted(d for d in os.listdir(os.path.join(run_dir, "tmp"))
                        if d.startswith("graft_"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if os.path.exists(run_dir):
        problems.append(f"could not remove {run_dir}")
    steal1, load1 = host_sample()
    rep["host"] = {
        "steal_s": None if steal0 is None else steal1 - steal0,
        "load_avg_start": load0, "load_avg_end": load1,
        "graft_dirs_left_by_program": leaked,
        "jvm_s": t1 - t0, "check_s": time.time() - t1,
    }
    return rep, problems


def result_line(rep, problems, trace):
    timed = {r["id"] for r in rep["rounds"] if r["kind"] == "timed"}
    ss = [s for s in rep["samples"] if s["round"] in timed]
    metrics = per_layer(rep) if trace else end_to_end(rep)
    return {
        "correct": not problems,
        "attempted": len(ss),
        "failed": sum(not s["ok"] for s in ss),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="every workload, cold round only, checks on")
    a = ap.parse_args()
    if not a.smoke and not a.workload:
        ap.error("--workload is required (or --smoke)")
    root = os.getcwd()
    classes = build.build(root)
    if a.smoke:
        ok = True
        for w in WORKLOADS:
            t0 = time.time()
            rep, problems = run_one(root, classes, w, a.seed, 0, 0,
                                    warmups=1, min_rounds=0, max_rounds=0)
            failed = sum(not s["ok"] for s in rep["samples"])
            print(f"{w}: correct={not problems} queries={len(rep['samples'])} "
                  f"failed={failed} {time.time() - t0:.1f}s")
            for p in problems:
                print("  " + p)
            ok = ok and not problems and failed == 0
        sys.exit(0 if ok else 1)
    rep, problems = run_one(root, classes, a.workload, a.seed, a.seconds, a.trace)
    line = result_line(rep, problems, a.trace)
    for p in problems:
        print("PROBLEM " + p)
    if a.trace:
        path = os.path.join(root, OUT_DIR, f"trace-{a.workload}-{a.seed}.json")
        rep["per_query"] = query_table(rep)
        rep["metrics"] = line["metrics"]
        with open(path, "w") as f:
            json.dump(rep, f, indent=1, sort_keys=True)
        print(f"trace: {path}")
    h = rep["host"]
    print(f"timing: jvm {h['jvm_s']:.1f}s check {h['check_s']:.1f}s steal {h['steal_s']}s load {h['load_avg_start']:.2f}-{h['load_avg_end']:.2f}")
    print(json.dumps(line))


if __name__ == "__main__":
    main()
