#!/usr/bin/env python3
"""Benchmark of the graft engine.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all --seed N --seconds S

Builds the engine and the benchmark from source with sbt (once per source
state), makes the workload's inputs from the seed, runs one JVM at
local[nproc] with one client in a closed loop for S seconds, checks every
result, and prints one JSON line last on stdout:
{"correct", "attempted", "failed", "metrics"}. Untraced runs report the
end-to-end metrics, traced runs the per-layer ones. A human-readable table
goes to stderr; the full record and, when traced, the spans are written
under perfbench/.work/results/. Exits non-zero when any op fails or
returns a wrong result. `--workload all` runs each workload of
BENCHMARK.json in turn and prints its end-to-end metrics.

Workloads in BENCHMARK.json (see there why each was chosen):
  tpch          q1 + the 21 q_tpch_* queries, one file and row group per table
  table_writes  clone, then SQL writes, time travel, a stream ingest and
                maintenance on a snapshot table
Two more run by name but are kept out of BENCHMARK.json, so that the
benchmark's full set of repeated runs stays under an hour on a 4-core host:
  tpch_split    the tpch queries on a row-identical copy with many files and
                small row groups per table (the production input shape)
  llm_ops       LLM-data-pipeline operators: iterative job loops, checkpoint
                barriers, function kernels, one-split document scans
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
JAR = os.path.join(WORK, "perfbench.jar")
# class-data archive of everything the workloads load (JVM start and
# warm-up spend much of their time loading classes)
JSA = os.path.join(WORK, "perfbench.jsa")

# Input scale per workload (sf 0.1 has 600k lineitem rows) and the
# input shape. Scales are set so that a run, JVM start and warm-up
# included, takes well under a minute on a 4-core host.
WORKLOADS = {
    "tpch": {"sf": 0.03, "split": False},
    "tpch_split": {"sf": 0.03, "split": True},
    "llm_ops": {"sf": 0.01, "split": False},
    "table_writes": {"sf": 0.01, "split": False},
}
WARM_SF = 0.001
HEAP = "3g"
RUN_TIMEOUT_S = 170
KEEP_INPUT_DIRS = 12
E2E = ("setup_s", "wall_s", "op_p50_s")


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha1()
    for top in (ENGINE_SRC, BENCH_SRC, os.path.join(HERE, "build.sbt"),
                os.path.join(HERE, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("perfbench: no Spark installation (set SPARK_HOME)")
    return home


def build():
    """Compiles engine + benchmark with sbt unless the sources are unchanged,
    packs the classes into one jar and dumps a class-data archive from a
    training JVM that warms up the BENCHMARK.json workloads."""
    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        raise SystemExit(f"perfbench: engine sources not found under {ENGINE_SRC}")
    stamp = source_stamp()
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.isfile(JAR) and os.path.isfile(stamp_file) \
            and open(stamp_file).read() == stamp:
        return
    for f in (stamp_file, JAR, JSA):
        if os.path.exists(f):
            os.remove(f)
    log("perfbench: building engine and benchmark with sbt")
    env = dict(os.environ, SPARK_HOME=spark_home())
    # resolve from the local caches only, as the repository's own build does
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.autostart=false", "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=800)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: sbt build failed ({r.returncode})")
    os.makedirs(WORK, exist_ok=True)
    with zipfile.ZipFile(JAR + ".tmp", "w") as z:
        for d, _, fs in sorted(os.walk(CLASSES)):
            for f in sorted(fs):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), CLASSES))
    os.replace(JAR + ".tmp", JAR)
    warm = os.path.join(WORK, "data", f"sf{WARM_SF}-seed0")
    gen.build(warm, 0, WARM_SF)
    run_dir = os.path.join(WORK, "train")
    shutil.rmtree(run_dir, ignore_errors=True)
    rc = java(["--workload", "train", "--seed", "0", "--cpus", str(nproc()), "--warm", warm,
               "--work", run_dir], run_dir, os.path.join(WORK, "logs", "train.log"),
              time.time() + 300, [f"-XX:ArchiveClassesAtExit={JSA}"])
    shutil.rmtree(run_dir, ignore_errors=True)
    if rc != 0:
        log("perfbench: class-data archive training failed; running without it")
        if os.path.exists(JSA):
            os.remove(JSA)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def inputs(workload, seed):
    """Builds (or reuses) the measured input dir and the small warm-up
    input of the write workload."""
    spec = WORKLOADS[workload]
    base = os.path.join(WORK, "data")
    data = os.path.join(base, f"sf{spec['sf']}-seed{seed}")
    gen.build(data, seed, spec["sf"])
    if spec["split"]:
        split = data + "-split"
        gen.build_split(data, split, max(8, nproc()))
        data = split
    warm = os.path.join(base, f"sf{WARM_SF}-seed{seed}")
    gen.build(warm, seed, WARM_SF)
    # keep the input cache small: drop the least recently used seeds
    dirs = sorted((os.path.join(base, d) for d in os.listdir(base)),
                  key=os.path.getmtime, reverse=True)
    for d in dirs[KEEP_INPUT_DIRS:]:
        if d not in (data, warm) and not data.startswith(d):
            shutil.rmtree(d, ignore_errors=True)
    for d in (data, warm):
        os.utime(d)
    return data, warm


def nproc():
    return len(os.sched_getaffinity(0))


def steal_s():
    """CPU time the hypervisor gave to other guests, summed over CPUs: a
    run whose steal grew by seconds ran on a contended host."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def java(args, run_dir, logfile, deadline, jvm_flags=()):
    """Runs perfbench.Main in a JVM; returns its exit code."""
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    jars = sorted(os.path.join(spark_home(), "jars", j)
                  for j in os.listdir(os.path.join(spark_home(), "jars")) if j.endswith(".jar"))
    cmd = ["java", f"-Xmx{HEAP}", *opens, *jvm_flags, f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-cp", os.pathsep.join([JAR] + jars),
           "perfbench.Main", *args]
    os.makedirs(os.path.dirname(logfile), exist_ok=True)
    with open(logfile, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            return p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"perfbench: JVM timed out, see {logfile}")


def run_jvm(workload, seed, seconds, trace, data, warm, run_dir, out, deadline):
    logfile = os.path.join(WORK, "logs", f"{workload}-seed{seed}-trace{trace}.log")
    flags = [f"-XX:SharedArchiveFile={JSA}"] if os.path.isfile(JSA) else []
    rc = java(["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
               "--trace", str(trace), "--cpus", str(nproc()), "--data", data,
               "--warm", warm, "--work", run_dir, "--out", out],
              run_dir, logfile, deadline, flags)
    if rc != 0 or not os.path.isfile(out):
        raise SystemExit(f"perfbench: JVM exited {rc}, see {logfile}")
    with open(out) as f:
        return json.load(f)


def check(rec, data, run_dir, inject):
    """Marks each measured op ok or failed; returns the failures."""
    ops = rec["ops"]
    failures = []
    if inject:
        op = measured(rec)[0]
        op["count"] = (op["count"] or 0) + 1
    if rec["workload"] == "table_writes":
        with open(os.path.join(data, "_ROWS.json")) as f:
            source_rows = sum(json.load(f).values())
        for op in ops:
            if op["cls"] == "clone" and "error" not in op and op["count"] != source_rows:
                op["error"] = f"cloned {op['count']} rows, source has {source_rows}"
    if rec["oracle"]:
        want = oracle.counts(data, rec["oracle"])
        for op in ops:
            if "error" in op:
                continue
            if op["name"] not in want:
                op["error"] = "no oracle SQL"
            elif op["count"] != want[op["name"]]:
                op["error"] = f"count {op['count']} != oracle {want[op['name']]}"
        if rec["traced"]:
            # the dump ran after the measured passes; a wrong value fails
            # the query's op in the first of them
            diffs = oracle.compare(data, rec["oracle"], os.path.join(run_dir, "compare"))
            first = measured(rec)[0]["pass"]
            for op in ops:
                why = diffs.get(op["name"])
                if why and op["pass"] == first and "error" not in op:
                    op["error"] = f"value compare: {why}"
    for op in ops:
        if "error" in op:
            failures.append(f"{op['name']} (pass {op['pass']}): {op['error']}")
    return failures


def measured(rec):
    """Ops of the measured passes (a traced run's untraced pass excluded)."""
    first, last = rec["passes"][0]["start"], rec["passes"][-1]["end"]
    return [op for op in rec["ops"] if first <= op["start"] <= last]


def end_to_end(rec, setup_s):
    walls = [(p["end"] - p["start"]) / 1000 for p in rec["passes"]]
    lats = [(op["end"] - op["start"]) / 1000 for op in measured(rec)]
    wall, n_pass = stats.percentile(walls, 50)
    p50, n_ops = stats.percentile(lats, 50)
    out = {"setup_s": (setup_s, "s", 1), "wall_s": (wall, "s", n_pass),
           "op_p50_s": (p50, "s", n_ops)}
    tail = stats.tail_percentile(n_ops)
    if tail:
        out[f"op_p{tail:g}_s"] = (stats.percentile(lats, tail)[0], "s", n_ops)
    if rec["workload"] == "table_writes":
        for k, (v, n) in stats.latency_metrics(measured(rec)).items():
            out[k] = (v, "s", n)
        amps = [stats.space_amp(a["table_bytes"], a["fresh_bytes"])
                for a in rec["extra"]["space_amp"]]
        out["space_amp"] = (statistics.median(amps), "ratio", len(amps))
        clones = [op for op in measured(rec) if op["cls"] == "clone"]
        rows = sum(op["count"] or 0 for op in clones)
        secs = sum(op["end"] - op["start"] for op in clones) / 1000
        out["clone_rows_per_s"] = (rows / secs, "1/s", len(clones))
    return out


def per_layer(rec, e2e):
    ops = measured(rec)
    m, table = stats.layer_metrics(ops, rec["trace"], len(rec["passes"]))
    m["heap_used_peak_mb"] = rec["heap_used_peak_mb"]
    u = rec["untraced_pass"]
    m["trace_overhead_s"] = e2e["wall_s"][0] - (u["end"] - u["start"]) / 1000
    for k in ("commit_p50_s", "merge_p50_s", "read_asof_p50_s", "space_amp", "clone_rows_per_s"):
        m[k] = e2e[k][0] if k in e2e else 0.0
    return m, table


def per_layer_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {x["name"]: x["unit"] for x in json.load(f)["per_layer"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-wrong-count", action="store_true",
                    help="corrupt one observed count to show the check fails the run")
    a = ap.parse_args()
    if a.workload == "all":
        return run_all(a)
    build()
    steal0 = steal_s()
    t_setup = time.time()
    deadline = t_setup + RUN_TIMEOUT_S
    data, warm = inputs(a.workload, a.seed)
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "record.json")
    rec = run_jvm(a.workload, a.seed, a.seconds, a.trace, data, warm, run_dir, out, deadline)
    steal1 = steal_s()
    setup_s = rec["first_op_ms"] / 1000 - t_setup
    failures = check(rec, data, run_dir, a.inject_wrong_count)
    ops = measured(rec)
    n_failed = sum(1 for op in ops if "error" in op)
    e2e = end_to_end(rec, setup_s)
    rec["stamp"].update(workload=a.workload, seed=a.seed, trace=a.trace,
                        input=data, shape="split" if WORKLOADS[a.workload]["split"] else "single",
                        sf=WORKLOADS[a.workload]["sf"], commit=git_commit(),
                        nproc=nproc(), heap=HEAP,
                        host_steal_s=None if steal0 is None else round(steal1 - steal0, 2))

    log(f"perfbench {a.workload} seed={a.seed} trace={a.trace} "
        + " ".join(f"{k}={v}" for k, v in rec["stamp"].items()))
    log(f"  warm-up failures: {rec['warm_failed']}   ops: {len(ops)}   "
        f"failed: {n_failed}   fail_frac: {n_failed / max(1, len(ops)):.4f}")
    for k, (v, u, n) in e2e.items():
        log(f"  {k:<18} {v:>14.6f} {u:<6} (n={n})")
    for f in failures:
        log(f"  FAIL {f}")

    result_dir = os.path.join(WORK, "results")
    os.makedirs(result_dir, exist_ok=True)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    if a.trace:
        layers, table = per_layer(rec, e2e)
        log(f"  {'layer':<8} {'spans':>7} {'total_s':>10} {'self_s':>10}")
        for layer, (n, tot, own) in table.items():
            log(f"  {layer:<8} {n:>7} {tot:>10.3f} {own:>10.3f}")
        units = per_layer_units()
        for k, u in units.items():
            log(f"  {k:<34} {layers.get(k, 0.0):>16.4f} {u}")
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in units.items()}
        with open(os.path.join(result_dir, name + ".spans.json"), "w") as f:
            json.dump({"stamp": rec["stamp"], "ops": rec["ops"], "trace": rec["trace"]}, f)
    else:
        metrics = {k: {"value": e2e[k][0], "unit": e2e[k][1]} for k in E2E}
    summary = {"correct": not failures, "attempted": len(ops), "failed": n_failed,
               "metrics": metrics}
    with open(os.path.join(result_dir, name + ".json"), "w") as f:
        json.dump({"stamp": rec["stamp"], "summary": summary,
                   "end_to_end": {k: {"value": v, "unit": u, "n": n}
                                  for k, (v, u, n) in e2e.items()},
                   "failures": failures, "ops": rec["ops"]}, f)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(summary), flush=True)
    return 0 if not failures else 1


def run_all(a):
    """Runs every BENCHMARK.json workload and prints its end-to-end metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = [w["name"] for w in json.load(f)["workloads"]]
    results, rc = {}, 0
    for name in names:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace)]
        if a.inject_wrong_count:
            cmd.append("--inject-wrong-count")
        r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        rc = rc or r.returncode
        try:
            results[name] = json.loads(r.stdout.strip().splitlines()[-1])
        except (IndexError, ValueError):
            results[name] = None
    for name, res in results.items():
        if res is None:
            print(f"{name}: no result")
            continue
        fail_frac = res["failed"] / res["attempted"]
        print(f"{name}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} fail_frac={fail_frac:.4f}")
        for k, m in res["metrics"].items():
            print(f"  {k:<34} {m['value']:>16.6f} {m['unit']}")
    print(json.dumps(results), flush=True)
    return rc


def git_commit():
    """The commit the sources came from, or a hash of the sources when the
    checkout is not a git repository."""
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                               text=True, timeout=10)
            if r.returncode == 0:
                return r.stdout.strip()
        except OSError:
            pass
    return "src-" + source_stamp()[:12]


if __name__ == "__main__":
    sys.exit(main())
