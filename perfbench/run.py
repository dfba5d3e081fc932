#!/usr/bin/env python3
"""graft benchmark: one command that builds, runs, checks and reports.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: analytics, training_data, graph, stream_window (see README.md).
Run from the repository root or anywhere else; everything it builds or
writes stays under perfbench/out/. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}, with the
end-to-end metrics when --trace is 0 and the per-layer metrics when it
is 1.
"""
import sys

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import time

import check

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
WORKLOADS = ["analytics", "training_data", "graph", "stream_window"]
# the tables are the fixed seed-42 set; --seed drives the stream events
TABLE_SEED = 42
SCALE, WARM_SCALE = 0.1, 0.001
SETUPS = 3
HEAP = "3g"
BUILD_TIMEOUT_S = 780
UNITS = {
    "setup_s": "s", "wall_s": "s", "cpu_s": "s", "peak_heap_mb": "MB",
    "output_mb": "MB", "events_per_s": "1/s", "batch_p50_ms": "ms",
    "entry.build_s": "s", "entry.build_jobs": "count", "catalyst.plan_s": "s",
    "exec.action_s": "s", "physical.write_s": "s", "physical.write_tasks": "count",
    "physical.output_files": "count", "functions.kernel_s": "s", "estimator.fit_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.idle_s": "s", "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.gc_s": "s", "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB", "spark.task_skew": "ratio", "spark.core_busy": "ratio",
    "streaming.trigger_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "count",
}
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def tree_hash(paths):
    h = hashlib.sha256()
    for root in paths:
        if os.path.isfile(root):
            files = [root]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, REPO).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the library and the benchmark (sbt, once per source
    change) and return the runtime classpath."""
    sources = [os.path.join(REPO, "src", "main"), os.path.join(REPO, "build.sbt"),
               os.path.join(REPO, "project", "build.properties"),
               os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
               os.path.join(HERE, "src")]
    missing = [p for p in sources if not os.path.exists(p)]
    if missing:
        die("cannot build: missing " + ", ".join(os.path.relpath(p, REPO) for p in missing))
    stamp = tree_hash(sources)
    bdir = os.path.join(OUT, "build")
    cp_file, stamp_file = os.path.join(bdir, "classpath.txt"), os.path.join(bdir, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), stamp
    os.makedirs(bdir, exist_ok=True)
    log("building (sbt writeClasspath)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        # resolve from the local caches only, as the repository's own build does
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    t0 = time.time()
    try:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
    except subprocess.TimeoutExpired:
        die(f"build did not finish in {BUILD_TIMEOUT_S} s")
    if p.returncode != 0 or not os.path.exists(cp_file):
        sys.stderr.write(p.stdout[-4000:])
        die("build failed")
    log(f"built in {time.time() - t0:.1f} s")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return open(cp_file).read().strip(), stamp


def java_cmd(cp, *args, heap=HEAP):
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed young generation makes collections come at a steady
    # allocation interval, which steadies round times and the after-GC
    # heap samples behind peak_heap_mb
    return (["java", f"-Xms{heap}", f"-Xmx{heap}", "-Xmn256m", "-XX:-UsePerfData", *opens,
             f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
             f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", cp, "graft.perfbench.Main", *args])


def tables(scale):
    """Generate the seed-42 tables at `scale` once per generator version."""
    version = tree_hash([os.path.join(HERE, "gendata.py")])[:12]
    d = os.path.join(OUT, "data", f"sf{scale}-seed{TABLE_SEED}-{version}")
    done = os.path.join(d, "_complete")
    if not os.path.exists(done):
        import gendata  # numpy and pyarrow load only when tables are made
        shutil.rmtree(d, ignore_errors=True)
        gendata.write(d, scale, TABLE_SEED)
        open(done, "w").close()
    return d


def oracle_sql(cp, stamp):
    f = os.path.join(OUT, "build", f"oracle_sql-{stamp[:16]}.json")
    if not os.path.exists(f):
        p = subprocess.run(java_cmd(cp, "--dump-oracles", f, heap="1g"),
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=120, text=True)
        if p.returncode != 0 or not os.path.exists(f):
            sys.stderr.write(p.stdout[-4000:])
            die("could not read the oracle SQL from the library")
    return json.load(open(f))


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    started = time.time()

    first_run = not os.path.exists(os.path.join(OUT, "build", "stamp"))
    cp, stamp = build()
    data, warm = tables(SCALE), tables(WARM_SCALE)
    oracles = check.Oracles(os.path.join(OUT, "oracle"), data, oracle_sql(cp, stamp))
    oracles.prepare()

    run_dir = os.path.join(OUT, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cores = len(os.sched_getaffinity(0))
    cmd = java_cmd(cp, "--workload", a.workload, "--seed", str(a.seed),
                   "--seconds", str(a.seconds), "--trace", str(a.trace),
                   "--data", data, "--warm-data", warm, "--out", run_dir,
                   "--cores", str(cores), "--setups", str(SETUPS))
    # a run ends within 180 s; the first one in a checkout, which also
    # builds, generates the tables and fills the oracle cache, within 900 s
    budget = (880.0 if first_run else 170.0) - (time.time() - started)
    with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
        try:
            p = subprocess.run(cmd, stdout=jlog, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=budget)
        except subprocess.TimeoutExpired:
            die(f"workload did not finish in {budget:.0f} s; see {jlog.name}", 1)
    report_file = os.path.join(run_dir, "jvm.json")
    if p.returncode != 0 or not os.path.exists(report_file):
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        die(f"workload process exited with {p.returncode}", 1)
    rep = json.load(open(report_file))

    failed_ops = {f["op"]: f for f in rep["failures"]}
    check_failures = [f for f in rep["failures"] if f["phase"] == "check"]
    for out in rep["outputs"]:
        err = oracles.check(out["query"], out["path"])
        op = f"r{out['round']}:{out['query']}"
        if err:
            f = {"op": op, "phase": "check", "error": err}
            check_failures.append(f)
            failed_ops.setdefault(op, f)
    for f in failed_ops.values():
        log(f"FAILED {f['op']} ({f['phase']}): {f['error']}")

    metrics = rep["per_layer"] if a.trace else rep["end_to_end"]
    result = {
        "correct": not check_failures,
        "attempted": rep["attempted"],
        "failed": len(failed_ops),
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in sorted(metrics.items())},
    }
    print(f"perfbench workload={a.workload} seed={a.seed} cores={rep['cores']} "
          f"rounds={rep['rounds']} round_wall_s={rep['round_wall_s']} "
          f"setup_s={rep['setup_seconds']} checked_outputs={len(rep['outputs'])} "
          f"run_dir={os.path.relpath(run_dir, REPO)}")
    # the outputs were only needed for the checks; the reports stay
    for entry in os.scandir(run_dir):
        if entry.is_dir():
            shutil.rmtree(entry.path, ignore_errors=True)
    log(f"finished in {time.time() - started:.1f} s")
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
