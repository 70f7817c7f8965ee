#!/usr/bin/env python3
"""graft benchmark: one seeded, closed-loop workload per run.

    python3 perfbench/run.py --workload tpch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness with sbt (offline) into `.perfbench/`; later runs reuse that build
until a source file changes. Each run then

1. generates its input tables from the seed (`datagen.py`) into a fresh
   run directory, with its own COLE warehouse and Spark scratch space;
2. starts one JVM with a Spark `local[nproc]` session (`perfbench.Main`),
   which sets up `SetupReps` times, measures whole passes of the
   workload's operations for `--seconds`, and checks every result;
3. cross-checks the query keys' set-up rows against DuckDB (`oracle.py`);
4. prints a report line and, last, one JSON line with the metrics: the
   end-to-end ones with `--trace 0`, the per-layer ones with `--trace 1`.

A traced run also keeps its span tree in `.perfbench/spans/<workload>.json`.
The run directory is deleted at the end.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
HARNESS = os.path.join(HERE, "harness")
sys.path.insert(0, HERE)

WORKLOADS = ["tpch", "cole"]
# Generated data size: 1.0 = 1.5M orders (about 6M lineitem rows).
SCALE = 0.005
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

END_TO_END = {
    "setup_s": "s", "read_p50_s": "s", "read_tail_s": "s", "ops_per_s": "1/s",
    "scan_rows_per_s": "rows/s", "scan_mb_per_s": "MB/s", "heap_live_mb": "MB",
}
REPORT = dict(END_TO_END, **{
    "read_tail_pct": "%", "write_p50_s": "s", "write_tail_s": "s", "write_amp": "ratio",
    "space_amp": "ratio", "error_rate": "ratio", "session_start_s": "s",
    "read_samples": "count", "write_samples": "count",
    "trace.ops_per_s_untraced": "1/s", "trace.ops_per_s_traced": "1/s",
    "trace.overhead_pct": "%",
})
_COUNTS = ["build.jobs", "exec.jobs", "exec.stages", "exec.tasks", "exec.failed_tasks",
           "exec.exchanges", "exec.broadcasts", "cole.meta.files_planned",
           "cole.meta.footer_reads", "cole.scan.row_groups_decoded",
           "cole.scan.row_groups_skipped_bloom", "cole.scan.agg_pushed", "cole.scan.folded",
           "cole.commit.files_added", "cole.commit.files_removed",
           "cole.commit.row_groups_spliced", "cole.commit.noop_skips", "cole.commit.retries",
           "cole.commit.version_reads", "cole.table.live_files", "cole.table.dv_rows",
           "cole.io.opens"]
_BYTES = ["exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
          "cole.scan.bytes_read", "cole.commit.bytes_written", "cole.table.live_bytes",
          "io.bytes_read", "io.bytes_written"]
_SECONDS = ["build.s", "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
            "exec.action_s", "exec.task_run_s", "exec.task_cpu_s", "exec.task_gc_s",
            "exec.task_wait_s", "jvm.gc_s", "write_p50_s", "write_tail_s"] + [
    f"span.{layer}.self_s" for layer in
    ["op", "build", "analysis", "optimization", "planning", "action", "job", "stage"]]
PER_LAYER = dict(
    [(k, "count") for k in _COUNTS] + [(k, "bytes") for k in _BYTES] +
    [(k, "s") for k in _SECONDS] + [
        ("cole.meta.hit_ratio", "ratio"), ("cole.scan.skip_ratio", "ratio"),
        ("write_amp", "ratio"), ("space_amp", "ratio"), ("error_rate", "ratio"),
        ("trace.ops_per_s_untraced", "1/s"),
        ("trace.ops_per_s_traced", "1/s"), ("trace.overhead_pct", "%")])


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads: the engine's and the harness's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(f for f in files if os.path.isfile(f))


def build():
    """Compiles engine and harness unless the last build saw these sources."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no engine sources (build.sbt, src/main/scala) next to the benchmark")
    digest = hashlib.sha256()
    for f in sources():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return cp_file
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        env["SBT_OPTS"] = "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g" + (
            f" -Dsbt.repository.config={repos}" if os.path.isfile(repos) else "")
    log = os.path.join(WORK, "build.log")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(log, "w") as out:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                                 "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}",
                                 "writeClasspath"],
                                cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed (log: {log})")
    shutil.copy(os.path.join(HARNESS, "target", "classpath.txt"), cp_file)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp_file


def jvm_command(cp_file, run_dir, args):
    with open(cp_file) as f:
        cp = f.read().strip()
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    return ([java, "-Xmx2g", "-XX:+UseG1GC"] + [a for p in opens for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'spark-warehouse')}",
        "-Dspark.ui.enabled=false", "-Dspark.driver.host=127.0.0.1",
        # Spark's status store keeps every job, stage, task and SQL execution
        # up to these limits; small ones keep that history, which grows with
        # the number of operations run, out of `heap_live_mb`
        "-Dspark.ui.retainedJobs=10", "-Dspark.ui.retainedStages=10",
        "-Dspark.ui.retainedTasks=1000", "-Dspark.sql.ui.retainedExecutions=10",
        "-Dspark.driver.bindAddress=127.0.0.1", "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--data", os.path.join(run_dir, "data"),
        "--work", run_dir, "--out", os.path.join(run_dir, "result.json")])


def run_jvm(cmd, run_dir):
    env = dict(os.environ, GRAFT_COLE_WAREHOUSE=os.path.join(run_dir, "warehouse"),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "tmp"))
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    with open(log) as f:
        text = f.read()
    for line in text.splitlines():
        if line.startswith("[perfbench]"):
            print(line, file=sys.stderr)
    if rc != 0:
        sys.stderr.write(text[-4000:])
        fail(f"harness exited with {rc}", 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a terminated run still stops its children and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp_file = build()
    import datagen
    import oracle

    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        data = os.path.join(run_dir, "data")
        t0 = time.time()
        stats = datagen.write(args.seed, SCALE, data)
        with open(os.path.join(data, "stats.tsv"), "w") as f:
            for t, s in stats.items():
                f.write(f"{t}\t#rows\t{s['rows']}\n")
                f.writelines(f"{t}\t{c}\t{b}\n" for c, b in s["bytes"].items())
        t1 = time.time()
        run_jvm(jvm_command(cp_file, run_dir, args), run_dir)
        t2 = time.time()
        with open(os.path.join(run_dir, "result.json")) as f:
            res = json.load(f)
        failures = dict(res["failures"])
        failed = res["failed"]
        checked, mismatches = oracle.check(data, os.path.join(run_dir, "oracle"))
        for key, why in mismatches.items():
            print(f"[perfbench] FAIL {key}: DuckDB cross-check: {why[:500]}", file=sys.stderr)
            failed += res["op_counts"].get(key, 1) - failures.get(key, 0)
            failures[key] = res["op_counts"].get(key, 1)
        print(f"[perfbench] data {t1 - t0:.2f} s, harness {t2 - t1:.2f} s, DuckDB check of "
              f"{checked} keys {time.time() - t2:.2f} s", file=sys.stderr)
        spans = os.path.join(run_dir, "spans.json")
        if os.path.exists(spans):
            os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
            shutil.copy(spans, os.path.join(WORK, "spans", f"{args.workload}.json"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    report = dict(res["report"], error_rate=failed / max(res["attempted"], 1))
    print("perfbench report " + json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "failures": failures,
        "metrics": {k: {"value": report[k], "unit": u} for k, u in REPORT.items() if k in report},
    }, sort_keys=True))
    if args.trace:
        metrics = {k: {"value": res["per_layer"].get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}
        metrics["error_rate"]["value"] = report["error_rate"]
    else:
        metrics = {k: {"value": res["end_to_end"][k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"], "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
