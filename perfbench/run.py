#!/usr/bin/env python3
"""Pipeline benchmark for graft.

Builds the harness (perfbench/build.sbt compiles the repo's sources with
it), runs one workload for a seed, checks every output, and prints one bare
JSON line per metric followed by a final result object.

    python3 perfbench/run.py --workload incr_daily --seed 1 --seconds 18 --trace 0

`--workload all` runs every workload in turn. `--trace 1` adds two traced
iterations and reports the per-layer metrics instead of the end-to-end
ones. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ["incr_daily", "curation"]

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "instances_per_s": "1/s",
    "rows_per_s": "1/s",
    "retained_heap_mb": "MB",
}

PER_LAYER = {
    "model.parse_s": "s", "model.assets": "count",
    "exec.lint.validate_s": "s", "exec.lint.dry_run_s": "s",
    "render.busy_s": "s", "render.calls": "count", "render.out_kb": "KB",
    "exec.scheduler.instances": "count", "exec.scheduler.busy_s": "s",
    "exec.scheduler.queue_wait_s": "s", "exec.scheduler.critical_path_s": "s",
    "exec.scheduler.parallelism": "ratio", "exec.scheduler.retries": "count",
    "exec.scheduler.failed": "count",
    "catalyst.queries": "count", "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "spark.jobs": "count", "spark.tasks": "count", "spark.task_s": "s",
    "spark.cpu_s": "s", "spark.gc_s": "s", "spark.input_mb": "MB",
    "spark.shuffle_mb": "MB", "spark.spill_mb": "MB", "spark.scan_amplification": "ratio",
    "materialize.write_s": "s", "materialize.rows_written": "count",
    "materialize.mb_written": "MB", "materialize.files_written": "count",
    "materialize.write_amplification": "ratio",
    "materialize.warehouse.catalog_ops": "count", "materialize.warehouse.catalog_s": "s",
    "materialize.warehouse.live_generations": "count",
    "materialize.warehouse.space_amplification": "ratio",
    "checks.instances": "count", "checks.busy_s": "s", "checks.scans": "count",
    "checks.input_mb": "MB",
    "sources.ingest_s": "s", "sources.rows_in": "count",
    "ops.busy_s": "s", "ops.pinned_mb": "MB", "ops.pinned_blocks": "count",
    "host.calibration_s": "s", "trace.overhead_frac": "ratio",
}

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def read(path):
    with open(path) as f:
        return f.read()


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def source_stamp():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the harness with the checkout's sources once per source
    state; returns the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "Main.scala")):
        fail("graft sources not found under src/main/scala; run from a full checkout")
    out = build_dir()
    stamp_file, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath.txt")
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) and read(stamp_file) == stamp:
        return read(cp_file).strip()
    os.makedirs(out, exist_ok=True)
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}", f"-Dbench.target={os.path.join(out, 'sbt')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    spark_home = os.environ.get("SPARK_HOME") or (
        os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
        if shutil.which("spark-submit") else None)
    if not spark_home:
        fail("set SPARK_HOME (the build compiles against $SPARK_HOME/jars)")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts), SPARK_HOME=spark_home)
    with open(os.path.join(out, "build.log"), "w") as log:
        try:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                                "export Runtime/fullClasspath"],
                               cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
                               timeout=840)
        except subprocess.TimeoutExpired:
            fail("build timed out")
        log.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        fail(f"build failed, see {os.path.join(out, 'build.log')}")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def harness(classpath, args, work, timeout):
    """Runs the JVM harness; its console output goes to <work>/harness.log."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # a fixed heap, so that every run collects on the same schedule
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           *ADD_OPENS, "-cp", classpath, "graftbench.Harness", *args]
    with open(os.path.join(work, "harness.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return -1


def metrics(res, trace):
    runs = res["run_s"]
    if trace:
        layers = dict(res["layers"])
        layers["host.calibration_s"] = statistics.median(res["calibration_s"])
        layers["trace.overhead_frac"] = statistics.median(res["traced_s"]) / statistics.median(runs) - 1
        return {k: (layers[k], PER_LAYER[k]) for k in PER_LAYER}
    values = {
        "setup_s": statistics.median(res["setup_s"]),
        "run_s": statistics.median(runs),
        "instances_per_s": statistics.median(n / t for n, t in zip(res["timed_instances"], runs)),
        "rows_per_s": statistics.median(n / t for n, t in zip(res["timed_rows"], runs)),
        "retained_heap_mb": res["retained_heap_mb"],
    }
    return {k: (values[k], END_TO_END[k]) for k in END_TO_END}


def run_workload(classpath, workload, seed, seconds, trace, timeout):
    work = os.path.join(ROOT, ".bench_work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    rc = harness(classpath, ["run", "--workload", workload, "--seed", str(seed),
                             "--seconds", str(seconds), "--trace", "1" if trace else "0",
                             "--work", work], work, timeout)
    result = os.path.join(work, "result.json")
    if rc != 0 or not os.path.isfile(result):
        fail(f"{workload}: harness exited {rc}, see {os.path.join(work, 'harness.log')}")
    with open(result) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=18)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    classpath = build()
    names = WORKLOADS if a.workload == "all" else [a.workload]
    final = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in names:
        # a run must end within 180 s; a run that had to build may take longer
        res = run_workload(classpath, w, a.seed, a.seconds, a.trace == 1, 170)
        mismatches = res["mismatches"]
        for m in mismatches:
            print(f"perfbench: {w}: wrong result: {m}", file=sys.stderr)
        if res["failed_instances"]:
            print(f"perfbench: {w}: {res['failed_instances']} task instances failed, "
                  f"see {os.path.join(ROOT, '.bench_work', w, 'harness.log')}", file=sys.stderr)
        attempted = res["attempted"]
        failed = res["failed_instances"] + len(mismatches)
        final["correct"] &= failed == 0
        final["attempted"] += attempted
        final["failed"] += failed
        ms = metrics(res, a.trace == 1)
        ms_all = {**ms, "failed_frac": (failed / max(1, attempted), "ratio"),
                  "host.calibration_s": (statistics.median(res["calibration_s"]), "s")}
        for name, (value, unit) in ms_all.items():
            print(json.dumps({"name": name, "value": value, "unit": unit, "workload": w}))
        for name, v in sorted(res["self_s"].items()):
            print(json.dumps({"name": f"self.{name}_s", "value": v, "unit": "s", "workload": w}))
        key = (lambda n: n) if len(names) == 1 else (lambda n: f"{w}.{n}")
        final["metrics"].update({key(n): {"value": v, "unit": u} for n, (v, u) in ms.items()})
    print(json.dumps(final))
    sys.exit(0 if final["correct"] else 1)


if __name__ == "__main__":
    main()
