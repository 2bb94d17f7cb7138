#!/usr/bin/env python3
"""Layer-attributed benchmark of the graft Spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and
the harness from the checkout's sources with sbt (perfbench/build.sbt);
later runs reuse the build while the sources are unchanged. One run is
one fresh JVM: set-up, one cold pass over the workload's queries, warm
passes for --seconds, then an untimed pass whose output hashes are
compared with perfbench/expected.json. The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}; with
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")

def spark_home():
    """The Spark installation whose jars the program builds and runs
    against: $SPARK_HOME, else the one `spark-submit` on PATH is in."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            sys.exit("perfbench: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return home

# a run's fixed part (set-up, cold and settle passes, output check)
# is well under RUN_TIMEOUT_BASE_S; the warm passes add about --seconds
RUN_TIMEOUT_BASE_S = 170
BUILD_TIMEOUT_S = 840

# Module opens Spark needs on JDK 17 outside spark-submit
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

END_TO_END_UNITS = {
    "setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s",
}

PER_LAYER_UNITS = {
    "tables.load_ms": "ms", "scan.input_mb": "MB", "scan.input_rows": "count",
    "body_s": "s", "body.jobs": "count", "driver_only_s": "s", "driver_only.min_ms": "ms",
    "plan_s": "s", "plan.analysis_ms": "ms", "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms", "sql.executions": "count", "exec_s": "s",
    "codegen.compiles": "count", "codegen.compile_s": "s", "codegen.warm_compiles": "count",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.delay_s": "s", "sched.deserialize_s": "s", "sched.core_util": "ratio",
    "task.run_s": "s", "task.cpu_s": "s", "task.gc_s": "s", "task.peak_exec_mem_mb": "MB",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.fetch_wait_s": "s",
    "shuffle.write_s": "s", "spill.mem_mb": "MB", "spill.disk_mb": "MB",
    "cache.persisted_left": "count", "cache.release_s": "s",
    "stream.batches": "count", "stream.trigger_s": "s", "stream.add_batch_s": "s",
    "stream.query_planning_s": "s", "stream.wal_commit_s": "s", "stream.commit_offsets_s": "s",
    "trace.untagged_jobs": "count", "trace.overhead_s": "s", "peak_rss_mb": "MB",
    "jvm.setup_cpu_s": "s", "jvm.cold_cpu_s": "s", "jvm.warm_cpu_s": "s",
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group and waits for it; on timeout
    kills the whole group (sbt's JVM included) before raising."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def source_digest():
    """Digest of every file the build reads, so an edited tree rebuilds."""
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compiles program + harness unless the last build saw these sources."""
    stamp = os.path.join(BUILD_DIR, "build.stamp")
    digest = source_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(CLASSES):
        return
    log("building program and harness with sbt")
    sbt_tmp = os.path.join(BUILD_DIR, "sbt-tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    env = dict(os.environ, SPARK_HOME=spark_home(), COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}",
        "-Dsbt.offline=true", "-Dsbt.server.forcestart=false", f"-Djava.io.tmpdir={sbt_tmp}",
        "-Xmx3g"]))
    with open(os.path.join(BUILD_DIR, "build.log"), "w") as out:
        code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                         BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=out,
                         stderr=subprocess.STDOUT)
    if code != 0:
        sys.exit(f"perfbench: build failed, see {BUILD_DIR}/build.log")
    with open(stamp, "w") as f:
        f.write(digest)


def query_order(workload, spec, seed):
    """The seed fixes the execution order of the workload's fixed query
    set; the same seed always gives the same order."""
    qs = list(spec["queries"])
    random.Random(f"{workload}/{seed}").shuffle(qs)
    return qs


def cpu_count():
    return len(os.sched_getaffinity(0))


def harness(run_dir, harness_args, timeout):
    """Runs one harness JVM with its scratch space under run_dir;
    returns (record, launch epoch ms)."""
    out = os.path.join(run_dir, "record.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xmx4g", "-XX:-UsePerfData", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{CLASSES}:{os.path.join(spark_home(), 'jars')}/*", "perfbench.Harness",
              f"cpus={cpu_count()}", f"out={out}"] + harness_args)
    with open(os.path.join(run_dir, "jvm.log"), "w") as jvm_log:
        launch_ms = time.time() * 1000.0
        code = run_group(cmd, timeout, cwd=run_dir, stdout=jvm_log, stderr=subprocess.STDOUT)
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit(f"perfbench: harness exited with {code}")
    with open(out) as f:
        return json.load(f), launch_ms


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run must not leave its JVM behind (run_group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = {k: v for k, v in json.load(f).items() if not k.startswith("_")}
    if args.workload not in workloads:
        sys.exit(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads)}")
    spec = workloads[args.workload]
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        sys.exit(f"perfbench: program sources not found under {PROGRAM_SRC}")
    os.makedirs(BUILD_DIR, exist_ok=True)
    build()

    queries = query_order(args.workload, spec, args.seed)
    sf_dir = os.path.join(HERE, "corpus", spec["sf"])
    run_dir = os.path.join(BUILD_DIR, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        record, launch_ms = harness(run_dir, [
            "mode=run", f"sf={sf_dir}", f"queries={','.join(queries)}",
            f"seconds={args.seconds}", f"trace={args.trace}"],
            timeout=RUN_TIMEOUT_BASE_S + 2 * args.seconds)
    finally:
        keep = os.path.join(BUILD_DIR, "last-jvm.log")
        if os.path.exists(os.path.join(run_dir, "jvm.log")):
            shutil.copy(os.path.join(run_dir, "jvm.log"), keep)
        rec_path = os.path.join(run_dir, "record.json")
        if os.path.exists(rec_path):
            shutil.copy(rec_path, os.path.join(BUILD_DIR, "last-record.json"))
        shutil.rmtree(run_dir, ignore_errors=True)

    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)["hashes"].get(spec["sf"], {})
    attempted, failed, reasons = metrics.failures(record, expected)
    for r in reasons:
        log(f"FAILED {r}")
    summary = f"{args.workload} seed={args.seed}: failed_frac={failed / attempted:.4f} " \
        f"({failed}/{attempted})"
    if args.trace:
        layer = metrics.per_layer(record)
        result = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
        trace_dir = os.path.join(BUILD_DIR, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_path = os.path.join(trace_dir, f"{args.workload}-{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"spans": metrics.spans(record, args.workload, args.seed),
                       "layers": layer}, f)
        log(summary + f", spans in {os.path.relpath(trace_path, ROOT)}")
    else:
        e2e, info = metrics.end_to_end(record, launch_ms)
        result = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
        log(summary + ", " + ", ".join(f"{k}={v:.4f} {END_TO_END_UNITS[k]}" for k, v in e2e.items())
            + f", query_p50_ms={info['query_p50_ms']:.4f} ms over {info['samples']} samples"
            + ", query_tail_ms="
            + ("n/a (too few samples)" if info["tail_ms"] is None else
               f"{info['tail_ms']:.4f} ms at p{info['tail_percentile']:.1f}")
            + f", warm passes={info['warm_passes']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": result}))


if __name__ == "__main__":
    main()
