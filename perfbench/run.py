#!/usr/bin/env python3
"""meepospark benchmark: one workload, one seeded run, one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. It builds the engine and the harness
from source (cached in .bench_build/ until a source file changes), runs
the workload in a fresh JVM, checks the outputs, and prints as its last
line {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. The line
before it records the seed and the machine. Exit status is 0 only when
every output check passed. Workloads and their frozen query lists are
in perfbench/workloads.json; perfbench/README.md explains each metric.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from benchlib import report  # noqa: E402

BUILD_DIR = ".bench_build"
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 840
# what build.sbt gives forked JVMs: Spark on JDK 17 outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest(root):
    """Digest of every file the build reads, in a stable order."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src/main",
            "perfbench/harness/build.sbt", "perfbench/harness/project/build.properties",
            "perfbench/harness/src"]
    for top in tops:
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, cwd, env, log_path, limit_s):
    """Run cmd in its own process group, output to log_path; kill the
    whole group if it outlives limit_s. Returns the exit code."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, limit_s))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def tail(path, n=30):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def build(root, digest):
    """Compile engine + harness unless the sources are unchanged since
    the last build; return the runtime classpath."""
    os.makedirs(os.path.join(root, BUILD_DIR), exist_ok=True)
    stamp = os.path.join(root, BUILD_DIR, "build.stamp")
    cp_file = os.path.join(root, BUILD_DIR, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    harness = os.path.join(root, "perfbench", "harness")
    log = os.path.join(root, BUILD_DIR, "build.log")
    code = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                        "compile", "writeClasspath"], harness, env, log, BUILD_LIMIT_S)
    if code != 0:
        sys.stderr.write(tail(log))
        fail(f"build failed (exit {code}); log in {log}")
    shutil.copyfile(os.path.join(harness, "target", "classpath.txt"), cp_file)
    with open(stamp, "w") as f:
        f.write(digest)
    with open(cp_file) as g:
        return g.read().strip()


def disk_free_mb(path):
    st = os.statvfs(path)
    return round(st.f_bavail * st.f_frsize / 2**20, 1)


def loadavg():
    with open("/proc/loadavg") as f:
        return " ".join(f.read().split()[:3])


def git_commit(root):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def stage_feed(data_dir, files, pool):
    """Split the fixture events table into `files` parquet files of
    equal size, file i holding the i-th run of event ids."""
    import pyarrow.parquet as pq
    table = pq.read_table(os.path.join(data_dir, "events.parquet")).sort_by("event_id")
    if table.num_rows % files:
        fail(f"{table.num_rows} events do not split into {files} equal files")
    per = table.num_rows // files
    os.makedirs(pool)
    for i in range(files):
        pq.write_table(table.slice(i * per, per), os.path.join(pool, f"f_{i:05d}.parquet"))


def make_job(cfg, wl, args, root, work):
    """The harness job for one seeded run. The seed permutes the query
    order (batch) or the feed's file order, which also decides which
    files are backlog and which are tail (stream)."""
    rng = random.Random(args.seed)
    job = {
        "kind": wl["kind"], "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": bool(args.trace), "cpus": cfg["cpus"],
        "data_dir": os.path.join(HERE, "data", args.scale),
        "work_dir": work, "out": os.path.join(work, "report.json"),
    }
    if wl["kind"] == "batch":
        queries = list(wl["queries"])
        rng.shuffle(queries)
        job["queries"] = queries
        job["warm_passes"] = wl["warm_passes"]
    else:
        order = list(range(wl["stream"]["files"]))
        rng.shuffle(order)
        job["file_order"] = order
        job["stream"] = dict(wl["stream"])
    return job


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", default=None, help="fixture scale, e.g. sf0.001 (default: workloads.json)")
    args = ap.parse_args()
    t_start = time.time()
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("run from the repository root: build.sbt and src/main/scala are missing")
    with open(os.path.join(HERE, "workloads.json")) as f:
        cfg = json.load(f)
    if args.workload not in cfg["workloads"]:
        fail(f"unknown workload {args.workload!r}; known: {', '.join(cfg['workloads'])}")
    wl = cfg["workloads"][args.workload]
    args.scale = args.scale or cfg["scale"]
    cfg["cpus"] = len(os.sched_getaffinity(0))
    machine = {"nproc": cfg["cpus"], "loadavg_start": loadavg(),
               "disk_free_mb_start": disk_free_mb(root), "git_commit": git_commit(root)}

    digest = source_digest(root)
    classpath = build(root, digest)
    machine["source_digest"] = digest[:16]
    build_dir = os.path.join(root, BUILD_DIR)
    work = os.path.join(build_dir, f"run-{os.getpid()}")
    for stale in os.listdir(build_dir):  # left by a run that was killed
        if stale.startswith("run-"):
            shutil.rmtree(os.path.join(build_dir, stale), ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        job = make_job(cfg, wl, args, root, work)
        stage_s = 0.0
        if job["kind"] == "stream":
            t0 = time.perf_counter()
            stage_feed(job["data_dir"], job["stream"]["files"], os.path.join(work, "stream", "pool"))
            stage_s = time.perf_counter() - t0
        job_path = os.path.join(work, "job.json")
        with open(job_path, "w") as f:
            json.dump(job, f)
        heap = cfg["heap"]
        cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
        for m in ADD_OPENS:
            cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
        cmd += ["-cp", classpath, "perfbench.Main", job_path]
        log = os.path.join(work, "harness.log")
        spawn_ms = time.time() * 1e3
        code = run_bounded(cmd, work, dict(os.environ), log,
                           RUN_LIMIT_S - (time.time() - t_start))
        if code != 0 or not os.path.exists(job["out"]):
            sys.stderr.write(tail(log, 60))
            fail(f"harness exited with {code}", 1)
        with open(job["out"]) as f:
            raw = json.load(f)
        raw["spawn_ms"] = spawn_ms
        raw["feed_stage_s"] = stage_s
        result, detail = report.reduce(job, raw, root)
        if args.trace:
            trace_dir = os.path.join(build_dir, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"), "w") as f:
                json.dump({"spans": raw["spans"], "metrics": result["metrics"]}, f)
        machine.update({"master": raw["master"], "heap_mb": raw["heap_mb"],
                        "spark_version": raw["spark_version"]})
    finally:
        shutil.rmtree(work, ignore_errors=True)
    machine.update({"loadavg_end": loadavg(), "disk_free_mb_end": disk_free_mb(root)})
    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                      "scale": args.scale, "machine": machine, **detail}))
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
