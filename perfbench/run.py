#!/usr/bin/env python3
"""Benchmark entry point; run from the root of a checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine together with the harness in perfbench/ (sbt, once
per source tree; later runs reuse the build in .bench_build/), runs one
JVM for the workload, checks the catalog results against the oracle
digests in perfbench/expected_digests.json, and prints two JSON lines:
a detail record (run facts, input properties, sample counts, failed
ops), then the result line {"correct", "attempted", "failed", "metrics"}.
Every file it writes stays under .bench_build/ in the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
HARNESS_SRC = [os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
               os.path.join(HERE, "project", "build.properties")]
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    for top in [ENGINE_SRC] + HARNESS_SRC:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness unless this exact source tree is built;
    returns (classpath, source hash)."""
    digest = source_hash()
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "target", "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == digest:
                with open(cp_file) as c:
                    return c.read().strip(), digest
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"])
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(cp_file):
        die(f"build failed, see {os.path.join(BUILD, 'build.log')}")
    with open(stamp, "w") as f:
        f.write(digest)
    with open(cp_file) as c:
        return c.read().strip(), digest


def driver_heap():
    """The tier-1 formula: half of physical memory, clamped to 2-8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def commit():
    """The checked-out commit, when the checkout is a git work tree."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def check_digests(report, failed_ops):
    """Counts each catalog result whose digest differs from the oracle's."""
    if not report["verify"]:
        return 0
    import duckdb
    from digest import parquet_digest
    with open(os.path.join(HERE, "expected_digests.json")) as f:
        expected = json.load(f)
    con = duckdb.connect()
    checked = 0
    for v in report["verify"]:
        checked += 1
        q = v["query"]
        try:
            got = parquet_digest(con, v["path"])
        except Exception as e:  # unreadable output fails the query
            failed_ops.append(f"digest:{q}: {e}")
            continue
        if got != expected.get(q):
            failed_ops.append(f"digest:{q}: result differs from the oracle")
    return checked


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    with open(os.path.join(HERE, "spec.json")) as f:
        spec = json.load(f)
    if a.workload not in spec["workloads"]:
        die(f"unknown workload {a.workload}")
    if not os.path.isfile(os.path.join(ENGINE_SRC, "scala", "graft", "SparkEntry.scala")):
        die("engine sources (src/main/scala) not found; run from the root of a checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are required")
    sys.path.insert(0, HERE)

    classpath, src_hash = build()
    t_start = time.time()
    nproc = os.cpu_count() or 1
    try:
        nproc = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    heap = driver_heap()
    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    report_path = os.path.join(work, "report.json")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc),
               SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    env.pop("SPARK_GRAFT_RELIABLE_CKPT", None)
    env.pop("SPARK_GRAFT_AQE", None)
    cmd = (["java"] + [x for p in JDK17_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xmx{heap}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", classpath,
              "graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--data", os.path.join(HERE, "data"), "--work", work,
              "--out", report_path, "--launched-ms", str(int(time.time() * 1000))])
    try:
        with open(os.path.join(work, "jvm.log"), "w") as log:
            proc = subprocess.Popen(cmd, env=env, stdout=log, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL, cwd=ROOT)
            try:
                rc = proc.wait(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = "timeout"
        if rc != 0 or not os.path.exists(report_path):
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            die(f"benchmark JVM failed ({rc})")
        with open(report_path) as f:
            report = json.load(f)

        failed_ops = list(report["failed_ops"])
        attempted = report["attempted"] + check_digests(report, failed_ops)
        kind = "per_layer" if a.trace else "end_to_end"
        wanted = spec[kind]
        missing = [m for m in wanted if m not in report["metrics"]]
        if missing:
            die(f"metrics missing from the run: {missing}; failed ops: {failed_ops[:5]}")
        facts = dict(report["facts"], wall_s=round(time.time() - t_start, 3), nproc=nproc, spark_graft_cpus=nproc, driver_heap=heap,
                     commit=commit(), source_sha256=src_hash, seed=a.seed,
                     why=spec["workloads"][a.workload])
        detail = {
            "facts": facts,
            "inputs": report["inputs"],
            "metrics": {k: report["metrics"][k] for k in wanted},
            "failed_ops": failed_ops,
            "detail": report["detail"],
        }
        if a.trace:
            detail["layer_targets"] = spec["per_layer"]
        print(json.dumps(detail))
        print(json.dumps({
            "correct": not failed_ops,
            "attempted": attempted,
            "failed": len(failed_ops),
            "metrics": {k: {"value": report["metrics"][k]["value"],
                            "unit": report["metrics"][k]["unit"]} for k in wanted},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
