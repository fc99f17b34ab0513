#!/usr/bin/env python3
"""graft's performance benchmark: one run of one workload.

    python3 perfbench/run.py --workload search|fit|dedup --seed N \
        --seconds S --trace 0|1

Builds the program and the harness from source if needed (build.py), runs
the workload in-process on local[nproc], and prints the run record and,
as the last line, the result JSON: {"correct", "attempted", "failed",
"metrics"}. --trace 0 reports the end-to-end metrics, --trace 1 the
per-layer ones. Exits non-zero without a result when the build or the
run fails. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import stats  # noqa: E402

RUN_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def commit():
    try:
        res = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        return res.stdout.strip() if res.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(classes, args, cores, work):
    out = work / "record.json"
    log = work / "jvm.log"
    (work / "tmp").mkdir(parents=True)
    # -XX:-UsePerfData: the JVM would otherwise write its perf file to /tmp
    cmd = [build.java(), "-XX:-UsePerfData", "-Xmx3g", "-Xss8m",
           f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{build.spark_jars() / '*'}", "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--work", str(work), "--out", str(out)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work, env=env)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # also on SIGTERM (see main): never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not out.exists():
        tail = log.read_text(errors="replace")[-3000:]
        raise RuntimeError(f"benchmark JVM ended with {rc}:\n{tail}")
    return json.loads(out.read_text())


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("search", "fit", "dedup"))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # turn SIGTERM into SystemExit, so the finally blocks stop the JVM and
    # remove the work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    load_start = os.getloadavg()
    try:
        classes, source_digest = build.build()
    except build.BuildError as e:
        sys.exit(f"perfbench: build failed: {e}")
    cores = len(os.sched_getaffinity(0))
    work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    t0 = time.time()
    try:
        raw = run_jvm(classes, args, cores, work)
    except RuntimeError as e:
        sys.exit(f"perfbench: run failed: {e}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    result, record = stats.summarize(raw)
    record["env"] = {
        "nproc": cores,
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(),
        "java_version": raw["java_version"],
        "spark_version": raw["spark_version"],
        "seed": args.seed,
        "commit": commit(),
        "source_digest": source_digest,
        "run_wall_s": round(time.time() - t0, 3),
    }
    print("record " + json.dumps(record), flush=True)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
