#!/usr/bin/env python3
"""Build and run one graft benchmark workload.

    python3 perfbench/run.py --workload load_partitioned --seed 1 \
        --seconds 10 --trace 0

Run from the root of a graft checkout. The first run compiles graft and the
benchmark with sbt (offline) into the checkout's `.bench_build/`; later runs
reuse that build while the sources are unchanged and start the JVM directly.
Inputs, outputs, logs and one JSON record per run also live under
`.bench_build/perfbench/`.

Human-readable lines go to stdout first; the last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With `--trace 0` the
metrics are the end-to-end ones, with `--trace 1` the per-layer ones.
"""

import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
HEAP = "3g"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# The JVM flags spark-submit would add on JDK 17 (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file whose change must trigger a rebuild."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(f for f in files if os.path.isfile(f))


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} exceeded {timeout} s and was stopped")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def classpath():
    """The benchmark's runtime classpath, compiling first when stale."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources next to {HERE}; run from a graft checkout")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fc:
                    return fc.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD, "build.log")
    t0 = time.time()
    with open(log, "w") as fh:
        rc = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=fh,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cp = [ln for ln in lines if "perfbench" in ln and ":" in ln and
          not ln.startswith("[")]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {rc}); log in {log}")
    print(f"build: compiled in {time.time() - t0:.1f} s")
    with open(cp_file, "w") as fh:
        fh.write(cp[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp[-1]


def nproc():
    return len(os.sched_getaffinity(0))


def mem_total_kib():
    try:
        with open("/proc/meminfo") as fh:
            for ln in fh:
                if ln.startswith("MemTotal:"):
                    return int(ln.split()[1])
    except OSError:
        pass
    return None


def git_head():
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.isfile(head):
        return None
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=20)
        return out.stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        return None


def main():
    # a terminated run still stops the JVM or sbt it started (run_bounded
    # kills their process group on the way out)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["load_partitioned", "curate_corpus",
                             "near_dup_clusters"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    cp = classpath()
    cores = nproc()
    stamp = {"nproc": cores, "mem_total_kib": mem_total_kib(), "xmx": HEAP,
             "git_head": git_head(), "loadavg_before": os.getloadavg()}
    work = os.path.join(BUILD, "work")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    result = os.path.join(BUILD, "results", f"{tag}-{int(time.time())}.json")
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # a fixed heap (no resizing while jobs run) and no perf-data file
    # outside the checkout
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cores", str(cores),
            "--work", work, "--result", result]
    log = os.path.join(BUILD, "logs", f"{tag}.log")
    with open(log, "w") as fh:
        rc = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=fh,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.isfile(result):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"benchmark JVM exited {rc}; log in {log}")
    with open(result) as fh:
        rec = json.load(fh)
    stamp["loadavg_after"] = os.getloadavg()
    stamp["spark_version"] = rec["spark_version"]
    rec["stamp"] = stamp
    with open(result, "w") as fh:
        json.dump(rec, fh, indent=1)

    print(f"{args.workload} seed={args.seed} trace={args.trace} "
          f"jobs={rec['attempted']} failed={rec['failed']} "
          f"failed_frac={rec['failed_frac']:.4f} ratio")
    for p in rec["problems"]:
        print(f"  problem: {p}")
    for name, m in sorted(rec["end_to_end"].items()):
        print(f"  {name} = {m['value']:.6g} {m['unit']}")
    for name, m in sorted(rec["per_layer"].items()):
        print(f"  {name} = {m['value']:.6g} {m['unit']}")
    print("stamp " + json.dumps(stamp, sort_keys=True))
    print(f"record {os.path.relpath(result, ROOT)}")
    print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": rec["metrics"]}))


if __name__ == "__main__":
    main()
