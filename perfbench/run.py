#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the harness and the
library sources it measures (sbt, offline) into `.bench_build/`; later runs
reuse the build while no source file changed. Each run starts one JVM, which
prints a self-describing record line and, last, the result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--workload all` runs every workload in turn and prints a table of their
metrics by name, with units.

Exit status is non-zero, with no result line, when the build or any set-up
step fails, or when the run exceeds its time limit.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["catalog", "lake_ingest"]
FIXTURE = os.path.join(HERE, "fixture", "sf0.001")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# The JVM module opens Spark needs outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Compile once per distinct source tree; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("[perfbench] no library sources at src/main/scala: "
                 "run from the root of a checkout")
    digest = hashlib.sha256()
    for f in sources():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    # one stamp for the one build directory: the digest of the sources it
    # was compiled from, then the classpath
    stamp = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            built, _, cp = fh.read().partition("\n")
        if built == digest.hexdigest() and cp.strip():
            return cp.strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    sbt_opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        sbt_opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(sbt_opts)
    log("building (sbt compile)")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    sys.stderr.write(out.stdout[-4000:])
    if out.returncode != 0:
        sys.exit(f"[perfbench] build failed (exit {out.returncode})")
    cp = [l for l in out.stdout.splitlines()
          if "scala-library" in l and not l.startswith("[")]
    if not cp:
        sys.exit("[perfbench] build printed no classpath")
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest() + "\n" + cp[-1])
    return cp[-1]


def driver_memory():
    """Half the host's memory, clamped to 2..8 GiB (the repo's test rule)."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def java(cp, work, *args):
    """The harness JVM command; `work` holds everything the run writes."""
    return (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + [f"-Xmx{driver_memory()}", f"-Djava.io.tmpdir={work}",
               "-cp", cp, "perfbench.Main", "--work", work, "--fixture", FIXTURE,
               "--cores", str(len(os.sched_getaffinity(0)))] + list(args))


def run_one(cp, workload, seed, seconds, trace):
    """One JVM run; returns (record, result) parsed from its last two lines."""
    work = os.path.join(BUILD, "work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = java(cp, work, "--workload", workload, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", str(trace), "--trace-out",
               os.path.join(BUILD, "traces", f"{workload}-seed{seed}.json"))
    try:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True)
        try:
            stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            sys.exit(f"[perfbench] {workload} exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or len(lines) < 2:
        sys.exit(f"[perfbench] {workload} failed (exit {proc.returncode})")
    return json.loads(lines[-2])["record"], json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all", "record-catalog"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    cp = build()
    if args.workload == "record-catalog":
        work = os.path.join(BUILD, "work", "record")
        os.makedirs(work, exist_ok=True)
        subprocess.run(java(cp, work, "--workload", "record-catalog"), cwd=work, check=True)
        return
    if args.workload == "all":
        for w in WORKLOADS:
            record, result = run_one(cp, w, args.seed, args.seconds, args.trace)
            print(f"== {w}: correct={result['correct']} attempted={result['attempted']} "
                  f"failed={result['failed']} failed_ratio={record['failed_ratio']}")
            for name, m in sorted(result["metrics"].items()):
                print(f"  {name:34s} {m['value']:>16.6g} {m['unit']}")
            for name, v in sorted(record["workload_metrics"].items()):
                if isinstance(v, (int, float)):
                    print(f"  {name:34s} {v:>16.6g}")
        return
    record, result = run_one(cp, args.workload, args.seed, args.seconds, args.trace)
    print(json.dumps({"record": record}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
