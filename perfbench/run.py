#!/usr/bin/env python3
"""Secured-query benchmark.

Usage: python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (offline) and caches the launch line in
perfbench/target/; later runs start the JVM directly. The last line of
standard output is one JSON object: correct, attempted, failed, metrics.
"""
import argparse
import hashlib
import os
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("rewrite_policy_scale", "analyst_session", "secured_stream")
HEAP = "3g"
JVM_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [ROOT / "src" / "main", HERE / "src" / "main"]
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "").split()
    if not any(o.startswith("-Dsbt.offline") for o in opts):
        opts.append("-Dsbt.offline=true")
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file() and not any(o.startswith("-Dsbt.repository.config") for o in opts):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    if not any(o.startswith("-Xmx") for o in opts):
        opts.append("-Xmx2g")
    env["SBT_OPTS"] = " ".join(opts)
    return env


def launch_line():
    """Build if the sources changed since the last build; return the JVM command prefix."""
    launch = HERE / "target" / "launch.txt"
    stamp_file = HERE / "target" / "launch.stamp"
    want = stamp()
    if not (launch.is_file() and stamp_file.is_file() and stamp_file.read_text() == want):
        # build output goes to stderr: stdout carries only the result
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "benchLaunch"],
                           cwd=HERE, env=sbt_env(), stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL)
        if r.returncode != 0 or not launch.is_file():
            fail(f"build failed (sbt exit {r.returncode})")
        stamp_file.write_text(want)
    lines = launch.read_text().splitlines()
    opts = [o for o in lines[1:] if o and not o.startswith("-Xmx")]
    return ["java", *opts, f"-Xmx{HEAP}", "-cp", lines[0], "perfbench.Main"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"the program's sources are missing under {ROOT}")
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    cores = len(os.sched_getaffinity(0))
    work = HERE / ".work" / f"{a.workload}-{a.seed}"
    cmd = launch_line() + ["--workload", a.workload, "--seed", str(a.seed),
                           "--seconds", str(a.seconds), "--trace", a.trace,
                           "--cores", str(cores), "--work", str(work)]
    try:
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                           text=True, timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired as e:
        sys.stdout.write(e.stdout or "")
        fail(f"run exceeded {JVM_TIMEOUT_S} s")
    lines = r.stdout.splitlines()
    if r.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write("\n".join(l for l in lines if not l.startswith("{")) + "\n")
        fail(f"benchmark JVM exited with {r.returncode}")
    sys.stdout.write(r.stdout)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
