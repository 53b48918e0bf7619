#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program together with the harness (once per source tree, with
sbt in offline mode), then runs the harness in a fresh JVM. The harness
prints a human-readable report and, as the last line of standard output,
one JSON object: {"correct", "attempted", "failed", "metrics"}.
Everything it writes stays under .bench_build/ in the checkout.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("etl_daily", "curation_batch")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit needs these module openings
# (the program's own build.sbt passes the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    roots = [ROOT / "src" / "main", ROOT / "project", BENCH / "src", BENCH / "project"]
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for r in roots:
        files += [p for p in r.rglob("*") if p.is_file() and "target" not in p.parts]
    return sorted(files)


def tree_hash():
    h = hashlib.sha256()
    for p in sources():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile once per source tree; return the runtime classpath."""
    stamp, cp_file = BUILD / "stamp", BUILD / "classpath"
    digest = tree_hash()
    if stamp.exists() and cp_file.exists() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    cp_file.write_text(lines[-1].strip())
    stamp.write_text(digest)
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no program sources under {ROOT / 'src' / 'main' / 'scala'}")
    classpath = build()

    work = BUILD / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = (["java", "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={work / 'tmp'}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", str(work), "--traces", str(BUILD / "traces")])
    try:
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                              timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"{args.workload} did not finish within {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out = proc.stdout.rstrip("\n")
    if proc.returncode != 0 or not out:
        sys.stderr.write(out[-4000:] + "\n")
        fail(f"{args.workload} exited with code {proc.returncode}")
    print(out)


if __name__ == "__main__":
    main()
