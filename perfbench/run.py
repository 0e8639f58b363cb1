#!/usr/bin/env python3
"""Pipeline benchmark entry point.

    python3 perfbench/run.py --workload incremental|dashboard \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the program and the
benchmark from source with sbt (perfbench/build.sbt), then makes one short
traced run to record a class-data-sharing archive of every class the runs
load; both are cached under perfbench/target, and later runs start the JVM
directly with the archive. Every file the run
writes stays under perfbench/ (work data is removed at exit). The last line of
standard output is the result object; the exit code is 0 only when every
operation succeeded and every output check passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
CP_FILE = os.path.join(HERE, "target", "perfbench.classpath.json")
CDS_FILE = os.path.join(HERE, "target", "perfbench.jsa")
WORKLOADS = ("incremental", "dashboard")
# Crashes in the backfill data set, and micro-runs in one incremental sequence.
CRASHES = 5000
BATCHES = 2
# Whole run, build excluded; the benchmark must exit within 180 s.
RUN_TIMEOUT_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Hash of every file the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in sorted(os.walk(r)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Classpath of the built program, building it first if the sources changed."""
    digest = source_digest()
    if os.path.exists(CP_FILE):
        with open(CP_FILE) as fh:
            cached = json.load(fh)
        if cached.get("digest") == digest:
            return cached["classpath"]
    log("building program and benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=/root/.sbt/repositories -Dsbt.offline=true -Xmx3g")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, text=True,
        timeout=600)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout)
        raise SystemExit("perfbench: build failed")
    cp = lines[-1]
    log("recording the class-data-sharing archive")
    if os.path.exists(CDS_FILE):
        os.remove(CDS_FILE)
    run_jvm(cp, [f"-XX:ArchiveClassesAtExit={CDS_FILE}"], "dashboard", 0, 1, 0,
            crashes=500, batches=1)
    os.makedirs(os.path.dirname(CP_FILE), exist_ok=True)
    with open(CP_FILE, "w") as fh:
        json.dump({"digest": digest, "classpath": cp}, fh)
    return cp


def run_jvm(cp, jvm_flags, workload, seed, seconds, trace, crashes=CRASHES, batches=BATCHES):
    """Runs one workload in a fresh JVM; returns (exit code, stdout)."""
    tag = f"{workload}-seed{seed}-trace{trace}"
    work = os.path.join(HERE, "work", f"{tag}-{os.getpid()}")
    out = os.path.join(HERE, "out", f"{tag}.json")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp"] + jvm_flags
           + [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace), "--cores", str(len(os.sched_getaffinity(0))),
              "--work", work, "--out", out, "--crashes", str(crashes), "--batches", str(batches)])
    proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        stdout = ""
        log(f"run exceeded {RUN_TIMEOUT_S} s and was stopped")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, stdout


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        raise SystemExit(f"perfbench: program sources not found under {PROGRAM_SRC}; "
                         "run from the repository root")
    cp = build()
    flags = [f"-XX:SharedArchiveFile={CDS_FILE}"] if os.path.exists(CDS_FILE) else []
    code, stdout = run_jvm(cp, flags, args.workload, args.seed, args.seconds, args.trace)
    result = None
    for line in stdout.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        else:
            sys.stderr.write(line + "\n")
    if result is None:
        raise SystemExit(f"perfbench: no result (exit code {code})")
    print(json.dumps(result))
    ok = code == 0 and result["correct"] and result["failed"] == 0
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
