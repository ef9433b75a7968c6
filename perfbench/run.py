#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--tiny]

Run from the checkout root. The first run builds the program and the
harness from source with sbt (offline) into `.bench_build/`; later runs
reuse the build while no source file has changed. The harness prints a
host stamp line and, as its last line, the result object; this script
passes both through and exits with the harness's code. See BENCH.md.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_fingerprint():
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target")
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        st = os.stat(p)
        h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile program + harness once per source state; return the classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "sources.sha256")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        fp = source_fingerprint()
        if os.path.exists(CLASSPATH) and os.path.exists(stamp) and open(stamp).read() == fp:
            return open(CLASSPATH).read().strip()
        sbt = shutil.which("sbt") or die("sbt not found on PATH")
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        log = os.path.join(BUILD, "build.log")
        with open(log, "w") as out:
            try:
                p = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true",
                                    "export perfbench/Runtime/fullClasspath"],
                                   cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                   timeout=BUILD_TIMEOUT_S, start_new_session=True)
            except subprocess.TimeoutExpired:
                die(f"build timed out; see {log}", 3)
        lines = [ln.strip() for ln in open(log) if ln.strip()]
        if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
            die(f"build failed; see {log}", 3)
        with open(CLASSPATH, "w") as f:
            f.write(lines[-1])
        with open(stamp, "w") as f:
            f.write(fp)
        return lines[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="small inputs, for the benchmark's own tests")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("the program's sources (build.sbt, src/main/scala) are not in the working directory")
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    spec = json.load(open(spec_path)) if os.path.exists(spec_path) else None

    cp = build()
    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    java = shutil.which("java") or die("java not found on PATH")
    # C1 only: a run is one short, cold JVM, and C2 compile bursts competing
    # with the four task threads for four cores made timings jump between
    # runs; the program's plans, jobs and file operations are what is measured.
    cmd = [java, *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Xmx3g", "-XX:TieredStopAtLevel=1", f"-Djava.io.tmpdir={work}", "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", work,
           "--records", os.path.join(BUILD, "records", "tiny" if a.tiny else "full")] + (["--tiny"] if a.tiny else [])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        die(f"workload {a.workload} did not finish within {RUN_TIMEOUT_S} s", 4)
    shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    if not lines:
        die(f"harness printed nothing (exit {proc.returncode})", proc.returncode or 5)
    result = json.loads(lines[-1])
    if spec is not None and proc.returncode == 0:
        want = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
        if sorted(result["metrics"]) != sorted(want):
            die(f"metrics printed {sorted(result['metrics'])} differ from BENCHMARK.json {sorted(want)}", 6)
    print("\n".join(lines))
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
