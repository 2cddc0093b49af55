#!/usr/bin/env python3
"""Run one benchmark workload and print its result JSON as the last line.

Usage (from the repository root):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
                             [--results FILE] [--record-expected]

Builds the repository and the harness with sbt on first use (offline,
cached by a digest of the sources), then runs `perfbench.Main` in one
JVM. Everything the run writes lands under `perfbench/.work/`: inputs
cached by (seed, size), the program's scratch space, Spark's local
dirs, the per-run record appended to `results.jsonl` (stamped with the
box and the source version) and, for traced runs, the span file.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
BUILD = os.path.join(WORK, "build")
WORKLOADS = ["kdc_reports", "ops_mix"]
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170

# JDK 17 module opens that spark-submit would add (build.sbt has the same list)
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


def source_files():
    """Every file the build reads from the checkout, sorted."""
    out = []
    for top in [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]:
        for d, _, fs in os.walk(top):
            out += [os.path.join(d, f) for f in fs]
    for f in ["build.sbt", "project/build.properties", "perfbench/build.sbt",
              "perfbench/project/build.properties"]:
        p = os.path.join(ROOT, f)
        if os.path.exists(p):
            out.append(p)
    return sorted(out)


def source_digest():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None, None


def build():
    """Compile with sbt unless the sources are unchanged; return the classpath."""
    digest = source_digest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "sources.sha256")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/compile",
         "export perfbench/Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True)
    if code != 0:
        sys.stderr.write(out or "")
        fail("build failed" if code is not None else "build timed out")
    cp = [l for l in out.splitlines() if l.startswith("/") and ".jar" in l]
    if not cp:
        sys.stderr.write(out)
        fail("build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp_file, "w") as f:
        f.write(digest)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp[-1]


def box_stamp():
    mem = None
    try:
        with open("/proc/meminfo") as f:
            for l in f:
                if l.startswith("MemTotal:"):
                    mem = int(l.split()[1]) * 1024
    except OSError:
        pass
    commit = None
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            commit = r.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return {"nproc": os.cpu_count(), "mem_total_bytes": mem, "commit": commit,
            "source_sha256": source_digest()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--results", default=os.path.join(WORK, "results.jsonl"))
    ap.add_argument("--record-expected", action="store_true")
    a = ap.parse_args()

    for need in ["build.sbt", "src/main/scala/graft"]:
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found next to perfbench/: run from a full checkout")
    cp = build()
    for d in ["jvm", "tmp"]:
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    mem_gb = max(2, min(6, (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")) >> 32))
    # the JVM's launch counts in setup_s, measured from here
    launch_ms = int(time.time() * 1000)
    record = os.path.join(WORK, "records", f"{a.workload}-{a.seed}-{a.trace}-{launch_ms}.json")
    cmd = (["java", f"-Xms{mem_gb}g", f"-Xmx{mem_gb}g", "-Xmn384m", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--bench-dir", BENCH,
              "--work", WORK, "--record", record, "--launch-ms", str(launch_ms)]
           + (["--record-expected"] if a.record_expected else []))
    p = subprocess.Popen(cmd, cwd=os.path.join(WORK, "jvm"), stdout=subprocess.PIPE,
                         text=True, start_new_session=True)
    # kill the JVM if it outlives the run limit, even while it prints nothing
    watchdog = threading.Timer(RUN_TIMEOUT_S, lambda: os.killpg(p.pid, signal.SIGKILL))
    watchdog.start()
    last = None
    try:
        for line in p.stdout:
            if last is not None:
                print(last, flush=True)
            last = line.rstrip("\n")
        code = p.wait()
    finally:
        watchdog.cancel()
    if code == -signal.SIGKILL:
        fail(f"{a.workload} did not finish within {RUN_TIMEOUT_S} s")
    if code != 0:
        if last is not None:
            print(last, file=sys.stderr)
        fail(f"{a.workload} exited with code {code}")
    try:
        with open(record) as f:
            rec = json.load(f)
        result = json.loads(last)
    except (OSError, ValueError, TypeError) as e:
        fail(f"no result from {a.workload}: {e}")
    rec["stamp"].update(box_stamp())
    os.makedirs(os.path.dirname(os.path.abspath(a.results)), exist_ok=True)
    with open(a.results, "a") as f:
        f.write(json.dumps(rec, sort_keys=True) + "\n")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
