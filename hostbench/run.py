#!/usr/bin/env python3
"""Build and run the host-sized benchmark of the graft engine.

Usage, from the repository root:

    python3 hostbench/run.py --workload search --seed 1 --seconds 6 --trace 0

The first run compiles the engine sources (src/main/scala) together with the
harness in hostbench/ with sbt, offline; later runs reuse the build while
the sources are unchanged. Each run starts one JVM, sized from nproc and
MemTotal, that works in .hostbench/run-<pid>/ (deleted afterwards) and
writes its reports to .hostbench/out/. The last line of standard output is
the result object: {"correct", "attempted", "failed", "metrics"}, with the
metrics and units BENCHMARK.json lists (end_to_end with --trace 0,
per_layer with --trace 1).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".hostbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("search", "ingest_mixed")
RUN_LIMIT_S = 175.0
BUILD_LIMIT_S = 840.0
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[hostbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(msg)
    sys.exit(code)


def source_files():
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, limit_s, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=limit_s)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None, None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build(digest):
    """Compile with sbt unless the classpath file matches the sources."""
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "runtime-classpath.txt")
    stamp = os.path.join(target, "hostbench.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                return cp_file
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness with sbt (first run only)")
    t0 = time.time()
    rc, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                       "writeClasspath"], BUILD_LIMIT_S, cwd=HERE, env=env,
                      stdout=sys.stderr, stderr=sys.stderr)
    if rc != 0 or not os.path.exists(cp_file):
        fail(f"build failed (rc={rc})", 3)
    with open(stamp, "w") as fh:
        fh.write(digest)
    log(f"build done in {time.time() - t0:.0f} s")
    return cp_file


def heap_mb():
    """The heap: a sixth of MemTotal, between 2 and 4 GiB, fixed from the
    start. A heap that grows from the JVM's small default made the
    collector resize it through the read phases, and the distributed
    queries kept getting faster for a dozen requests after warm-up."""
    total_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                total_kb = int(line.split()[1])
    return max(2048, min(4096, total_kb // 1024 // 6))


def commit_id(digest):
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0 and out.stdout.strip():
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "sources-sha256:" + digest[:16]


def wanted_metrics(trace):
    """(name, unit) of the metrics BENCHMARK.json lists for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [(m["name"], m["unit"])
            for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found under {ENGINE_SRC}", 2)
    wanted = wanted_metrics(a.trace == 1)
    digest = source_digest()
    cp_file = build(digest)
    t_start = time.time()

    os.makedirs(STATE, exist_ok=True)
    for name in os.listdir(STATE):  # scratch left behind by killed runs
        if name.startswith("run-"):
            shutil.rmtree(os.path.join(STATE, name), ignore_errors=True)
    work = os.path.join(STATE, f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    with open(cp_file) as fh:
        cp = fh.read().strip()
    heap = heap_mb()
    cmd = ["java", f"-Xms{heap}m", f"-Xmx{heap}m", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "hostbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--out", os.path.join(STATE, "out"),
            "--commit", commit_id(digest)]
    try:
        rc, out = run_group(cmd, RUN_LIMIT_S - (time.time() - t_start),
                            cwd=work, stdout=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc is None:
        fail("benchmark JVM timed out and was killed")
    lines = out.splitlines()
    facts = [l for l in lines if l.startswith("HOSTBENCH_FACTS ")]
    results = [l for l in lines if l.startswith("HOSTBENCH_RESULT ")]
    if rc != 0 or not results:
        sys.stderr.write(out)
        fail(f"benchmark JVM failed (rc={rc})")
    result = json.loads(results[-1][len("HOSTBENCH_RESULT "):])
    values = result.pop("values")
    bad = [k for k, _ in wanted if values.get(k) is None]
    if bad:
        fail(f"metrics without a value: {bad}")
    result["metrics"] = {k: {"value": values[k], "unit": u} for k, u in wanted}
    if facts:
        print("facts " + facts[-1][len("HOSTBENCH_FACTS "):])
    print(json.dumps(result))


if __name__ == "__main__":
    main()
