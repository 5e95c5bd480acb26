#!/usr/bin/env python3
"""Build and run one benchmark workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (offline) and caches the classpath under
.bench_build/, keyed by a hash of every source and build file. Each run
then starts one JVM (perfbench.Main) and prints, as the last line of
standard output, one JSON object with `correct`, `attempted`, `failed`
and `metrics`: the end-to-end metrics of BENCHMARK.json for --trace 0,
the per-layer metrics for --trace 1.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
WORK = os.path.join(ROOT, ".bench_build")
# the query sweep's input: the repository's oracle-green sf0.01 tables
SWEEP_TABLES = os.path.join(BENCH, "testdata", "sf0.01")
DEADLINE_S = 175  # a run must end within 180 s; the first one may build
BUILD_DEADLINE_S = 840

# Spark 4 on JDK 17 outside spark-submit needs these module openings
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """every file the build reads: engine sources and build, harness."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(f for f in files if os.path.isfile(f))


def build():
    """compile with sbt unless the cached classpath matches the sources;
    returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found: "
             "run from the root of a checkout of the repository")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp_file = os.path.join(WORK, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            cached = json.load(fh)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # scratch files (sockets, JVM perf data) stay inside the checkout
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
            "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building with sbt", file=sys.stderr)
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, text=True,
            timeout=BUILD_DEADLINE_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}", 1)
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed", 1)
    classpath = lines[-1].strip()
    os.makedirs(WORK, exist_ok=True)
    with open(cp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": classpath}, fh)
    return classpath


def replay_oracle(out_dir):
    """the query sweep's captured outputs against the oracle SQL, replayed
    in DuckDB by the repository's own check (tools/check_oracle.py,
    which prints one `<query>: <status>` line per query and fails unless
    every status starts with OK); returns (queries, failures)."""
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        names = set(json.load(fh))
    try:
        p = subprocess.run(
            [sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
             out_dir, SWEEP_TABLES],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=120)
        lines = p.stdout.splitlines()
    except (OSError, subprocess.TimeoutExpired) as e:
        print(f"perfbench: oracle replay failed: {e}", file=sys.stderr)
        return len(names), len(names)
    status = dict(l.split(": ", 1) for l in lines if ": " in l)
    ok = {n for n in names if status.get(n, "").startswith("OK")}
    for l in lines:
        if l.split(": ", 1)[0] not in ok:
            print(f"perfbench: oracle: {l}", file=sys.stderr)
    failures = len(names - ok)
    if p.returncode != 0 and not failures:
        failures = 1
    return len(names), failures


def heap():
    """JVM heap as the repository's test command sizes it: half the
    machine's memory, between 2g and 8g."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(max(g, 2), 8)}g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
    except (OSError, ValueError) as e:
        fail(f"cannot read BENCHMARK.json: {e}")
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    classpath = build()
    start = time.monotonic()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{heap()}", "-XX:-UsePerfData"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", WORK, "--sweep-tables", SWEEP_TABLES])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)

    def stop(*_):
        proc.kill()
        proc.wait()
        fail("interrupted", 1)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        stdout, _ = proc.communicate(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {DEADLINE_S} s", 1)
    if proc.returncode != 0:
        fail(f"benchmark process exited with {proc.returncode}", 1)
    results = [l for l in stdout.splitlines() if l.startswith("{")]
    if not results:
        fail("benchmark process printed no result", 1)
    res = json.loads(results[-1])
    if "oracle" in res:
        n, failures = replay_oracle(res["oracle"])
        res["attempted"] += n
        res["failed"] += failures
        res["correct"] = res["correct"] and not failures
    got = res["metrics"]
    metrics = {}
    for m in wanted:
        v = got.get(m["name"], {}).get("value")
        if v is None:
            if not a.trace:
                fail(f"end-to-end metric {m['name']} was not measured", 1)
            v = 0  # a layer this workload does not exercise
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(f"perfbench: {a.workload} seed {a.seed} trace {a.trace}: "
          f"{time.monotonic() - start:.1f} s in the JVM", file=sys.stderr)
    print(json.dumps({"correct": bool(res["correct"]),
                      "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
