#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

Usage (from the repository root):

    python3 perfbench/run.py --workload suite --seed 1 --seconds 20 --trace 0

The first run in a checkout compiles the engine and the benchmark program
with sbt (perfbench/build.sbt builds the repository root as a dependency)
and generates the input tables; both are cached under perfbench/work/,
keyed by a hash of the sources. Every later run starts one JVM that runs
the workload and prints its metrics.

Output: progress and a metric table, then, as the last line, one JSON
object {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are BENCHMARK.json's end_to_end list, with --trace 1 its
per_layer list. The full record of the run, with every named metric,
its unit and sample count, goes to perfbench/work/records/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

# Spark 4 on JDK 17 needs these opens outside spark-submit; the same
# list as the engine's build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, relative to the repository root."""
    out = []
    for top in ("build.sbt", "project", "src/main", "perfbench/build.sbt",
                "perfbench/project", "perfbench/src"):
        path = os.path.join(ROOT, top)
        if os.path.isfile(path):
            out.append(top)
            continue
        for d, dirs, files in os.walk(path):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".java", ".sbt", ".properties")) \
                        or "resources" in d:
                    out.append(os.path.relpath(os.path.join(d, f), ROOT))
    return out


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    return env


def build():
    """Compile with sbt once per source fingerprint; return the classpath."""
    cp_file = os.path.join(WORK, f"classpath-{fingerprint(source_files())}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    print("perfbench: building the engine and the benchmark with sbt", flush=True)
    t0 = time.time()
    try:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdin=subprocess.DEVNULL,
            capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        die(f"build failed: {e}", 3)
    lines = proc.stdout.strip().splitlines()
    cp = lines[-1].strip() if lines else ""
    if proc.returncode != 0 or ".jar" not in cp:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        die(f"build failed (exit {proc.returncode})", 3)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    print(f"perfbench: build took {time.time() - t0:.1f} s", flush=True)
    return cp


def run_jvm(cp, args, want_result=True):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    # scratch of the previous run: spark temp files, stores, checkpoints
    for d in ("tmp", "run", "live", "checkpoints", "warehouse"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    run_dir = os.path.join(WORK, "run")
    os.makedirs(tmp)
    os.makedirs(run_dir)
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx4g",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Duser.timezone=UTC", "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main"] + args
    # a session of its own, so that a timeout kills anything the JVM started
    proc = subprocess.Popen(cmd, cwd=run_dir, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True, start_new_session=True)
    results = []

    def drain():
        # a thread of its own, so a JVM that hangs silently still times out
        for line in proc.stdout:
            if line.startswith("PERFBENCH_RESULT "):
                results.append(json.loads(line[len("PERFBENCH_RESULT "):]))
            elif line.startswith("perfbench:"):
                print(line.rstrip(), flush=True)

    reader = threading.Thread(target=drain, daemon=True)
    reader.start()
    try:
        proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    reader.join(timeout=10)
    if proc.returncode != 0 or (want_result and not results):
        die(f"workload run failed (exit {proc.returncode})", 4)
    return results[-1] if results else None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-digests", metavar="PATH",
                    help="record output digests instead of checking them")
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(spec_path)):
        die("no engine sources here: run from the repository root")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {a.workload}")

    os.makedirs(WORK, exist_ok=True)
    cp = build()
    expected = os.path.join(HERE, "expected.json")
    with open(expected) as fh:
        data = json.load(fh)["data"]
    common = ["--data", os.path.join(WORK, "data"), "--work", WORK,
              "--expected", expected]
    if not os.path.exists(os.path.join(
            WORK, "data", f"sf{data['scale']}-seed{data['seed']}", "_COMPLETE")):
        print("perfbench: generating input tables", flush=True)
        run_jvm(cp, ["--workload", "gen-data", "--seed", "0", "--seconds", "0",
                     "--trace", "0"] + common, want_result=False)
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace)] + common
    if a.record_digests:
        args += ["--record-digests", os.path.abspath(a.record_digests)]
    r = run_jvm(cp, args)

    named = {}
    for group in ("e2e", "info", "layers"):
        named.update(r.get(group, {}))
    print(f"perfbench: {a.workload} seed={a.seed} trace={a.trace}")
    for name, m in named.items():
        n = f"  (n={m['samples']})" if "samples" in m else ""
        print(f"  {name:34s} {m['value']:14.4f} {m['unit']}{n}")
    attempted, failed = r["attempted"], r["failed"]
    print(f"  {'failed_frac':34s} {failed / max(attempted, 1):14.4f} ratio"
          f"  ({failed} of {attempted})")
    for f in r.get("failures", []):
        print(f"  failure: {f}")

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in named]
    if missing:
        die(f"metrics not measured: {missing}", 5)
    wrong = [m["name"] for m in wanted if named[m["name"]]["unit"] != m["unit"]]
    if wrong:
        die(f"metrics measured in another unit than BENCHMARK.json says: {wrong}", 5)
    out = {"correct": failed == 0 and attempted > 0,
           "attempted": attempted, "failed": failed,
           "metrics": {m["name"]: {"value": named[m["name"]]["value"],
                                   "unit": m["unit"]} for m in wanted}}

    rec_dir = os.path.join(WORK, "records")
    os.makedirs(rec_dir, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    with open(os.path.join(
            rec_dir, f"{stamp}-{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as fh:
        json.dump({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                   "result": out, "named": named}, fh, indent=1)
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
