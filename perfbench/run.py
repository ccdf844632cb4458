#!/usr/bin/env python3
"""Benchmark of the engine: the lake client, the corpus pipeline and the
query suite. Run it from the root of the repository:

    python3 perfbench/run.py --workload <lake-ops|lake-pipeline|query-suite> \
        --seed <n> --seconds <s> --trace <0|1>

The first run builds the engine and the benchmark with sbt (offline) and
caches the launch classpath under .bench_build/perfbench; later runs start
the benchmark JVM directly. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1 its
per-layer metrics. A run whose outputs are wrong exits with status 1; a
run that cannot build or start exits with status 2 and prints no result.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
LAUNCH = os.path.join(BUILD, "launch.txt")
WORKLOADS = ("lake-ops", "lake-pipeline", "query-suite")
# Per-layer metric prefixes each workload exercises. A traced run reports
# every per-layer metric; the layers a workload never calls read 0.
EXERCISED = {
    "lake-ops": ("lake.",),
    "lake-pipeline": ("pipeline.", "core."),
    "query-suite": ("query.", "tables.", "functions.", "core."),
}
HEAP = "3g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, timeout, **kw):
    """Runs `cmd` in its own process group and returns (exit code, stdout).
    The whole group is killed on timeout, and if this script is stopped."""
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        return None, None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def newest_source_mtime():
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
                os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            for f in files:
                if f.endswith((".scala", ".java", ".sbt", ".properties")):
                    newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        newest = max(newest, os.path.getmtime(f))
    return newest


def build():
    """Compiles the engine and the benchmark unless the cached launch spec
    is newer than every source; returns (classpath, engine JVM options)."""
    if not (os.path.exists(LAUNCH) and os.path.getmtime(LAUNCH) >= newest_source_mtime()):
        sbt = shutil.which("sbt")
        if sbt is None:
            fail("sbt not found on PATH")
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        if "SBT_OPTS" not in env:
            opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false"]
            repos = os.path.expanduser("~/.sbt/repositories")
            if os.path.exists(repos):
                opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
            env["SBT_OPTS"] = " ".join(opts)
        os.makedirs(BUILD, exist_ok=True)
        t0 = time.time()
        code, _ = run_group([sbt, "--batch", "-Dsbt.log.noformat=true", "compile", "writeLaunch"],
                            BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
        if code is None:
            fail("build timed out")
        if code != 0 or not os.path.exists(LAUNCH):
            fail(f"build failed (sbt exit {code})")
        print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    with open(LAUNCH) as f:
        lines = [line.strip() for line in f if line.strip()]
    return lines[0], [o for o in lines[1:] if not o.startswith("-Xmx")]


def run_jvm(args, classpath, engine_opts):
    stamp = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time() * 1000)}"
    work = os.path.join(BUILD, "work", f"{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xmn768m", *engine_opts,
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", classpath, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", os.path.join(work, "run"),
           "--artifact", os.path.join(BUILD, "runs", stamp + ".json"),
           "--fingerprints", os.path.join(HERE, "fingerprints", args.workload + ".tsv"),
           "--data", os.path.join(HERE, "fixtures", "sf0.01")]
    try:
        code, out = run_group(cmd, JVM_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE,
                              stderr=sys.stderr, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        os.sync()  # the deletes' disk work must not stall the next run
    if code is None:
        fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s")
    lines = [line for line in out.splitlines() if line.strip()]
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    if not lines:
        fail(f"benchmark JVM printed no result (exit {code})")
    try:
        return json.loads(lines[-1]), code
    except json.JSONDecodeError:
        fail(f"unreadable result line (exit {code}): {lines[-1][:200]}")


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = p.parse_args()
    # a stopped run still stops its children (see run_group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the repository root")
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"the engine sources are missing ({need}); run from a full checkout")
    with open(spec_path) as f:
        spec = json.load(f)

    classpath, engine_opts = build()
    result, code = run_jvm(args, classpath, engine_opts)

    metrics = result["metrics"]
    if args.trace:
        names = [m["name"] for m in spec["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        unknown = sorted(set(metrics) - set(names))
        mine = [n for n in names if n.startswith(EXERCISED[args.workload])]
        missing = sorted(set(mine) - set(metrics))
        if unknown or missing:
            fail(f"per-layer metrics do not match BENCHMARK.json: unknown {unknown}, missing {missing}")
        values = {n: float(metrics.get(n, 0.0)) for n in names}
    else:
        names = [m["name"] for m in spec["end_to_end"]]
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        if set(metrics) != set(names):
            fail(f"end-to-end metrics do not match BENCHMARK.json: {sorted(metrics)}")
        values = {n: float(metrics[n]) for n in names}
    print(json.dumps({
        "correct": bool(result["correct"]) and code == 0,
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": {n: {"value": values[n], "unit": units[n]} for n in names},
    }))
    sys.stdout.flush()
    sys.exit(0 if code == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
