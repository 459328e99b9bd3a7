#!/usr/bin/env python3
"""Vector-DB benchmark: builds the engine and the harness from source, runs
one workload in a fresh JVM and prints its result as the last stdout line.

    python3 perfbench/run.py --workload serve|ingest --seed N \
        --seconds S --trace 0|1

Run it from the root of a checkout. Build outputs and run scratch live in
`.bench_build/` there. The first run builds (sbt, offline); later runs reuse
the build while the sources are unchanged.
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
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("serve", "ingest")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# The heap of a run's JVM; the other JVM options come from the engine's build.
HEAP = "3g"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads, as paths relative to ROOT."""
    out = []
    for base in ("build.sbt", ".jvmopts", "project", "src", "perfbench"):
        p = os.path.join(ROOT, base)
        if os.path.isfile(p):
            out.append(base)
            continue
        for d, dirs, files in os.walk(p):
            dirs[:] = [x for x in dirs if x not in ("target", "project")
                       or (x == "project" and d == HERE)]
            for f in files:
                if f.endswith((".scala", ".java", ".sbt", ".properties")):
                    out.append(os.path.relpath(os.path.join(d, f), ROOT))
    return sorted(out)


def fingerprint():
    h = hashlib.sha256()
    for rel in source_files():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compiles engine and harness; returns the java arguments a run starts
    with: the engine build's JVM options, then `-cp` and the classpath."""
    stamp = os.path.join(BUILD, "launch.json")
    fp = fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("fingerprint") == fp:
            return cached["args"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    # sbt reads .jvmopts only from the directory it starts in; its JVM needs
    # the engine's, because scalac loads the vector module's classes
    with open(os.path.join(ROOT, ".jvmopts")) as f:
        env["JAVA_OPTS"] = " ".join(f.read().split())
    env["SPARK_DRIVER_MEM"] = HEAP
    log("building engine and harness with sbt")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    launch = os.path.join(HERE, "target", "launch.txt")
    if proc.returncode != 0 or not os.path.exists(launch):
        sys.stderr.write("\n".join(proc.stdout.splitlines()[-40:]) + "\n")
        raise SystemExit("build failed")
    with open(launch) as f:
        lines = f.read().splitlines()
    args = lines[:-1] + ["-cp", lines[-1]]
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "args": args}, f)
    return args


def check_recall(key, recall):
    """`recall` must repeat exactly for the same workload, seed, run length
    and build; the first run of a key records it."""
    path = os.path.join(BUILD, "recall.json")
    seen = {}
    if os.path.exists(path):
        with open(path) as f:
            seen = json.load(f)
    if key in seen and seen[key] != recall:
        log(f"recall {recall} differs from {seen[key]} recorded for {key}")
        return False
    seen[key] = recall
    with open(path, "w") as f:
        json.dump(seen, f)
    return True


def check_result(line, trace):
    """The result line must have the contract's form and carry exactly the
    metrics BENCHMARK.json lists."""
    res = json.loads(line)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    assert res["correct"] is True and res["attempted"] >= 1
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}
    assert set(res["metrics"]) == want, set(res["metrics"]) ^ want
    for name, m in res["metrics"].items():
        assert set(m) == {"value", "unit"}, name
        assert isinstance(m["value"], (int, float)), name
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log(f"no engine sources next to the benchmark (looked in {ROOT})")
        return 2
    if shutil.which("sbt") is None or shutil.which("java") is None:
        log("sbt and java must be on PATH")
        return 2

    java_args = build()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    traces = os.path.join(BUILD, "traces")
    os.makedirs(traces, exist_ok=True)
    # the REST server's small responses go out without waiting on Nagle
    cmd = (["java", "-Dsun.net.httpserver.nodelay=true", f"-Djava.io.tmpdir={run_dir}/tmp"]
           + java_args
           + ["perfbench.Main", "--spec", os.path.join(ROOT, "BENCHMARK.json"),
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--dir", run_dir,
              "--spans", os.path.join(traces, f"{a.workload}-seed{a.seed}.jsonl")])
    proc = subprocess.Popen(cmd, cwd=run_dir, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log(f"run exceeded {RUN_TIMEOUT_S} s")
        return 5
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.rstrip("\n").splitlines()
    if proc.returncode != 0 or not lines:
        sys.stdout.write(out)
        log(f"workload exited with code {proc.returncode}")
        return proc.returncode or 1
    try:
        res = check_result(lines[-1], a.trace)
    except (ValueError, AssertionError) as e:
        sys.stdout.write(out)
        log(f"malformed result line: {e}")
        return 6
    if a.trace == 0:
        key = f"{a.workload}:{a.seed}:{a.seconds}:{fingerprint()[:16]}"
        if not check_recall(key, res["metrics"]["recall"]["value"]):
            return 7
    for l in lines[:-1]:
        print(l)
    print(json.dumps(res, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
