#!/usr/bin/env python3
"""Run one workload of the link-graph benchmark.

    python3 perfbench/run.py --workload crawl_pipeline --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (offline) into `.bench_build/`; later runs
reuse that build until a source file changes. The last line of standard
output is the JSON result printed by `perfbench.Main`, with each metric's
unit taken from BENCHMARK.json.
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
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ["crawl_pipeline", "rmat_hubs"]

BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
JAVA_HEAP = "3g"

# What a SparkSession needs on JDK 17 outside spark-submit (the engine
# build's forked runs pass the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, relative to the checkout root."""
    out = []
    for f in ["build.sbt", "project/build.properties",
              "perfbench/build.sbt", "perfbench/project/build.properties"]:
        if os.path.isfile(os.path.join(ROOT, f)):
            out.append(f)
    for d in ["src/main", "perfbench/src"]:
        for dirpath, _, files in os.walk(os.path.join(ROOT, d)):
            out += [os.path.relpath(os.path.join(dirpath, f), ROOT) for f in files]
    return sorted(out)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; kills the group on timeout or
    when this script is terminated."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)

    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail("timed out after %d s: %s" % (timeout, " ".join(cmd[:3])), 1)
    finally:
        for s, h in old.items():
            signal.signal(s, h)
    return proc.returncode, out


def classpath():
    """The benchmark's runtime classpath, building first if sources changed."""
    stamp = os.path.join(BUILD, "classpath.txt")
    digest = source_digest()
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            saved, cp = fh.read().split("\n", 1)
        if saved == digest:
            return cp.strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "perfbench/compile", "export perfbench/Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE, text=True)
    lines = [l for l in out.splitlines()
             if not l.startswith("[") and "perfbench" in l and os.pathsep in l]
    if code != 0 or not lines:
        sys.stderr.write(out)
        fail("build failed", 1)
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(digest + "\n" + lines[-1].strip() + "\n")
    return lines[-1].strip()


def declared_units(trace):
    """Metric name -> unit, as BENCHMARK.json declares them for this mode."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        fail("no BENCHMARK.json at the checkout root")
    with open(path) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=["0", "1"])
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no engine sources next to the benchmark (build.sbt, src/main/scala)")
    units = declared_units(args.trace == "1")
    cp = classpath()

    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms" + JAVA_HEAP, "-Xmx" + JAVA_HEAP, "-Djava.io.tmpdir=" + tmp,
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--work", os.path.join(BUILD, "work"),
            "--traces", os.path.join(BUILD, "traces")]
    try:
        code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    lines = out.strip().splitlines()
    if code != 0 or not lines:
        sys.stdout.write(out)
        fail("benchmark exited with code %d" % code, 1)
    result = json.loads(lines[-1])
    if set(result["metrics"]) != set(units):
        fail("metrics differ from BENCHMARK.json: %s"
             % sorted(set(result["metrics"]) ^ set(units)), 1)
    result["metrics"] = {n: {"value": v, "unit": units[n]}
                         for n, v in result["metrics"].items()}
    print("\n".join(lines[:-1] + [json.dumps(result)]))


if __name__ == "__main__":
    main()
