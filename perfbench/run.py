#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark from source with the repository's offline sbt build; later runs
start the JVM directly. The build is redone whenever a source or build file
changes, or when a file on the classpath does (a build at the root writes
the program's classes to the same place). Workloads and metric names come
from `BENCHMARK.json`; a per-layer metric a workload does not reach reads 0.
Scratch state lives in `.bench_work/` and is removed after the run; the
JVM's log and, for traced runs, the span document are kept in
`.bench_out/`.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 outside spark-submit needs these (the program's build
# passes the same list to its forked JVMs).
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
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_inputs():
    """Every file whose content decides the build, as sorted paths."""
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for dirpath, _, names in os.walk(base):
            files += [os.path.join(dirpath, n) for n in names]
    for rel in ("build.sbt", os.path.join("project", "build.properties")):
        files += [os.path.join(ROOT, rel), os.path.join(HERE, rel)]
    return sorted(f for f in files if os.path.isfile(f))


def classpath_state(classpath):
    """Digest of the path, size and modification time of every file on the
    classpath."""
    digest = hashlib.sha256()
    for entry in classpath.split(os.pathsep):
        files = ([entry] if not os.path.isdir(entry) else
                 sorted(os.path.join(d, n) for d, _, names in os.walk(entry) for n in names))
        for f in files:
            try:
                st = os.stat(f)
                digest.update(f"{f}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
            except OSError:
                digest.update(f"{f}\0missing\n".encode())
    return digest.hexdigest()


def build():
    """Compile unless neither an input nor the classpath changed since the
    last build; return the classpath."""
    digest = hashlib.sha256()
    for f in build_inputs():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(HERE, "target", "bench.stamp")
    cp_file = os.path.join(HERE, "target", "bench.classpath")
    if os.path.isfile(stamp) and os.path.isfile(cp_file):
        with open(stamp) as fh, open(cp_file) as cp:
            classpath = cp.read()
            if fh.read() == f"{digest.hexdigest()} {classpath_state(classpath)}":
                return classpath
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    try:
        done = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "benchClasspath"],
                              cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                              timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}", 1)
    if done.returncode != 0 or not os.path.isfile(cp_file):
        fail(f"build failed with exit code {done.returncode}", 1)
    with open(cp_file) as fh:
        classpath = fh.read()
    with open(stamp, "w") as fh:
        fh.write(f"{digest.hexdigest()} {classpath_state(classpath)}")
    return classpath


def load_spec():
    """BENCHMARK.json at the root of the checkout."""
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            return json.load(fh)
    except (OSError, ValueError) as e:
        fail(f"cannot read BENCHMARK.json: {e}")


def listed_metrics(result, listed):
    """The result's metrics in the order of `listed` (BENCHMARK.json
    entries); a listed metric the run did not measure reads 0."""
    got = result["metrics"]
    unknown = sorted(set(got) - {m["name"] for m in listed})
    if unknown:
        fail(f"metrics not listed in BENCHMARK.json: {', '.join(unknown)}", 1)
    out = {}
    for m in listed:
        v = got.get(m["name"], {"value": 0.0, "unit": m["unit"]})
        if v["unit"] != m["unit"]:
            fail(f"{m['name']} reported in {v['unit']}, listed in {m['unit']}", 1)
        out[m["name"]] = v
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    spec = load_spec()
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"the program's sources are missing under {ROOT}/src/main/scala/graft")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    classpath = build()
    tag = f"{args.workload}-{args.seed}-{'traced' if args.trace == '1' else 'plain'}"
    work = os.path.join(ROOT, ".bench_work", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dfile.encoding=UTF-8"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace,
              "--work", work, "--trace-out", os.path.join(out_dir, f"trace-{tag}.json")])
    log_path = os.path.join(out_dir, f"{tag}.log")
    try:
        with open(log_path, "w") as log:
            done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=log,
                                  timeout=RUN_TIMEOUT_S, text=True)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s (log: {log_path})", 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = done.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
        ok = set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError):
        ok = False
    if done.returncode != 0 or not ok:
        sys.stderr.write("".join(open(log_path).readlines()[-30:]))
        fail(f"run failed with exit code {done.returncode} (log: {log_path})", 1)
    listed = spec["per_layer" if args.trace == "1" else "end_to_end"]
    if args.trace == "0" and set(result["metrics"]) != {m["name"] for m in listed}:
        fail("the end-to-end metrics differ from those listed in BENCHMARK.json", 1)
    result["metrics"] = listed_metrics(result, listed)
    print("\n".join(lines[:-1] + [json.dumps(result, separators=(",", ":"))]))


if __name__ == "__main__":
    main()
