#!/usr/bin/env python3
"""End-to-end benchmark of the library: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of the repository. The first run builds the library and
the benchmark from source with sbt (perfbench/build.sbt); later runs reuse
the build while the sources are unchanged. Each run works in its own
directory under .bench_runs/, removed at the end; its full result file (and
the span file of a traced run) is kept under .bench_results/. Standard
output gets one line per metric, then, as its last line, the JSON object
{"correct", "attempted", "failed", "metrics"}. The exit code is non-zero
when any output check fails or the run cannot be made.
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

WORKLOADS = ("publish_roundtrip", "dedup_search")
BENCH = "perfbench"
# a fixed heap: no resizing during the timed rounds
HEAP = "1g"
# A run must end within 180 s; the JVM gets what is left after the build.
RUN_DEADLINE_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files(root):
    """Every file the runtime classes are built from, in a stable order."""
    bench = os.path.join(root, BENCH)
    out = [os.path.join(bench, "build.sbt"),
           os.path.join(bench, "project", "build.properties")]
    for top in (os.path.join(root, "src", "main"), os.path.join(bench, "src", "main")):
        for d, dirs, files in os.walk(top):
            dirs.sort()
            out += [os.path.join(d, f) for f in sorted(files)]
    return out


def source_hash(root):
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if not submit:
        fail("no SPARK_HOME and no spark-submit on PATH")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


def build(root, env):
    """Compile with sbt unless the stamp says these sources are built."""
    stamp_file = os.path.join(root, BENCH, "target", "bench-build.json")
    digest = source_hash(root)
    try:
        with open(stamp_file) as fh:
            stamp = json.load(fh)
        if stamp["sources"] == digest and all(
                os.path.exists(p) for p in stamp["classpath"].split(os.pathsep)):
            return stamp["classpath"]
    except (OSError, ValueError, KeyError):
        pass
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt is not on PATH")
    opts = env.get("SBT_OPTS", "")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.offline" not in opts and os.path.exists(repos):
        opts += (" -Dsbt.override.build.repos=true"
                 f" -Dsbt.repository.config={repos} -Dsbt.offline=true")
    tmp = os.path.join(root, BENCH, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts += f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # every JVM the sbt script starts keeps its perf data and temp files off
    # the shared temp dir
    benv = dict(env, SBT_OPTS=opts.strip(), TMPDIR=tmp,
                JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    r = subprocess.run([sbt, "--batch", "--no-server", "--no-colors",
                        "compile", "writeClasspath"],
                       cwd=os.path.join(root, BENCH), env=benv,
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail(f"build failed (sbt exit {r.returncode})")
    with open(os.path.join(root, BENCH, "target", "runtime-classpath.txt")) as fh:
        classpath = fh.read().strip()
    with open(stamp_file, "w") as fh:
        json.dump({"sources": digest, "classpath": classpath}, fh)
    return classpath


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    # a SIGTERM raises SystemExit here, so the build's sbt and the run's JVM
    # are stopped on the way out (subprocess.run and the finally below)
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))

    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(root, BENCH, "build.sbt"))):
        fail("run from the repository root: the library sources are missing")
    env = dict(os.environ, SPARK_HOME=spark_home())
    started = time.monotonic()
    classpath = build(root, env)

    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}-{int(time.time())}"
    work = os.path.join(root, ".bench_runs", run_id)
    results = os.path.join(root, ".bench_results")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(results, exist_ok=True)
    result = os.path.join(work, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    # half the cores: the driver thread, the JIT compilers and the collector
    # need the rest, and with every core given to Spark runs spread more
    threads = max(1, len(os.sched_getaffinity(0)) // 2)
    cmd = [java, *[x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", classpath, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--threads", str(threads), "--work", work, "--result", result]
    proc = subprocess.Popen(cmd, env=env, stdout=sys.stderr, stderr=sys.stderr)
    build_s = time.monotonic() - started
    try:
        code = proc.wait(timeout=max(RUN_DEADLINE_S - build_s, 60))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
    if code is None:
        fail("run exceeded its deadline")
    try:
        with open(result) as fh:
            res = json.load(fh)
        for f in (result, result + ".spans.jsonl"):
            if os.path.exists(f):
                shutil.copy(f, os.path.join(results, run_id + os.path.basename(f)[6:]))
    except (OSError, ValueError):
        res = None
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if res is None:
        fail(f"no result (benchmark exit {code})")

    for k, v in res.get("named", {}).items():
        print(f"{a.workload} {k} = {v}")
    for k, m in res["summary"]["metrics"].items():
        print(f"{a.workload} {k} = {m['value']} {m['unit']}")
    print(f"{a.workload} ops_attempted = {res['ops_attempted']}")
    print(f"{a.workload} ops_failed = {res['ops_failed']}")
    for f in res.get("failures", []):
        print(f"{a.workload} FAILED {f}")
    print(json.dumps(res["summary"]))
    sys.exit(0 if code == 0 and res["summary"]["correct"] else 1)


if __name__ == "__main__":
    main()
