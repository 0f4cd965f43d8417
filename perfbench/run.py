#!/usr/bin/env python3
"""The engine's benchmark: one run of one workload in a fresh JVM.

    python3 perfbench/run.py --workload star_etl --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout. The first call compiles the engine and
the benchmark with the Scala compiler in the engine's jar directory and
caches the classes under the build directory (`$CARGO_TARGET_DIR`, default
`.bench_build`); later calls reuse them until a source file changes. Each run gets its own work directory, with
`java.io.tmpdir` and `SPARK_LOCAL_DIRS` inside it, deleted after the run.

The last line on stdout is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
The lines before it give the workload's metrics under their own names.
See perfbench/README.md.
"""
import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("star_etl", "query_mix", "index_loop")

# The same list as the engine's build.sbt (Spark on JDK 17 outside
# spark-submit).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

CORE_SITE = """<?xml version="1.0"?>
<configuration>
  <property><name>fs.file.impl</name><value>perfbench.CountingLocalFileSystem</value></property>
</configuration>
"""


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def cpus():
    return len(os.sched_getaffinity(0))


def heap():
    """Half of RAM, clamped to 2-8 GB, the rule the test suite uses."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def tree_bytes(path):
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total


def engine_toolchain():
    """The engine's Scala version and jar directory, read from its build.sbt.

    The engine takes Spark, and with it the Scala library, compiler and
    reflect jars, from one unmanaged jar directory; the benchmark compiles
    with that compiler against those jars, so it needs no dependency
    resolution and writes nothing outside the build directory."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        text = f.read()
    version = re.search(r'scalaVersion\s*:=\s*"([^"]+)"', text)
    base = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', text)
    if not version or not base:
        die("build.sbt names no scalaVersion or unmanagedBase jar directory", 1)
    jar_dir = base.group(1)
    if not os.path.isabs(jar_dir):
        jar_dir = os.path.join(ROOT, jar_dir)
    jars = sorted(os.path.join(jar_dir, f) for f in os.listdir(jar_dir) if f.endswith(".jar"))
    compiler = [os.path.join(jar_dir, f"scala-{m}-{version.group(1)}.jar")
                for m in ("compiler", "library", "reflect")]
    missing = [c for c in compiler if not os.path.exists(c)]
    if missing:
        die(f"no Scala {version.group(1)} compiler jars in {jar_dir}: {missing}", 1)
    return jars, compiler


def scala_sources(root):
    out = []
    for d, dirs, fs in os.walk(root):
        dirs.sort()
        out += [os.path.join(d, f) for f in sorted(fs) if f.endswith(".scala")]
    return out


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def scalac(compiler, classpath, sources, out, tmp, log):
    """One scalac run in its own JVM; the sources go in an argument file."""
    os.makedirs(out)
    args = os.path.join(tmp, os.path.basename(out) + ".args")
    with open(args, "w") as f:
        f.write("\n".join(f'"{s}"' for s in sources) + "\n")
    log.write(f"scalac: {len(sources)} sources -> {out}\n")
    log.flush()
    try:
        p = subprocess.run(
            ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
             "-d", out, "-classpath", os.pathsep.join(classpath), "@" + args],
            stdout=log, stderr=subprocess.STDOUT, timeout=400)
    except subprocess.TimeoutExpired:
        die(f"scalac took over 400 s; see {log.name}", 1)
    if p.returncode != 0:
        die(f"scalac failed (exit {p.returncode}); see {log.name}", 1)


def build(bench_dir):
    """Compile the engine's main sources, then the benchmark's, with the
    engine's own Scala compiler and jars; return the runtime classpath.
    The result is cached under `bench_dir`, keyed by a hash of every
    source file and the engine's build.sbt."""
    os.makedirs(bench_dir, exist_ok=True)
    cp_file = os.path.join(bench_dir, "classpath.txt")
    engine_src = scala_sources(os.path.join(ROOT, "src", "main"))
    bench_src = scala_sources(os.path.join(HERE, "src"))
    fp = fingerprint([os.path.join(ROOT, "build.sbt")] + engine_src + bench_src)
    with open(os.path.join(bench_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(cp_file):
            with open(cp_file) as f:
                stamp, cp = f.read().split("\n", 1)
            if stamp == fp:
                return cp.strip(), False
        jars, compiler = engine_toolchain()
        classes = os.path.join(bench_dir, "classes")
        tmp = os.path.join(bench_dir, "build-tmp")
        for d in (classes, tmp):
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(tmp)
        engine_out = os.path.join(classes, "engine")
        bench_out = os.path.join(classes, "perfbench")
        with open(os.path.join(bench_dir, "build.log"), "w") as log:
            scalac(compiler, jars, engine_src, engine_out, tmp, log)
            scalac(compiler, [engine_out] + jars, bench_src, bench_out, tmp, log)
        shutil.rmtree(tmp, ignore_errors=True)
        cp = os.pathsep.join([bench_out, engine_out] + jars)
        with open(cp_file, "w") as f:
            f.write(fp + "\n" + cp + "\n")
        return cp, True


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--scale", type=float, help="table scale factor (default per workload)")
    ap.add_argument("--expected", default=os.path.join(HERE, "expected.json"),
                    help="recorded output checksums and row counts")
    ap.add_argument("--record", help="write the observed checksums here")
    a = ap.parse_args()
    started = time.time()

    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"no engine source at {os.path.join(ROOT, need)}; run from a full checkout")
    if shutil.which("java") is None:
        die("java must be on PATH")

    build_root = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    bench_dir = os.path.join(build_root, "perfbench")
    classpath, built = build(bench_dir)

    run_id = f"{a.workload}-seed{a.seed}-trace{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    work = os.path.join(bench_dir, "work", run_id)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d)
    out = os.path.join(work, "result.json")
    raw = os.path.join(bench_dir, "runs", run_id + ".json")
    spans = os.path.join(bench_dir, "spans", run_id + ".json")
    logf = os.path.join(bench_dir, "logs", run_id + ".log")
    os.makedirs(os.path.dirname(logf), exist_ok=True)

    if a.trace == "1":
        conf = os.path.join(work, "conf")
        os.makedirs(conf)
        with open(os.path.join(conf, "core-site.xml"), "w") as f:
            f.write(CORE_SITE)
        classpath = conf + os.pathsep + classpath

    # The engine reads tuning knobs and the JVM reads options from the
    # environment; none of the caller's may reach the run.
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "GRAFT_"))
           and k not in ("JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "JDK_JAVA_OPTIONS")}
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus()),
        "SPARK_DRIVER_MEM": heap(),
        "SPARK_LOCAL_DIRS": local,
        "TZ": "UTC",
    })
    cmd = (["java", f"-Xmx{heap()}", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
              f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
              "-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--work", work, "--data", os.path.join(bench_dir, "data"),
              "--out", out, "--raw", raw, "--spans", spans,
              "--expected", os.path.abspath(a.expected)]
           + (["--scale", str(a.scale)] if a.scale is not None else [])
           + (["--record", os.path.abspath(a.record)] if a.record else []))
    budget = (900 if built else 178) - (time.time() - started) - 3
    try:
        with open(logf, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT)
            try:
                code = proc.wait(timeout=max(10, budget))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                die(f"run exceeded its time budget; see {logf}", 1)
        if code != 0 or not os.path.exists(out):
            with open(logf) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            die(f"benchmark JVM exited with {code}; see {logf}", 1)
        with open(out) as f:
            res = json.load(f)
        left = tree_bytes(tmp) / 1e6
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if a.trace == "1":
        res["metrics"]["tmp_left_mb"] = {"value": left, "unit": "MB"}
    with open(raw) as f:
        rec = json.load(f)
    rec["tmp_left_mb"] = left
    rec["wall_s"] = time.time() - started
    with open(raw, "w") as f:
        json.dump(rec, f)
        f.write("\n")

    for name, m in sorted(res["named"].items()):
        print(f"{name} {m['value']:.6f} {m['unit']}")
    print(f"tmp_left_mb {left:.6f} MB")
    print(f"raw {raw}")
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
