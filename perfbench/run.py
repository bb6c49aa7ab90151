#!/usr/bin/env python3
"""Outside-in benchmark of the `graft.pipeline.Main` submit path.

Run from the repository root:

    python3 perfbench/run.py --workload mixed_crawl --seed 1 --seconds 10 --trace 0

The script compiles `src/main/scala` together with `perfbench/src` with the
Scala compiler that ships in the Spark distribution the build uses (no sbt,
nothing fetched), caches the classes under `.bench_build/perfbench`, and runs
one JVM that drives `Main` in a closed loop (see README.md). It prints one
detail line and, as the last stdout line, the result object
`{"correct", "attempted", "failed", "metrics"}`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. The full result
(per-submit walls, checks, spans) is written under
`.bench_build/perfbench/results/`.
"""

import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

T0 = time.monotonic()
DEADLINE_S = 170  # the whole run, build included, must end within 180 s
BUILD_DEADLINE_S = 850  # a first run in a fresh checkout compiles first


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def build_setting(build_sbt, key):
    m = re.search(key + r'\s*:=\s*(?:file\()?"([^"]+)"', build_sbt)
    return m.group(1) if m else None


def spark_jars(build_sbt):
    home = os.environ.get("SPARK_HOME")
    candidates = [os.path.join(home, "jars")] if home else []
    base = build_setting(build_sbt, "unmanagedBase")
    if base:
        candidates.append(base)
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(os.path.dirname(os.path.realpath(submit)), "..", "jars"))
    for c in candidates:
        if glob.glob(os.path.join(c, "spark-core_*.jar")):
            return os.path.abspath(c)
    fail("no Spark jars found (set SPARK_HOME)")


def sources(root):
    files = []
    for d in ("src/main/scala", "perfbench/src"):
        for dirpath, _, names in os.walk(os.path.join(root, d)):
            files += [os.path.join(dirpath, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def build(root, jars, scala_version):
    srcs = sources(root)
    if not any("/src/main/scala/" in s for s in srcs):
        fail("no program sources under src/main/scala")
    h = hashlib.sha256(scala_version.encode())
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out_root = os.path.join(root, ".bench_build", "perfbench")
    classes = os.path.join(out_root, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".complete")):
        return classes
    for old in glob.glob(os.path.join(out_root, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(classes)
    compiler = [os.path.join(jars, f"scala-{p}-{scala_version}.jar") for p in ("compiler", "library", "reflect")]
    if not all(os.path.exists(c) for c in compiler):
        fail(f"Scala {scala_version} compiler jars not found in {jars}")
    argfile = os.path.join(out_root, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    tmp = os.path.join(out_root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={tmp}", "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", os.path.join(jars, "*"), "@" + argfile]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = run_child(cmd, BUILD_DEADLINE_S - (time.monotonic() - T0), root)
    if r != 0:
        shutil.rmtree(classes, ignore_errors=True)
        fail(f"compile failed ({r})")
    open(os.path.join(classes, ".complete"), "w").close()
    return classes


def run_child(cmd, timeout, cwd):
    """Runs `cmd` with its stdout and stderr on our stderr; kills its whole
    process group on timeout and always waits for it."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        fail_code = -9
    except BaseException:
        fail_code = -15
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    p.wait()
    if fail_code == -15:
        raise
    return fail_code


def heap_size():
    try:
        with open("/proc/meminfo") as f:
            kb = int(re.search(r"MemTotal:\s+(\d+)", f.read()).group(1))
        return "2g" if kb >= 6 * 1024 * 1024 else "1g"
    except (OSError, AttributeError):
        return "2g"


def jvm_opts(root, work):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    heap = heap_size()
    # the same GC and fixed pre-touched heap the build uses for timed runs
    return ([a for p in opens for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            ["-XX:+UseParallelGC", "-XX:+AlwaysPreTouch", f"-Xms{heap}", f"-Xmx{heap}",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             f"-Dlog4j2.configurationFile={os.path.join(root, 'perfbench', 'log4j2.properties')}"])


def main():
    # a SIGTERM unwinds through run_child, which kills the JVM and waits
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            bench = json.load(f)
        with open(os.path.join(root, "build.sbt")) as f:
            build_sbt = f.read()
    except OSError as e:
        fail(f"run from the repository root: {e}")
    if a.workload not in [w["name"] for w in bench["workloads"]]:
        fail(f"unknown workload {a.workload}")
    scala_version = build_setting(build_sbt, "scalaVersion") or fail("no scalaVersion in build.sbt")
    jars = spark_jars(build_sbt)
    classes = build(root, jars, scala_version)

    out_root = os.path.join(root, ".bench_build", "perfbench")
    work = os.path.join(out_root, f"work-{os.getpid()}")
    results = os.path.join(out_root, "results")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    result_file = os.path.join(work, "result.json")
    cores = len(os.sched_getaffinity(0))
    cmd = (["java"] + jvm_opts(root, work) +
           ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), "perfbench.PerfBench",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--result", result_file, "--cores", str(cores)])
    try:
        # a run that compiled first gets the full run budget after the build
        rc = run_child(cmd, DEADLINE_S - min(time.monotonic() - T0, 10), root)
        if rc != 0 or not os.path.exists(result_file):
            fail(f"benchmark JVM failed ({rc})")
        with open(result_file) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wanted = bench["per_layer"] if a.trace else bench["end_to_end"]
    metrics = {}
    for m in wanted:
        value = res["metrics"].get(m["name"])
        if value is None:
            fail(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    spans = res.pop("spans", [])
    with open(os.path.join(results, tag + ".json"), "w") as f:
        json.dump(res, f, indent=1)
    if spans:
        with open(os.path.join(results, tag + "-spans.jsonl"), "w") as f:
            for name, start, end, parent, run in spans:
                f.write(json.dumps({"name": name, "start_ms": start, "end_ms": end,
                                    "parent": parent, "run": run}) + "\n")
    print(json.dumps({"perfbench": dict(res["detail"], trace=a.trace,
                                        detail_file=os.path.join(".bench_build", "perfbench", "results",
                                                                 tag + ".json"))},
                     separators=(",", ":")))
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}, separators=(",", ":")))


if __name__ == "__main__":
    main()
