#!/usr/bin/env python3
"""graft benchmark: run one workload and print its metrics.

    python3 perfbench/run.py --workload llm_curate --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark with sbt (offline) into the checkout; later runs reuse the build
while the sources are unchanged. Each run starts one JVM: a single client
thread issues one operation at a time to a local[nproc] Spark session.

The last line of stdout is one JSON object: the correctness verdict
(`correct`, `attempted`, `failed`) and the metrics -- the end-to-end
metrics with `--trace 0`, the per-layer metrics with `--trace 1`. Lines
before it name failed operations, give every end-to-end number the run
computed (the operation latency percentiles too), sample counts and trace
self times.

The metric names and units come from BENCHMARK.json next to perfbench/.
llm_curate reads the sf0.01 tables in perfbench/data/sf0.01 (a copy of the
engine's correctness-scale fixture tables); table_ingest generates its
Asana pages from the seed (gen.py).
"""
import argparse
import glob
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
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("llm_curate", "table_ingest")
TABLES = os.path.join(HERE, "data", "sf0.01")
INGEST_ROUNDS = 80
# Java options of the repository's build.sbt (javaOptions): the JDK 17
# module opens Spark needs, UTC, UI off, ParallelGC. The heap follows
# SPARK_DRIVER_MEM like build.sbt; unset, it is half the machine's memory
# clamped to 2..8 GiB (the repository's test setting) rather than 24g.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def die(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def driver_mem() -> str:
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def sources() -> list:
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (ROOT, HERE):
        files += glob.glob(os.path.join(base, "project", "*.sbt"))
        files += glob.glob(os.path.join(base, "project", "*.properties"))
        files += glob.glob(os.path.join(base, "src", "main", "**", "*"),
                           recursive=True)
    return sorted(f for f in files if os.path.isfile(f))


def build() -> str:
    """Compile engine + benchmark once per source state; the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("run from a graft checkout: build.sbt and src/main/scala are "
            "missing next to perfbench/")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" +
                   os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g -XX:-UsePerfData"
                   " -Djava.io.tmpdir=" + os.path.join(BUILD, "tmp"))
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    t0 = time.time()
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
            text=True, timeout=BUILD_TIMEOUT_S, start_new_session=True)
    except FileNotFoundError:
        die("sbt is not on PATH")
    except subprocess.TimeoutExpired:
        die("build timed out")
    lines = [x for x in p.stdout.splitlines() if x.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        die(f"build failed (sbt exit {p.returncode})")
    cp = lines[-1].strip()
    if not all(os.path.exists(e) for e in cp.split(os.pathsep)):
        die("build did not yield a usable classpath")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return cp


def run_jvm(cp: str, args: list, work: str,
            timeout: int = JVM_TIMEOUT_S) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, "result.json")
    cmd = (["java"] +
           [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Xmx{driver_mem()}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-cp", cp, "graftbench.Main"] +
           args + ["--work", work, "--out", out])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=log,
                             start_new_session=True)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"the benchmark JVM did not finish in {timeout} s; "
                f"log: {os.path.join(work, 'jvm.log')}")
    if code != 0 or not os.path.isfile(out):
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        sys.stderr.write(tail)
        die(f"the benchmark JVM failed (exit {code})")
    with open(out) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
        if a.workload == "table_ingest":
            data = os.path.join(work, "ingest")
            gen.selfcheck(work, a.seed)
            gen.gen_ingest(data, a.seed, INGEST_ROUNDS)
        else:
            data = TABLES
            args += ["--expected",
                     os.path.join(HERE, "expected", f"{a.workload}.json")]
        res = run_jvm(cp, args + ["--data", data], work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for f in res["failures"]:
        print(f"FAILED {f}")
    print("e2e " + json.dumps(res["e2e"], sort_keys=True))
    print("info " + json.dumps(res["info"], sort_keys=True))
    if a.trace:
        print("per_layer " + json.dumps(res["per_layer"], sort_keys=True))
    want = spec["per_layer"] if a.trace else spec["end_to_end"]
    got = res["per_layer"] if a.trace else res["e2e"]
    # a layer the workload does not use reads 0; an end-to-end metric is
    # always measured
    metrics = {m["name"]: {"value": float(got[m["name"]] if not a.trace
                                          else got.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in want}
    print(json.dumps({"correct": bool(res["correct"]),
                      "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]),
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
