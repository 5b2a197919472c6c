#!/usr/bin/env python3
"""One benchmark run: build (when the sources changed), generate the
seeded inputs, drive one workload in one JVM, check its outputs with
DuckDB, and print one JSON line last on stdout.

Usage:
  python3 perfbench/run.py --workload analytics|retrieval
      --seed N --seconds S --trace 0|1

A run is a fixed amount of work: one set-up, one warm-up cycle and
TIMED_CYCLES timed cycles, whatever --seconds says (it is accepted so
that every runner can pass the same arguments). Every run so sees the
same table and index states and the same mix of samples, however fast
the program is.

Everything is read and written inside the checkout: the build under
perfbench/target, inputs and tables under perfbench/work.
"""
import argparse
import glob
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
WORK = os.path.join(HERE, "work")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

HEAP = "3g"
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

WORKLOADS = ("analytics", "retrieval")
# cycles measured after the warm-up cycle
TIMED_CYCLES = 1

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def sources():
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        files += sorted(p for p in glob.glob(os.path.join(d, "**", "*"), recursive=True)
                        if os.path.isfile(p))
    return files


def build():
    """Compile the program's sources with the harness (sbt, offline).
    Skipped when nothing under the source trees changed since the last
    successful build in this checkout."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("no program sources next to perfbench/ (src/main/scala)")
    h = hashlib.sha256()
    for p in sources():
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp_file = os.path.join(HERE, "target", "perfbench.stamp")
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    if os.path.exists(stamp_file) and open(stamp_file).read() == h.hexdigest():
        return classes
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g"))
    log("[perfbench] building ...")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE,
                       env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        raise SystemExit(f"build failed ({r.returncode})")
    log(f"[perfbench] built in {time.time() - t0:.0f} s")
    with open(stamp_file, "w") as f:
        f.write(h.hexdigest())
    return classes


def spark_jars():
    """Spark's jar directory, as the program's own build.sbt names it."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("no unmanagedBase in build.sbt")
    return m.group(1)


def loadavg():
    return [float(x) for x in open("/proc/loadavg").read().split()[:3]]


def run_jvm(classes, plan_path, work, out, trace):
    cores = os.cpu_count() if not hasattr(os, "sched_getaffinity") else len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    jvm_cwd = os.path.join(work, "jvm")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(jvm_cwd, exist_ok=True)
    # no hsperfdata file: the JVM writes nothing outside the checkout
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-cp", f"{classes}{os.pathsep}{spark_jars()}/*", "graft.perfbench.Main",
            "--plan", plan_path, "--work", work, "--out", out,
            "--trace", str(trace)]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    env.pop("SPARK_LOCAL_DIRS", None)
    r = subprocess.run(cmd, cwd=jvm_cwd, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=RUN_TIMEOUT_S)
    if r.returncode != 0:
        raise SystemExit(f"benchmark JVM failed ({r.returncode})")
    return cores


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="accepted; does not change the work")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    t_start = time.time()
    classes = build()
    t_built = time.time()
    base = os.path.join(WORK, "base")
    gen.write_base(base)
    work = os.path.join(WORK, "run", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    gen.generate(a.workload, inputs, a.seed, TIMED_CYCLES, base)
    out = os.path.join(work, "result.json")
    load0 = loadavg()
    t_gen = time.time()
    cores = run_jvm(classes, os.path.join(inputs, "plan.json"), os.path.join(work, "tables"),
                    out, a.trace)
    load1 = loadavg()
    t_jvm = time.time()
    with open(out) as f:
        result = json.load(f)
    with open(os.path.join(inputs, "plan.json")) as f:
        plan = json.load(f)

    failures = checks.check(a.workload, plan, result)
    t_checked = time.time()
    for msg in failures[:20]:
        log(f"[perfbench] CHECK FAILED: {msg}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if a.trace:
        # a layer a workload does not reach reads 0
        values = result["layers"]
        declared = bench["per_layer"]
    else:
        values = stats.end_to_end(result)
        declared = bench["end_to_end"]
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
               for m in declared}
    detail = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "cores": cores,
              "heap": HEAP, "load_start": load0, "load_end": load1,
              "tails": stats.tails(result), "cycles_run": result["cycles_run"],
              "wall_s": result["wall_s"], "setup_ms": result["setup_ms"],
              "session_ms": result["session_ms"], "warmup_ms": result["warmup_ms"],
              "ops": len(result["ops"]), "failures": failures, "metrics": metrics,
              "self_ms": result.get("self_ms", {}),
              "phase_s": {"build": t_built - t_start, "inputs": t_gen - t_built,
                          "jvm": t_jvm - t_gen, "checks": t_checked - t_jvm}}
    os.makedirs(os.path.join(WORK, "detail"), exist_ok=True)
    with open(os.path.join(WORK, "detail", f"{a.workload}-{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump(detail, f, indent=1)
    log(f"[perfbench] {a.workload} seed={a.seed} cores={cores} heap={HEAP} "
        f"load={load0[0]:.2f}->{load1[0]:.2f} cycles={result['cycles_run']} "
        f"ops={len(result['ops'])} timed={result['wall_s']:.1f}s "
        f"phases(s)={json.dumps({k: round(v, 1) for k, v in detail['phase_s'].items()})}")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not failures, "attempted": len(result["ops"]),
                      "failed": 0, "metrics": metrics}, separators=(",", ":")))
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())
