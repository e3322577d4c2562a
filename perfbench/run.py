#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last stdout line.

    python3 perfbench/run.py --workload ticks_hourly --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the program (with its
own build, into target/) and the harness (into .bench_build/) from source with
sbt; later runs reuse the build while the sources are unchanged. A run writes
its inputs and outputs under .bench_build/run/. See perfbench/README.md for
the workloads and metrics.
"""
import argparse
import contextlib
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(BUILD, "run")
HERE = os.path.join(ROOT, "perfbench")
WORKLOADS = ("ticks_hourly", "backfill_bulk", "analytics_mix")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads: the program's and the harness's sources."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "project")]
    out = [os.path.join(HERE, "build.sbt"), os.path.join(ROOT, "build.sbt"),
           os.path.join(ROOT, "project", "build.properties")]
    for r in roots:
        for d, dirs, files in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            out += [os.path.join(d, f) for f in sorted(files)]
    return out


def run_group(cmd, limit, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} exceeded {limit} s")
    return p.returncode, out


def build():
    """Builds with sbt unless the stamped build matches the sources."""
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
         "compile", "export Runtime/fullClasspath"],
        BUILD_LIMIT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True)
    lines = out.splitlines()
    cp = [l for l in lines if ".bench_build" in l and "classes" in l
          and not l.startswith("[")]
    if code != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    with open(cp_file, "w") as fh:
        fh.write(cp[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp[-1].strip()


def oracle_check():
    """Compares the dumped mix results with DuckDB's oracle SQL, the way
    tools/check_oracle.py does. Returns a list of failures."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    out = os.path.join(WORK, "oracle")
    log = os.path.join(WORK, "oracle_check.txt")
    with open(log, "w") as fh, contextlib.redirect_stdout(fh):
        spec.loader.exec_module(mod)
        code = mod.main(os.path.join(WORK, "inputs", "sf"), out)
    with open(log) as fh:
        bad = [l.strip() for l in fh if l.startswith("FAIL")]
    if code != 0 and not bad:
        bad = [f"oracle check exited {code}"]
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for need in ("src/main/scala/graft", "tools/check_oracle.py",
                 "src/test/resources/opensky", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} is missing: run from the root of a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    cp = build()

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    cpus = str(min(4, os.cpu_count() or 1))
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus,
               SPARK_LOCAL_DIRS=os.path.join(WORK, "tmp"),
               GRAFT_FIXTURES_DIR=os.path.join(WORK, "inputs", "states"))
    env.pop("SPARK_MASTER", None)
    jvm = ["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'spark-warehouse')}",
        f"-Dderby.system.home={WORK}",
        "-cp", cp, "graft.perfbench.Main", a.workload, str(a.seed),
        str(a.seconds), str(a.trace), WORK,
        os.path.join(ROOT, "src", "test", "resources", "opensky")]
    code, out = run_group(jvm, RUN_LIMIT_S - 15, cwd=WORK, env=env,
                          stdout=subprocess.PIPE, text=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if code != 0 or not lines:
        fail(f"workload exited {code} without a result")
    res = json.loads(lines[-1])

    if a.workload == "analytics_mix":
        bad = oracle_check()
        if bad:
            res["correct"] = False
            for b in bad:
                print(f"[perfbench] oracle {b}", file=sys.stderr)

    want = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    if sorted(res["metrics"]) != sorted(want):
        fail(f"metrics {sorted(res['metrics'])} do not match BENCHMARK.json {sorted(want)}", 3)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
