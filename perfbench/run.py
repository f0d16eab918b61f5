#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds the program and the harness with sbt
(offline) into `.bench_build/`; later runs reuse the build while the
sources are unchanged. Everything a run writes stays under `.bench_build/`.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
HARNESS = os.path.join(ROOT, "perfbench", "harness")
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(ROOT, "perfbench", "data", "sf0.01")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Digest of every file the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src"),
            os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)  # stray children of the group
        except ProcessLookupError:
            pass
    return proc.returncode, out, err


def build():
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("building program and harness (sbt, offline)")
    # JVMs keep no perf-data file under /tmp; sbt's temp files go to the build dir
    env = dict(os.environ, COURSIER_MODE="offline", JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
                       + os.path.expanduser("~/.sbt/repositories")
                       + " -Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g"
                       + f" -Djava.io.tmpdir={tmp}")
    t0 = time.time()
    rc, out, _ = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.supershell=false",
         "compile", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HARNESS, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines or "harness" not in lines[-1]:
        sys.stderr.write(out[-4000:])
        raise SystemExit("perfbench: build failed")
    log(f"build took {time.time() - t0:.1f}s")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def untraced_wall(workload):
    """Median wall_s of this checkout's untraced runs of the workload, the
    base of the tracing overhead; None before the first one."""
    walls = []
    for p in glob.glob(os.path.join(BUILD, "runs", f"{workload}_seed*_trace0.json")):
        with open(p) as f:
            walls.append(statistics.median(json.loads(f.readline())["cycles"]))
    return statistics.median(walls) if walls else None


def cpu_times():
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def loadavg1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        raise SystemExit(f"perfbench: unknown workload {a.workload}")
    for need in ("build.sbt", "src"):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"perfbench: no program to build ({need} missing)")

    os.makedirs(BUILD, exist_ok=True)
    cp = build()
    work = os.path.join(BUILD, "work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(BUILD, "runs", f"{a.workload}_seed{a.seed}_trace{a.trace}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)

    cmd = ["java"] + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
        "-Dlog4j2.configurationFile=" + os.path.join(ROOT, "perfbench", "log4j2.properties"),
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"-Dderby.system.home={os.path.join(work, 'derby')}",
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work, "--data", DATA, "--out", out]

    cpu0, load0, t0 = cpu_times(), loadavg1(), time.time()
    try:
        rc, stdout, _ = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"perfbench: harness killed after {RUN_TIMEOUT_S}s")
    cpu1, load1 = cpu_times(), loadavg1()
    delta = [y - x for x, y in zip(cpu0, cpu1)]
    steal = 100.0 * delta[7] / max(1, sum(delta)) if len(delta) > 7 else 0.0
    host = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
            "steal_pct": round(steal, 2), "loadavg1_before": load0,
            "loadavg1_after": load1, "run_s": round(time.time() - t0, 2)}
    log("host " + json.dumps(host))
    with open(os.path.join(BUILD, "host.jsonl"), "a") as f:
        f.write(json.dumps(host) + "\n")

    lines = [l for l in stdout.splitlines() if l.startswith("{")]
    if rc != 0 or not lines:
        raise SystemExit(f"perfbench: harness exited {rc} without a result")
    raw = json.loads(lines[-1])
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    values = dict(raw["values"], **{"host.steal_pct": steal, "host.loadavg1": load1})
    base = untraced_wall(a.workload) if a.trace else None
    if base is not None:
        values["trace.untraced_wall_s"] = base
        values["trace.overhead_s"] = values["trace.wall_s"] - base
    if not a.trace:
        missing = [m["name"] for m in wanted if m["name"] not in values]
        if missing:
            raise SystemExit(f"perfbench: harness did not report {missing}")
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"correct": raw["correct"], "attempted": raw["attempted"],
                      "failed": raw["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
