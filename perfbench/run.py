#!/usr/bin/env python3
"""Benchmark runner for the flow-ingest pipeline and the declared-query library.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest_backlog --seed 1 --seconds 10 --trace 0

It builds the program and the harness from source on first use (sbt, offline),
generates the workload's inputs from the seed, runs one JVM on local[nproc],
checks the outputs, and prints one JSON line last:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. See perfbench/NOTES.md for what each workload and metric is.

Self-test flags (not used by timed runs): --fault drop_file|miscount_malformed|
wrong_hash corrupts one input or expectation, and the run must then fail its
check; --record 1 writes the query workloads' row counts and hashes.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("ingest_backlog", "ingest_paced", "query_mix")
END_TO_END = ("setup_s", "peak_rss_mb", "latency_ms", "tail_latency_ms", "throughput_per_s")
JVM_TIMEOUT_S = 165
# Allocation-driven GC with a fixed young generation: G1's pause-time-driven
# sizing made peak RSS follow host speed (16% spread between same-code runs).
JVM_HEAP = ["-Xmx3g", "-XX:+UseParallelGC", "-Xmn512m"]
# -XX:-UsePerfData: no hsperfdata file in the system temp dir.
JVM_FLAGS = ["-XX:-UsePerfData", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
# Scale of the generated query tables (the expected hashes are recorded at it).
TABLE_SCALE = 0.01
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


def source_stamp():
    """Fingerprint of every input of the build: sources and build files."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile the program and the harness (incremental); return the classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"program source missing: {need} (run from the root of a checkout)")
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    if shutil.which("sbt") is None:
        fail("sbt not found")
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    # Shell temp files go inside the checkout and no JVM the launcher starts
    # writes hsperfdata. java.io.tmpdir stays the system default: sbt puts a
    # unix socket there, and a path inside a deep checkout can exceed the
    # 108-byte socket name limit.
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=tmp, JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
                       + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g"
                       + " -Dsbt.server.autostart=false")
    log("building program and harness (sbt, offline)")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"], cwd=HERE, env=env,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        fail(f"build failed (exit {r.returncode})")
    shutil.copy(os.path.join(HERE, "target", "classpath.txt"), cp_file)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build done in {time.time() - t0:.1f}s")
    return open(cp_file).read().strip()


def loadavg():
    try:
        return float(open("/proc/loadavg").read().split()[0])
    except OSError:
        return -1.0


def cpu_ticks():
    """(busy, steal, total) jiffies from the first line of /proc/stat."""
    try:
        f = [int(x) for x in open("/proc/stat").readline().split()[1:9]]
        return f[0] + f[1] + f[2] + f[5] + f[6], f[7], sum(f)
    except OSError:
        return 0, 0, 0


def spin_rate(seconds=0.3):
    """Single-thread loop iterations per microsecond: how fast this host is now."""
    t0 = time.perf_counter()
    n = 0
    while time.perf_counter() - t0 < seconds:
        n += 1
    return n / (seconds * 1e6)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, work, args, cpus):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    flags = [f for p in ADD_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java"] + flags + JVM_HEAP + JVM_FLAGS
           + [f"-Djava.io.tmpdir={tmp}", f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
              "-cp", cp, "perfbench.Main"]
           + [f"{k}={v}" for k, v in args.items()])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=logf, stderr=subprocess.STDOUT)
        deadline = time.time() + JVM_TIMEOUT_S
        while True:
            pid, status, ru = os.wait4(p.pid, os.WNOHANG)
            if pid:
                break
            if time.time() > deadline:
                p.kill()
                pid, status, ru = os.wait4(p.pid, 0)
                log(f"JVM timed out after {JVM_TIMEOUT_S}s; log in {work}/jvm.log")
                return None, ru
            time.sleep(0.05)
    code = os.waitstatus_to_exitcode(status)
    if code != 0:
        log(f"JVM exited {code}; tail of {work}/jvm.log:")
        sys.stderr.write("".join(open(os.path.join(work, "jvm.log")).readlines()[-30:]))
        return None, ru
    return json.load(open(os.path.join(work, "result.json"))), ru


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--fault", default="", choices=("", "drop_file", "miscount_malformed", "wrong_hash"))
    ap.add_argument("--record", type=int, default=0, choices=(0, 1))
    a = ap.parse_args()

    cp = build()
    cpus = nproc()
    work = os.path.join(BUILD, "runs", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spin = spin_rate()
    load0 = loadavg()
    ticks0 = cpu_ticks()
    t_setup = time.time()
    args = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "work": work, "bench": HERE, "record": a.record}
    if a.fault:
        args["fault"] = a.fault
    # A traced ingest run also measures the query layers, on the same tables.
    if a.workload == "query_mix" or a.trace:
        sys.path.insert(0, HERE)
        import gen_tables
        args["data"] = os.path.join(work, "data")
        gen_tables.write(args["data"], TABLE_SCALE)
    log(f"inputs generated in {time.time() - t_setup:.2f}s")
    res, ru = run_jvm(cp, work, args, cpus)
    if res is None:
        sys.exit(1)
    load1 = loadavg()
    ticks1 = cpu_ticks()
    dt = max(1, ticks1[2] - ticks0[2])
    setup_s = res["setup_end_ms"] / 1000.0 - t_setup
    metrics = {"setup_s": (setup_s, "s"), "peak_rss_mb": (ru.ru_maxrss / 1024.0, "MB")}
    metrics.update({k: (v["value"], v["unit"]) for k, v in res["metrics"].items()})
    correct = bool(res["correct"])
    if a.trace:
        out = {k: (v["value"], v["unit"]) for k, v in res["layers"].items()}
    else:
        out = {k: metrics[k] for k in END_TO_END if k in metrics}
        missing = [k for k in END_TO_END if k not in metrics or not (metrics[k][0] or 0) > 0]
        if missing:
            log(f"metrics missing or not positive: {missing}")
            correct = False
    meta = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "nproc": cpus,
            "load_avg_start": load0, "load_avg_end": load1, "host_spin_per_us": round(spin, 3),
            "cpu_busy_pct": round(100.0 * (ticks1[0] - ticks0[0]) / dt, 1),
            "cpu_steal_pct": round(100.0 * (ticks1[1] - ticks0[1]) / dt, 1), "java_version": res["java_version"],
            "jvm_flags": res["jvm_flags"], "gc_ms": res["gc_ms"], "gc_count": res["gc_count"],
            "generator_late_ms_max": res["generator_late_ms_max"], "problems": res["problems"],
            "notes": res["notes"], "all_metrics": {k: v[0] for k, v in metrics.items()}}
    if a.trace:
        meta["self_time"] = open(os.path.join(work, "trace_self.txt")).read()
        shutil.copy(os.path.join(work, "trace.json"), os.path.join(BUILD, f"trace-{a.workload}.json"))
    with open(os.path.join(BUILD, f"meta-{a.workload}.json"), "w") as f:
        json.dump(meta, f, indent=1)
    if a.trace:
        print(meta["self_time"])
    print("# meta " + json.dumps({k: v for k, v in meta.items() if k != "self_time"}))
    if correct and not a.record:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]), "failed": int(res["failed"]),
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()}}))


if __name__ == "__main__":
    main()
