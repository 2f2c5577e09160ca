#!/usr/bin/env python3
"""Remote-store benchmark for the graft cache.

Run from the repository root:

    python3 perfbench/run.py --workload scan-hot --seed 1 --seconds 10 --trace 0

Builds the engine plus the benchmark from source on first use (sbt, into
perfbench/target), then runs one workload in a fresh JVM against a
simulated object store. Prints every metric by name with its unit and, as
the last line, one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones. Exits non-zero on a wrong result or when a
workload does not do the work it claims (see claims()).
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("scan-hot", "scan-churn")
RUN_LIMIT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every input of the build: engine sources, benchmark
    sources and build files."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH_DIR, "src", "main"),
             os.path.join(BENCH_DIR, "build.sbt"),
             os.path.join(BENCH_DIR, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """The Spark installation whose jars build and run the benchmark:
    SPARK_HOME, else the one whose spark-submit is on PATH."""
    candidates = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep) if d]
    for c in candidates:
        if c and glob.glob(os.path.join(c, "jars", "spark-core_*.jar")):
            return c
    fail("no Spark installation found; set SPARK_HOME")


def build():
    """Compiles once per source state; returns the runtime classpath."""
    os.makedirs(STATE, exist_ok=True)
    stamp = os.path.join(STATE, "build.json")
    with open(os.path.join(STATE, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        digest = source_digest()
        if os.path.exists(stamp):
            with open(stamp) as fh:
                st = json.load(fh)
            if st.get("digest") == digest:
                return st["classpath"]
        env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
        env["SBT_OPTS"] = env.get("SBT_OPTS") or (
            "-Dsbt.override.build.repos=true "
            "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
            " -Dsbt.offline=true -Xmx2g")
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=BENCH_DIR, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=840)
        cp = [l.strip() for l in p.stdout.splitlines()
              if "scala-2.13/classes" in l and not l.startswith("[")]
        if p.returncode != 0 or not cp:
            sys.stderr.write(p.stdout[-4000:])
            fail("build failed")
        with open(stamp, "w") as fh:
            json.dump({"digest": digest, "classpath": cp[-1]}, fh)
        return cp[-1]


def disk_bytes(path):
    total = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            try:
                total += os.lstat(os.path.join(d, f)).st_blocks * 512
            except OSError:
                pass
    return total


def run_jvm(classpath, args, work, deadline):
    """Runs one workload JVM; returns (exit status, peak RSS in MB, samples
    of the cache directory's allocated bytes taken during the timed loop)."""
    log = open(os.path.join(work, "jvm.log"), "w")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xms1g", "-Xmx1g", "-XX:+AlwaysPreTouch", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "graft.perfbench.Main"] + args)
    proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                            start_new_session=True)
    samples, next_sample = [], 0.0
    marker = os.path.join(work, "phase")
    reaped = False
    try:
        while True:
            pid, status, ru = os.wait4(proc.pid, os.WNOHANG)
            if pid == proc.pid:
                reaped = True
                return status, ru.ru_maxrss / 1024.0, samples
            if time.time() > deadline:
                return None, 0.0, samples
            if time.time() >= next_sample and os.path.exists(marker):
                with open(marker) as fh:
                    if fh.read() == "timed":
                        samples.append(disk_bytes(os.path.join(work, "cache")))
                next_sample = time.time() + 0.5
            time.sleep(0.05)
    finally:
        # stop the JVM on timeout, on an error here, or when this script
        # is terminated, and wait until it has ended
        if not reaped:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            os.waitpid(proc.pid, 0)
        log.close()


def spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        fail("BENCHMARK.json not found at the repository root")
    with open(path) as fh:
        return json.load(fh)


def claims(workload, layers):
    """What each workload must be doing, read off its layer counters."""
    c = {}
    if workload == "scan-hot":
        c["no store GETs after the cold pass"] = layers["store.get_requests"] == 0
        c["cache hit ratio >= 0.99"] = layers["cache.hit_ratio"] >= 0.99
    elif workload == "scan-churn":
        c["evictions > 0"] = layers["cache.evictions"] > 0
        c["invalidations > 0"] = layers["cache.invalidations"] > 0
        c["0 < cache hit ratio < 1"] = 0 < layers["cache.hit_ratio"] < 1
    if "operators.task_run_ms" in layers:
        c["curation probe: task time exceeds cache read time"] = \
            layers["operators.task_run_ms"] > layers["operators.cache_read_ms"]
    return c


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    start = time.time()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to perfbench/")
    bench = spec()
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")

    t_build = time.time()
    classpath = build()
    build_s = time.time() - t_build

    work = os.path.join(STATE, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    spans = os.path.join(STATE, "traces", f"{a.workload}-seed{a.seed}.tsv")
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", out,
            "--t0-ms", str(int(time.time() * 1000))]
    if a.trace:
        args += ["--spans", spans]
    try:
        status, rss_mb, cache_samples = run_jvm(classpath, args, work,
                                                start + build_s + RUN_LIMIT_S)
        if status is None:
            fail(f"run exceeded {RUN_LIMIT_S} s; log tail:\n" + tail(work))
        if not os.path.exists(out):
            fail(f"no result (exit status {status}); log tail:\n" + tail(work))
        with open(out) as fh:
            r = json.load(fh)
        if "fatal" in r:
            fail(f"run failed: {r['fatal']}; log tail:\n" + tail(work))
        cache_disk = disk_bytes(r["cache_dir"])
    finally:
        logs = os.path.join(STATE, "logs")
        os.makedirs(logs, exist_ok=True)
        if os.path.exists(os.path.join(work, "jvm.log")):
            shutil.copy(os.path.join(work, "jvm.log"), os.path.join(
                logs, f"{a.workload}-seed{a.seed}-trace{a.trace}.log"))
        shutil.rmtree(work, ignore_errors=True)

    mb = 1024.0 * 1024.0
    e2e = r["end_to_end"]
    e2e["peak_rss_mb"] = rss_mb
    distinct = r["store_distinct_mb_read"] * mb
    # median over the timed loop: the end state alone swings with eviction
    cache_used = statistics.median(cache_samples) if cache_samples else cache_disk
    e2e["cache_space_amp"] = cache_used / distinct if distinct else 0.0
    layers = r["layers"]
    layers["cache.disk_mb"] = cache_disk / mb
    r["claims"] = claims(a.workload, layers)

    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    with open(os.path.join(STATE, "results",
                           f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as fh:
        json.dump(r, fh, indent=1)

    wanted = bench["per_layer"] if a.trace else bench["end_to_end"]
    pool = dict(e2e, **layers)
    missing = [m["name"] for m in wanted if m["name"] not in pool]
    if missing:
        fail(f"metrics not produced: {missing}")
    metrics = {m["name"]: {"value": pool[m["name"]], "unit": m["unit"]} for m in wanted}

    env = r["env"]
    print(f"# {a.workload} seed={a.seed} trace={a.trace} nproc={env['nproc']} "
          f"heap_mb={env['heap_mb']} jvm={env['jvm']} spark={env['spark']} "
          f"clients={env['clients']} store={env['store_model']}")
    for name, m in metrics.items():
        print(f"{name:32s} {m['value']:.6g} {m['unit']}")
    print(f"# ops={r['attempted']} failed={r['failed']} samples={r['op_samples']}"
          + (f" p{r['op_ms_tail']['percentile']:g}={r['op_ms_tail']['ms']:.1f} ms"
             if "op_ms_tail" in r else ""))
    if a.trace:
        base = os.path.join(STATE, "results", f"{a.workload}-seed{a.seed}-trace0.json")
        if os.path.exists(base):
            with open(base) as fh:
                untraced = json.load(fh)["end_to_end"]["op_ms_p50"]
            print(f"# tracing overhead: {e2e['op_ms_p50'] - untraced:.1f} ms on op_ms_p50 "
                  f"(traced {e2e['op_ms_p50']:.1f}, untraced {untraced:.1f})")
    unmet = [name for name, ok in r["claims"].items() if not ok]
    for name in unmet:
        print(f"# error: workload claim not met: {name}", file=sys.stderr)
    for e in r["errors"]:
        print(f"# error: {e}", file=sys.stderr)

    # a run that does not do the work its workload claims measures some
    # other workload, so it counts as wrong like a wrong result
    correct = r["failed"] == 0 and not unmet
    print(json.dumps({"correct": correct, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


def tail(work):
    try:
        with open(os.path.join(work, "jvm.log")) as fh:
            return "".join(fh.readlines()[-40:])
    except OSError:
        return "(no log)"


if __name__ == "__main__":
    main()
