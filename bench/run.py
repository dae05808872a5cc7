#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

    python3 bench/run.py --workload ingest --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the engine with the
repository's own sbt build (the classes its tests use) and the harness under
bench/harness with the Scala compiler that ships in the Spark distribution,
then launches the harness with `java` in a fresh process. The last line of
standard output is one JSON object: {"correct", "attempted", "failed",
"metrics"}; the line before it carries the figures behind those metrics.

Workloads: crawl_cycle, ingest (batch, one client, fresh process) and
serve_read (HTTP query server, closed-loop clients). See bench/NOTES.md for
what each measures and why.
"""
import argparse
import glob
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
CORES = len(os.sched_getaffinity(0))  # what `nproc` reports
HEAP = "4g"  # the maximum heap (-Xmx) only: see launch()
RUN_LIMIT_S = 175  # a whole invocation, build check included
FIRST_RUN_LIMIT_S = 890  # an invocation that had to compile
BATCH = ("crawl_cycle", "ingest")
# serve_read runs with the C1 compiler only: the C2 steady state of its
# page path differed by up to 25% from one JVM to the next (see NOTES.md)
JIT = {"serve_read": ["-XX:TieredStopAtLevel=1"]}
SERVE = ("serve_read",)

# Spark 4 on JDK 17 needs these outside spark-submit; same list as build.sbt.
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
]


def spark_jars():
    """The Spark jars the root build compiles against (its unmanagedBase)."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    return m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


def tables_dir():
    """The sf0.1 tables: $SPARK_GRAFT_SF_DIR as graft.Bench reads it, else
    the sf0.1 directory TESTDATA.md lists."""
    if os.environ.get("SPARK_GRAFT_SF_DIR"):
        return os.environ["SPARK_GRAFT_SF_DIR"]
    with open(os.path.join(ROOT, "TESTDATA.md")) as f:
        m = re.search(r"\|\s*0\.1\s*\|\s*`([^`]+)`", f.read())
    if not m:
        sys.exit("bench: TESTDATA.md lists no sf0.1 directory")
    return m.group(1).rstrip("/")


def log(msg):
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


def newest_mtime(paths):
    newest = 0.0
    for p in paths:
        if os.path.isfile(p):
            newest = max(newest, os.path.getmtime(p))
        for d, _, files in os.walk(p):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def stale(stamp, sources):
    return not os.path.exists(stamp) or os.path.getmtime(stamp) < newest_mtime(sources)


CHILDREN = []


def stop_children():
    """Kill every child process group this launcher started, and wait for it."""
    for p in CHILDREN:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def on_signal(signum, _frame):
    stop_children()
    sys.exit(f"bench: stopped by signal {signum}")


def run_logged(cmd, logfile, timeout, env=None, cwd=None):
    """Run `cmd` in its own process group; None when it hit `timeout`."""
    with open(logfile, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=cwd,
                             env=env, start_new_session=True)
        CHILDREN.append(p)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            stop_children()
            return None


def build(deadline):
    """Compile the engine (root sbt build) and the harness, when stale.
    Returns the run's classpath and whether anything was compiled."""
    jar_dir = spark_jars()
    if not os.path.isdir(jar_dir):
        sys.exit(f"bench: no Spark jars at {jar_dir}")
    os.makedirs(BUILD, exist_ok=True)
    engine = os.path.join(ROOT, "target", "scala-2.13", "classes")
    stamp = os.path.join(BUILD, "engine.stamp")
    build_files = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt")] + \
        glob.glob(os.path.join(ROOT, "project", "*.*"))
    compiled = False
    if stale(stamp, build_files) or not os.path.isdir(engine):
        compiled = True
        log("compiling the engine with sbt")
        env = dict(os.environ, COURSIER_MODE="offline")
        code = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                           "Compile/copyResources"],
                          os.path.join(BUILD, "sbt.log"), deadline - time.time(),
                          env=env, cwd=ROOT)
        if code != 0:
            sys.exit(f"bench: engine build failed ({code}); see {BUILD}/sbt.log")
        open(stamp, "w").close()
    jars = sorted(os.path.join(jar_dir, j) for j in os.listdir(jar_dir) if j.endswith(".jar"))
    classes = os.path.join(BUILD, "classes")
    hstamp = os.path.join(BUILD, "harness.stamp")
    hsrc = os.path.join(HERE, "harness")
    if stale(hstamp, [hsrc, stamp]):
        compiled = True
        log("compiling the harness")
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        srcs = [os.path.join(d, f) for d, _, fs in os.walk(hsrc) for f in fs
                if f.endswith(".scala")]
        compiler = [j for j in jars if os.path.basename(j).startswith(
            ("scala-compiler", "scala-library", "scala-reflect"))]
        code = run_logged(
            ["java", "-Xmx1g", "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
             "-deprecation", "-d", classes, "-classpath", os.pathsep.join([engine] + jars)]
            + srcs, os.path.join(BUILD, "scalac.log"), deadline - time.time())
        if code != 0:
            sys.exit(f"bench: harness build failed ({code}); see {BUILD}/scalac.log")
        open(hstamp, "w").close()
    return [classes, engine, os.path.join(jar_dir, "*")], compiled


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                              cwd=ROOT, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def launch(cp, args, work, tables, deadline):
    """One fresh JVM for the run; killed with its whole process group on timeout."""
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    launched_ms = int(time.time() * 1000)
    # only the maximum heap is set: the collector sizes the heap to what
    # the program needs, as in a default deployment
    cmd = (["java", f"-Xmx{HEAP}", *JIT.get(args.workload, []), *ADD_OPENS,
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join(cp), "benchharness.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--sf", tables, "--work", work, "--cores", str(CORES),
            "--launched-ms", str(launched_ms), "--out", out])
    code = run_logged(cmd, os.path.join(work, "jvm.log"), deadline - time.time(), cwd=work)
    if code is None:
        sys.exit("bench: the run hit its time limit and was killed")
    if code != 0 or not os.path.exists(out):
        tail = open(os.path.join(work, "jvm.log"), errors="replace").read()[-3000:]
        sys.exit(f"bench: harness exited with {code}\n{tail}")
    with open(out) as f:
        return json.load(f)


def quantile(xs, q):
    """Nearest-rank quantile."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


def check_pins(workload, ops):
    """Mark a stage or index build failed when its row count or digest
    differs from the pin."""
    with open(os.path.join(HERE, "expected.json")) as f:
        pinned = json.load(f)[workload]
    for op in ops:
        if op["kind"] not in ("stage", "index_build"):
            continue
        want = pinned[op["name"]]
        if op["ok"] and (op["rows"], op["hash"]) != (want["rows"], want["hash"]):
            op["ok"] = False
            op["wrong"] = True
            op["error"] = (f"output differs from pin: rows {op['rows']} hash {op['hash']}, "
                           f"pinned rows {want['rows']} hash {want['hash']}")


def summarise(args, raw):
    """Reduce the harness's raw record to the benchmark's metrics."""
    ops = raw["ops"]
    check_pins(args.workload, ops)
    if args.workload in BATCH:
        timed = [o for o in ops if o["kind"] == "stage"]
        work_s = sum(o["ms"] for o in timed) / 1e3
        # a batch user waits for the whole pass; a median over its unlike
        # stages would jump from one stage to another between runs
        lat = [work_s * 1e3]
        per_s = sum(o["ok"] for o in timed) / work_s
    else:
        # the index builds are checked operations too, though untimed
        timed = [o for o in ops if o["kind"] in ("page", "index_build")]
        pages = [o for o in ops if o["kind"] == "page"]
        # a failed page enters the percentiles at the time its error took
        # to arrive, and counts in `failed`; ops_per_s counts correct pages
        lat = [o["ms"] for o in pages]
        work_s = raw["window_s"]
        per_s = sum(o["ok"] for o in pages) / work_s
    attempted = len(timed)
    if attempted == 0 or not lat:
        sys.exit("bench: the window ended before any operation completed")
    failed = sum(not o["ok"] for o in timed)
    e2e = {
        "setup_s": (raw["setup_s"], "s"),
        "op_p50_ms": (quantile(lat, 0.5), "ms"),
        "op_p90_ms": (quantile(lat, 0.9), "ms"),
        "ops_per_s": (per_s, "1/s"),
        "retained_heap_mb": (raw["retained_heap_mb"], "MB"),
    }
    named = {  # the same figures under their per-workload names
        "error_rate": failed / attempted,
        "samples": len(lat),
        "setup_s": raw["setup_s"],
        "peak_rss_mb": raw["peak_rss_mb"],
        "retained_heap_mb": raw["retained_heap_mb"],
    }
    if args.workload == "crawl_cycle":
        named["cycle_s"] = work_s
    elif args.workload == "ingest":
        named["ingest_s"] = work_s
    else:
        named.update(page_p50_ms=e2e["op_p50_ms"][0], page_p90_ms=e2e["op_p90_ms"][0],
                     pages_per_s=per_s, window_s=work_s)
    return attempted, failed, e2e, named, work_s


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=BATCH + SERVE)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    for need in ("build.sbt", "TESTDATA.md", os.path.join("src", "main")):
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.exit(f"bench: no {need} here; run from the repository root")
    tables = tables_dir()
    if not os.path.isdir(tables):
        sys.exit(f"bench: no input tables at {tables}")
    started = time.time()
    cp, compiled = build(started + FIRST_RUN_LIMIT_S - RUN_LIMIT_S)
    deadline = (started + FIRST_RUN_LIMIT_S) if compiled else (started + RUN_LIMIT_S)
    os.makedirs(WORK, exist_ok=True)
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        raw = launch(cp, args, work, tables, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    attempted, failed, e2e, named, work_s = summarise(args, raw)
    last = os.path.join(WORK, f"untraced-{args.workload}.json")
    if args.trace:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            per_layer = json.load(f)["per_layer"]
        metrics = {m["name"]: {"value": float(raw["layers"].get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in per_layer}
        per_s = e2e["ops_per_s"][0]
        metrics["trace_callback_ms"]["value"] = raw["meta"]["trace_callback_ms"]
        metrics["error_rate"]["value"] = named["error_rate"]
        metrics["peak_rss_mb"]["value"] = raw["peak_rss_mb"]
        metrics["traced_ops_per_s"]["value"] = per_s
        # tracing overhead: throughput lost against the last untraced run
        # of this workload in this checkout (0 when there was none)
        base = 0.0
        if os.path.exists(last):
            with open(last) as f:
                base = json.load(f)["ops_per_s"]
        if base > 0 and per_s > 0:
            metrics["trace_overhead_pct"]["value"] = 100.0 * (base / per_s - 1)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        with open(last, "w") as f:
            json.dump({"ops_per_s": e2e["ops_per_s"][0]}, f)
    failures = {}
    for o in raw["ops"]:
        if not o["ok"]:
            key = f"{o['name']}: {o['error'][:120]}"
            failures[key] = failures.get(key, 0) + 1
    print(json.dumps({"detail": dict(
        named, workload=args.workload, seed=args.seed, trace=args.trace,
        commit=git_commit(), nproc=CORES, heap=HEAP, heap_mb=raw["meta"]["heap_mb"],
        spark_version=raw["meta"]["spark_version"], session_s=raw["meta"]["session_s"],
        failures=failures,
        stages={o["name"]: {"ms": round(o["ms"], 1), "rows": o["rows"], "hash": o["hash"]}
                for o in raw["ops"] if o["kind"] in ("stage", "index_build")},
        extra=raw["detail"])}))
    print(json.dumps({
        "correct": not any(o["wrong"] for o in raw["ops"]),
        "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
