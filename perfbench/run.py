#!/usr/bin/env python3
"""Closed-loop benchmark of the graft engine.

    python3 perfbench/run.py --workload etl_queries --seed 1 --seconds 5 --trace 0

Builds the engine from `src/main/scala` into `.bench_build/` (once per
source state), generates the input tables, runs one workload in one JVM
and prints one JSON line: `correct`, `attempted`, `failed` and the
end-to-end metrics (`--trace 0`) or the per-layer metrics (`--trace 1`).
Everything a run writes lives under `.bench_build/` in the checkout; the
per-run directory is deleted on exit.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import datagen  # noqa: E402
import metrics  # noqa: E402
import plan  # noqa: E402

SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
SCALA = "2.13.17"
JVM_TIMEOUT_S = 170
# Input scale and loop shape of each workload. The lake workloads slice
# `orders` into rounds of `slice_rows` keys.
SCALE = 0.01
SHAPES = {
    "etl_queries": {"passes": 200},
    "lake": {"slice_rows": 100, "rounds": 140, "warm_rounds": 2,
             "rounds_per_block": 1, "blocks": 200},
}
# Ten of the 42 read-only queries of Relational, Etl, AsOf, RangeJoin and
# Funnel, chosen to keep every module and the main plan shapes (scan and
# aggregate, broadcast and shuffle joins, an anti join, grouping sets, a
# window, JSON parsing, a join with a UDF, as-of and range joins, a
# funnel). On a shared 4-core host one query costs 0.3-0.6 s, mostly
# fixed per-query overhead, and each run pays one untimed and two timed
# passes: the full set took 45-75 s per run, and 48 runs of the two
# workloads must fit in under an hour.
ETL_QUERIES = [
    "q1_agg", "q_join_snowflake", "q_join_anti", "q_window_running", "q_cube",
    "q_json_parse", "q_workdays", "q_asof_join", "q_range_attrib",
    "q_funnel_windowed"]
SETUPS = 5
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
         "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs",
         "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def scalac(classpath, out, files):
    os.makedirs(out, exist_ok=True)
    compiler = ":".join(os.path.join(SPARK_JARS, f"scala-{m}-{SCALA}.jar")
                        for m in ("compiler", "library", "reflect"))
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", compiler,
                        "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath,
                        "-d", out] + files, capture_output=True, text=True)
    if r.returncode != 0:
        fail(f"compile failed:\n{r.stdout[-4000:]}{r.stderr[-4000:]}")


def build():
    """Compile the engine and the benchmark unless the sources are unchanged."""
    main = sources(os.path.join(ROOT, "src", "main", "scala"))
    bench = sources(os.path.join(HERE, "scala"))
    if not main or not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("no engine sources next to perfbench/ (expected build.sbt and src/main/scala)")
    if not os.path.isdir(SPARK_JARS):
        fail(f"Spark jars not found at {SPARK_JARS}")
    h = hashlib.sha256()
    for f in main + bench:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, "stamp")
    classes = os.path.join(BUILD, "classes")
    bench_classes = os.path.join(BUILD, "bench")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes, bench_classes
    for d in (classes, bench_classes):
        shutil.rmtree(d, ignore_errors=True)
    jars = os.path.join(SPARK_JARS, "*")
    scalac(jars, classes, main)
    scalac(f"{classes}:{jars}", bench_classes, bench)
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return classes, bench_classes


def nproc():
    return len(os.sched_getaffinity(0))


def run_jvm(cp, run_dir, kv, timeout):
    flags = [f for p in OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = ["java", *flags, "-Xmx2g", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={os.path.join(run_dir, 'local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "graftbench.PerfBench"] + [f"{k}={v}" for k, v in kv.items()]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc()), SPARK_LOCAL_DIRS=tmp)
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0:
        with open(log_path) as fh:
            tail = fh.read()[-6000:]
        fail(f"JVM exited with {rc}:\n{tail}")


def inputs(scale):
    """The generated tables for `scale`, made once per checkout: they
    depend on the scale only, and runs read them without writing."""
    data = os.path.join(BUILD, f"data-sf{scale:g}")
    if not os.path.isdir(data):
        os.makedirs(BUILD, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix="data-", dir=BUILD)
        datagen.write(tmp, scale)
        os.rename(tmp, data)
    return data


def main(argv=None):
    t0_ms = time.time() * 1000
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SHAPES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=SCALE,
                    help="input scale factor (the self-tests use 0.001)")
    ap.add_argument("--inject", default="",
                    help="operation kind whose first timed result is replaced "
                         "by a wrong value (self-tests only)")
    a = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    classes, bench_classes = build()
    expect = os.path.join(HERE, "expected", f"etl_sf{a.scale:g}.json")
    if a.workload == "etl_queries" and not os.path.isfile(expect):
        fail(f"no pinned digests for scale {a.scale:g} ({expect}); run pin_digests.py")
    data = inputs(a.scale)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=BUILD)
    try:
        plan_path = os.path.join(run_dir, "plan.txt")
        shape = dict(SHAPES[a.workload])
        if "rounds" in shape:
            shape["rounds"] = min(shape["rounds"],
                                  datagen.orders_rows(a.scale) // shape["slice_rows"])
        digests = None
        if a.workload == "etl_queries":
            with open(expect) as fh:
                pinned = json.load(fh)
            digests = {q: pinned[q] for q in ETL_QUERIES}
        with open(plan_path, "w") as fh:
            fh.write("\n".join(plan.lines(a.workload, a.seed, shape, digests)) + "\n")
        out = os.path.join(run_dir, "result.json")
        work = os.path.join(run_dir, "work")
        os.makedirs(work)
        run_jvm(f"{bench_classes}:{classes}:{os.path.join(SPARK_JARS, '*')}", run_dir, {
            "workload": a.workload, "data": data, "work": work, "out": out,
            "plan": plan_path, "seconds": a.seconds, "trace": a.trace,
            "setups": SETUPS, "t0": t0_ms, "inject": a.inject},
            JVM_TIMEOUT_S - (time.time() * 1000 - t0_ms) / 1000)
        with open(out) as fh:
            doc = json.load(fh)
        # etl_queries writes no sinks: its footprint is the input tables
        space = float(doc["results"].get("space_amp", 1.0))
        values = (metrics.per_layer(doc) if a.trace else
                  metrics.end_to_end(doc, space))
        units = metrics.PER_LAYER if a.trace else metrics.END_TO_END
        for p in doc["problems"][:20]:
            print(f"perfbench: check failed: {p}", file=sys.stderr)
        attempted = len(doc["ops"])
        failed = sum(1 for o in doc["ops"] if not o[6])
        print(f"perfbench: workload={a.workload} seed={a.seed} scale={a.scale:g} "
              f"cores={nproc()} ops={attempted} blocks={len({o[2] for o in doc['ops']})}",
              file=sys.stderr)
        print(json.dumps({
            "correct": not doc["problems"] and failed == 0,
            "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
