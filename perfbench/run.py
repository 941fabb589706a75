#!/usr/bin/env python3
"""waterbear_spark benchmark: one workload per run, one JSON line out.

Usage (from the repository root)::

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 12 --trace 0

``--trace 0`` measures the end-to-end metrics with tracing off.
``--trace 1`` alternates untraced and traced passes and prints the
per-layer metrics; spans, per-pass layer tables and Spark's event log are
left in ``perfbench/_out/<workload>/``. The last line of standard output
is ``{"correct", "attempted", "failed", "metrics"}``; progress goes to
standard error. Metric names and units come from ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("catalog", "medallion")
CORES = min(4, len(os.sched_getaffinity(0)))
HEAP = "3g"
SETUPS = 3  # set-ups per run; setup_s is their median
MIN_PASSES = 3  # timed passes per run, at least
TICK = os.sysconf("SC_CLK_TCK")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def confine(workdir: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``workdir``,
    and let Python workers import the package from the checkout."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


def session_conf(workdir: str, event_log: str | None) -> dict[str, str]:
    conf = {
        "spark.sql.shuffle.partitions": str(max(CORES, 8)),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # a fixed heap: a growing one made warm passes speed up for ten
        # passes, so a median of passes measured warmth, not code
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions": (
            f"-Xms{HEAP} -XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
        ),
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.eventLog.enabled": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": "file://" + event_log,
            }
        )
    return conf


def start_session(conf: dict[str, str]):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.master(f"local[{CORES}]").appName("perfbench")
    for key, value in conf.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the JVM the session launched and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the gateway server exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root`` and its live descendants, including children
    they have reaped: the JVM plus its Python workers."""
    children, ticks = defaultdict(list), {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        fields = raw[raw.rindex(")") + 2 :].split()
        children[int(fields[1])].append(int(pid))
        ticks[int(pid)] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children[pid])
    return total / TICK


def self_check(spec: dict) -> None:
    """Every listed query exists, and the workloads match the spec."""
    from waterbear_spark.queries.catalog import QUERIES
    from workloads import BUILD_QUERIES, LEAN_QUERIES

    missing = [q for q in BUILD_QUERIES + LEAN_QUERIES if q not in QUERIES]
    if missing:
        raise SystemExit(f"queries not in the catalog: {missing}")
    if [w["name"] for w in spec["workloads"]] != list(WORKLOADS):
        raise SystemExit("BENCHMARK.json workloads differ from run.py")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workdir = os.path.join(HERE, "_out", args.workload)
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    confine(workdir)
    self_check(spec)

    from layers import Tracer, median_layers, pass_layers, read_event_log
    from workloads import Catalog, Medallion

    wl = (Medallion if args.workload == "medallion" else Catalog)(workdir, args.seed)
    twins = wl.prepare()
    event_log = os.path.join(workdir, "eventlog") if args.trace else None

    # set-up: session start, warm-up, table listing / raw-record generation
    setup_s, steps, spark = [], [], None
    for k in range(SETUPS):
        if spark is not None:
            spark.stop()
        last = k == SETUPS - 1
        t0 = time.perf_counter()
        spark = start_session(session_conf(workdir, event_log if last else None))
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        steps.append(wl.setup(spark))
        setup_s.append(time.perf_counter() - t0)
        if twins is not None:
            # reference results are computed while the first set-up launches
            # the JVM; that set-up is never the median, later ones run alone
            twins.result()
            twins = None
    log(f"setup_s {[round(s, 3) for s in setup_s]} steps {steps}")
    jvm = spark._jvm.ProcessHandle.current().pid()

    # correctness, outside the timed region; it doubles as the discarded
    # first pass, which runs 1.3-1.9x slower (JIT, Python workers)
    tracer = Tracer(spark, on=False)
    t0 = time.perf_counter()
    attempted, failed = wl.verify(spark, tracer, log)
    log(f"verified in {time.perf_counter() - t0:.1f}s: {failed} of {attempted} failed")

    passes = []  # (traced, seconds, cpu seconds, op latencies, span index)
    measured = 0.0
    while True:
        # untraced, traced, traced, untraced: both halves sit at the same
        # mean position on the warm-up curve
        traced = bool(args.trace) and len(passes) % 4 in (1, 2)
        spark.catalog.clearCache()
        wl.reset()
        log(f"pass {len(passes)} traced={int(traced)} load {os.getloadavg()[0]:.2f}")
        tracer.on = traced
        span = len(tracer.spans)
        cpu0, t0 = tree_cpu_s(jvm), time.perf_counter()
        lat, bad = wl.run_pass(spark, tracer, f"p{len(passes)}")
        dt, cpu = time.perf_counter() - t0, tree_cpu_s(jvm) - cpu0
        tracer.on = False
        bad += wl.check_pass(log)
        attempted += len(lat)
        failed += bad
        passes.append((traced, dt, cpu, lat, span))
        measured += dt
        log(f"  {dt:.3f}s cpu {cpu:.2f}s failed {bad} ops {[round(x, 2) for x in lat]}")
        # a traced run takes two whole groups of four, so the medians of
        # both halves sit at the same point of a convex warm-up curve
        if args.trace:
            enough = len(passes) >= 8 and len(passes) % 4 == 0
        else:
            enough = len(passes) >= MIN_PASSES
        if measured >= args.seconds and enough:
            break

    spark.stop()
    stop_jvm()

    plain = [p for p in passes if not p[0]]
    pass_s = statistics.median(p[1] for p in plain)
    if args.trace:
        groups = read_event_log(event_log)
        traced = [p for p in passes if p[0]]
        per_pass = [pass_layers(tracer, groups, p[4], CORES) for p in traced]
        values = median_layers(per_pass)
        values["generator.frame_s"] = statistics.median(s.get("frame", 0.0) for s in steps)
        values["trace.overhead_s"] = statistics.median(p[1] for p in traced) - pass_s
        tracer.dump(os.path.join(workdir, "spans.json"))
        with open(os.path.join(workdir, "layers.json"), "w") as fh:
            json.dump({"per_pass": per_pass, "median": values}, fh, indent=1)
        jobs = [p["queries.build_jobs"] for p in per_pass]
        if len(set(jobs)) > 1:
            log(f"build jobs differ between traced passes: {jobs}")
        chosen = spec["per_layer"]
    else:
        lat = [x for p in plain for x in p[3]]
        values = {
            "setup_s": statistics.median(setup_s),
            "pass_s": pass_s,
            "query_p50_s": statistics.median(lat),
            "query_p90_s": statistics.quantiles(lat, n=10)[-1],
            "cpu_s": statistics.median(p[2] for p in plain),
        }
        chosen = spec["end_to_end"]

    for sub in ("tmp", "local", "warehouse", "sf0.01", "raw", "bronze", "silver", "quarantine"):
        shutil.rmtree(os.path.join(workdir, sub), ignore_errors=True)
    if set(values) != {m["name"] for m in chosen}:
        raise SystemExit(f"metrics {sorted(values)} differ from BENCHMARK.json")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in chosen}
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
