#!/usr/bin/env python3
"""veloci_spark benchmark: one command, seeded inputs, checked outputs.

    python3 perfbench/run.py --workload code_lookup --seed 7 --seconds 20 --trace 0

Run it from the root of a checkout. It generates the inputs from
``--seed``, starts a pinned local Spark session, builds a fresh index
(the set-up), warms up, drives ``--seconds`` of closed-loop requests
through ``VelociApp.handle``, checks the answers against the DuckDB
oracles and prints one JSON object as the last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json, ``--trace
1`` the per-layer ones (a separate run: an untraced phase, the same ops
again traced, isolated layer probes, and one curate pass). The line
before the result is a JSON detail record (host steal, sample counts,
check outcomes).
Everything is written under ``.bench_work/`` in the checkout and removed
at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: name -> (query log of gen.Inputs, warm-up log, the two op types sent)
WORKLOADS = {
    "code_lookup": ("lookup", "warm_lookup", ("veloci", "bm25")),
    "code_results": ("results", "warm_results", ("snippet", "phrase")),
}
DRIVER_MEM = "2g"
#: Spark task slots: fewer than the machine's cores, so the task threads,
#: their Python workers, the JVM's compiler and GC threads and this
#: driver do not queue for the same cores (see README.md)
TASK_SLOTS = 2


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _make_spark(work: str, cpus: int):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("veloci_spark-perfbench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", DRIVER_MEM)
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions", " ".join([
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dderby.system.home={work}",
            "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
            # C1 only, unlike the program's default tiered JIT: with C2
            # a run took ~6 s longer, past the time the benchmark has
            # per run (see README.md). Without tiering
            # the code cache defaults to 48 MiB, which fills and stops
            # the compiler, so give it the tiered default.
            "-XX:TieredStopAtLevel=1",
            "-XX:ReservedCodeCacheSize=240m",
        ]))
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait until
    every process this run started has ended."""
    from probes import tree_pids

    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = [p for p in tree_pids() if p != os.getpid()]
    spark.stop()
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 20
    while kids and time.monotonic() < deadline:
        kids = [p for p in kids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in kids:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    for p in kids:
        try:
            os.waitpid(p, 0)
        except ChildProcessError:
            pass


def main(argv=None) -> int:
    args = _parse(argv)
    if not (os.path.isfile(os.path.join(ROOT, "veloci_spark", "server.py"))
            and os.path.isfile(os.path.join(ROOT, "jobs", "pipeline_job.py"))):
        print(f"perfbench: {ROOT} holds no veloci_spark checkout "
              "(veloci_spark/ and jobs/ are needed)", file=sys.stderr)
        return 2
    # the engine and the Spark Python workers import from the checkout
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # spark-submit's launcher JVM: no hsperfdata file under /tmp either
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    cpus = min(TASK_SLOTS, len(os.sched_getaffinity(0)))

    import gen

    spark = None
    try:
        # the inputs are generated while the JVM starts
        with ThreadPoolExecutor(1) as pool:
            made = pool.submit(gen.make_inputs, args.seed, os.path.join(work, "in"))
            spark = _make_spark(work, cpus)
            inputs = made.result()
        from measure import run_workload

        result, details = run_workload(
            spark, args, work, WORKLOADS[args.workload], inputs, T_START)
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(details, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
