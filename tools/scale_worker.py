"""Pinned Spark worker for the interleaved scaling bench.

One worker process = one parallelism level (launched under `taskset -c <mask>`
so the whole tree — driver python, JVM, pyspark daemon + workers — inherits the
CPU mask). The orchestrator (bench.py `_scaling_bench`) keeps one worker per
level alive simultaneously (local[N], local[4N] and the full width) and
alternates timed runs between them, so each scaling pass compares throughput
measured seconds apart under the SAME external host load — the round-2 block
structure (all low runs, then all high runs, minutes apart) let a co-tenant
burst during one block corrupt the ratio.

Protocol (line-oriented, stdin → stdout):
    parent → worker:  "run\n"   one timed e2e run        "quit\n"  shutdown
    worker → parent:  "READY\n" after session-up + the untimed warm runs, then
                      one JSON line per run:
        {"wall": s, "cpu": s}
    `cpu` = this worker tree's CPU-seconds over the run, read by an in-process
            perfbench.proctree.TreeSampler (it keeps the CPU of pyspark
            workers the SIGCHLD-ignoring daemon never reaps into a cutime).
The parent reads host busy/steal around each run for the external-load
evidence.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.proctree import TreeSampler  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--cache", required=True)
    ap.add_argument("--conf", default="{}", help="extra spark conf as JSON")
    args = ap.parse_args()

    from loongcollector_spark import flagship
    from loongcollector_spark.session import get_spark

    spark = get_spark(
        f"scale-worker-{args.cpus}",
        master=f"local[{args.cpus}]",
        shuffle_partitions=args.cpus,
        extra_conf=json.loads(args.conf),
    )
    spark.sparkContext.setLogLevel("ERROR")
    # warm TWICE with a full-heap drain in between, untimed. One warm run is
    # not enough: the first timed run otherwise pays (a) the warm run's
    # full-heap collection inside its window (measured: 373 vs 130
    # CPU-seconds for the identical 4-core run) and (b) re-faulting the
    # post-GC heap pages (measured: 305 vs 141 CPU-seconds on the first
    # 16-core run even after a single warm+gc). warm → gc → warm re-faults
    # the steady-state working set so the first timed run starts hot — the
    # same effect the post-run System.gc() below maintains between runs.
    # wider levels stabilize slower (GC ergonomics + JIT re-profiling across
    # more threads: measured 368 → 215 → 185 CPU-seconds over the first
    # three 16-core executions, and at 32-wide the first TIMED run after a
    # triple warm still burned 345-610 CPU-s vs the ~180-205 steady state,
    # improving monotonically run over run) — give wider levels more untimed
    # executions; each costs only ~10-20 s at those widths.
    for _ in range(5 if args.cpus >= 32 else 3 if args.cpus >= 16 else 2):
        flagship.pipeline_aggregates_from(spark, spark.read.parquet(args.cache)).collect()
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass
    print("READY", flush=True)

    with TreeSampler(os.getpid()) as tree:
        for line in sys.stdin:
            cmd = line.strip()
            if cmd == "quit":
                break
            if cmd != "run":
                continue
            # rebuild the DataFrame each run: AQE reuses materialized stages
            # when re-collecting the same DataFrame object
            df = spark.read.parquet(args.cache)
            c0 = tree.cpu_s()
            t0 = time.perf_counter()
            flagship.pipeline_aggregates_from(spark, df).collect()
            wall = time.perf_counter() - t0
            cpu = tree.cpu_s() - c0
            # Untimed major GC between runs: heap garbage accumulated by run N
            # otherwise forces a concurrent GC INSIDE run N+1's timed window
            # (observed: one low run at 2.6x the CPU-seconds of its siblings
            # with zero external load) — drain it outside the measurement.
            try:
                spark.sparkContext._jvm.System.gc()
            except Exception:
                pass
            print(json.dumps({"wall": round(wall, 3), "cpu": round(cpu, 2)}), flush=True)

    spark.stop()


if __name__ == "__main__":
    main()
