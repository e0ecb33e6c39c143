"""Benchmark harness: runs the headline pipeline + dataops queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
(default 32) and prints the full record, then ONE ≤2 KB JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Extra keys (north rule): sequences/sec + tokens/sec throughput, and a
scaling section: the flagship over a x64-replicated input on pinned workers at
cpus/8, cpus/2 and cpus, in SCALE_PASSES alternating passes — the in-sandbox
evidence for the N→4N executor scaling criterion (see BASELINE.md). Every
scaling headline is the median over passes, the scaling evidence is CPU-ms per
row at each level, and the noise evidence is the external-busy/steal ledger.
Execution is forced with a noop write / collect (no driver-side result
shipping beyond the tiny aggregates).

Env knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (scaling needs ≥8).
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench import proctree  # noqa: E402

CACHE_ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench_cache")

# Wall-clock budget guard: under heavy co-tenant load every section runs
# 2-3x slower, and an external timeout (driver-side) killing the process
# records NOTHING. Degrading gracefully — fewer scaling passes — always beats
# a truncated run with no JSON line.
_BENCH_T0 = time.monotonic()
_BENCH_BUDGET_S = 500.0

SCALE_FACTOR = 64
SCALE_PASSES = 3  # odd: the median is one real pass
# scaling runs FIRST: wall-clock kept for the query suite + parse bench after it
SCALE_RESERVE_S = 200.0
PARSE_FACTOR = 100


def _budget_left() -> float:
    return _BENCH_BUDGET_S - (time.monotonic() - _BENCH_T0)


def _host_cpu_s() -> tuple[float, float]:
    """(busy, steal) host-wide CPU-seconds since boot. `busy` = all non-idle
    jiffies (user+nice+sys+irq+softirq+steal); `steal` = hypervisor steal —
    cycles the physical host's co-tenants took from this guest, the
    otherwise-invisible external load on this sandbox (measured: ~2.3 cores
    stolen at 32-wide load even with zero guest-visible co-tenant activity)."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    clk = os.sysconf("SC_CLK_TCK")
    idle = v[3] + v[4]
    steal = v[7] if len(v) > 7 else 0
    return (sum(v) - idle) / clk, steal / clk


def ensure_sequences_cache(spark, sf_dir: str, factor: int = 1) -> str:
    """Materialize the pre-tokenized sequences table (the north-rule input
    shape) as SOURCE-PARTITIONED multi-file parquet, once per (sf, factor).

    The driver testdata carries `events`; the sequences fixture is derived
    from it — but synthesis+encode is fixture cost, not pipeline cost, so the
    benchmark reads the materialized table exactly as production would read
    the Iceberg table: partitioned by source (per-branch partition pruning),
    many files (scan parallelism)."""
    from loongcollector_spark import flagship

    name = sf_dir.rstrip("/").split("/")[-1] + (f"_x{factor}" if factor > 1 else "")
    path = os.path.join(CACHE_ROOT, name, "sequences")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        seq = flagship.replicated_sequences(spark, sf_dir, factor)
        seq.repartition(64).write.partitionBy("source").mode("overwrite").parquet(path)
    return path


_QUERY_NOISE: dict[str, dict[str, float]] = {}


def _timeit(key: str, fn, warm: int = 0, runs: int = 1) -> float:
    """Best-of-`runs` wall time after `warm` untimed runs. Also records into
    _QUERY_NOISE[key] the co-tenant busy cores and hypervisor steal cores over
    the TIMED window (host busy minus this tree's CPU, per wall-second) — the
    per-query noise evidence that lets a window-wide walltime inflation be
    adjudicated from BENCH_r{N}.json alone."""
    for _ in range(warm):
        fn()
    with proctree.TreeSampler(os.getpid()) as tree:
        h0, st0 = _host_cpu_s()
        c0 = tree.cpu_s()
        w0 = time.perf_counter()
        best = float("inf")
        for _ in range(runs):
            t0 = time.perf_counter()
            fn()
            best = min(best, time.perf_counter() - t0)
        window = max(time.perf_counter() - w0, 1e-9)
        cpu = tree.cpu_s() - c0
        h1, st1 = _host_cpu_s()
    _QUERY_NOISE[key] = {
        "ext_cores": round(max(0.0, h1 - h0 - cpu) / window, 1),
        "steal_cores": round((st1 - st0) / window, 1),
    }
    return best


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _bench_session(sf_dir: str, cpus: int) -> dict[str, float]:
    """One SparkSession's worth of benchmarks (session is created+stopped
    here so scaling runs get clean parallelism)."""
    from loongcollector_spark import flagship
    from loongcollector_spark.plans.checkpoint import Manifest, resumable_write
    from loongcollector_spark.session import get_spark
    from loongcollector_spark.synth import ROUTE_RULES

    sinks = [r["sink"] for r in ROUTE_RULES]
    spark = get_spark(
        f"loongcollector-bench-{cpus}", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries: dict[str, float] = {}

    cache = ensure_sequences_cache(spark, sf_dir)
    seq = spark.read.parquet(cache)

    # Fixed run counts: each is at least the number of timed runs the query
    # needed in the last recorded driver run (BENCH_r05) to get a clean window.
    # headline: full parse→enrich→route→aggregate over the materialized
    # pre-tokenized table: one scan, one Arrow decode stage (vectorized UDF
    # decode, no per-row Python), one CASE-dispatched parse
    queries["pipeline_e2e"] = _timeit(
        "pipeline_e2e",
        lambda: flagship.pipeline_aggregates_from(spark, seq).collect(),
        warm=1,
        runs=3,
    )
    # full routed fan-out materialization: the deployment job's one-pass
    # resumable parquet write of every sink (incl. the write's rebalance by
    # sink and the commit) into a fresh directory
    def _routed_write():
        with tempfile.TemporaryDirectory() as d:
            resumable_write(flagship.routed_from(spark, seq), sinks, d, Manifest(f"{d}/_manifest"))

    queries["routed_materialize"] = _timeit("routed_materialize", _routed_write, runs=2)
    # parse-only stage (regex-dominated ≙ reference regex-parse benchmark)
    queries["parse_only"] = _timeit(
        "parse_only", lambda: _noop(flagship.parsed_events_from(seq)), runs=2
    )

    # training-data ops
    from loongcollector_spark.dataops.queries import (
        q_dedup_minhash,
        q_embed_topk,
        q_token_stats,
    )

    def _minhash_pass():
        # cold CACHE each pass (the persisted band frame must not leak across
        # passes — CacheManager matches canonicalized plans, so a stale entry
        # would serve the rebuilt DataFrame), but JIT-warm: one warmup pass
        # amortizes whole-stage-codegen compilation of this ~150-node plan so
        # the number measures the algorithm, not JVM classloading.
        spark.catalog.clearCache()
        _noop(q_dedup_minhash(spark, sf_dir))

    queries["dedup_minhash"] = _timeit("dedup_minhash", _minhash_pass, warm=1)
    queries["embed_topk"] = _timeit("embed_topk", lambda: q_embed_topk(spark, sf_dir).collect())
    queries["token_stats"] = _timeit(
        "token_stats", lambda: q_token_stats(spark, sf_dir).collect()
    )

    spark.stop()
    return queries


def run_bench() -> dict:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from loongcollector_spark.session import get_spark
    from loongcollector_spark.synth import sequences_df

    spark = get_spark("bench-meta", master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    seq = sequences_df(spark, sf_dir)
    n_rows = seq.count()
    n_tokens = seq.agg({"n_tok": "sum"}).collect()[0][0]
    spark.stop()

    result = {
        "metric": "pipeline_e2e_sec",
        "sf": sf_dir.rstrip("/").split("sf")[-1],
        "rows": n_rows,
        "tokens": int(n_tokens),
        "cpus": cpus,
    }

    # scaling FIRST, so a slow window costs scaling passes (each pass is
    # budget-checked against SCALE_RESERVE_S) rather than the query suite
    if cpus >= 8:
        result.update(_scaling_section(sf_dir, cpus, n_rows, n_tokens))

    queries = _bench_session(sf_dir, cpus)
    e2e = queries["pipeline_e2e"]
    result["value"] = round(e2e, 3)
    result["unit"] = "sec"
    result["queries"] = {k: round(v, 3) for k, v in queries.items()}
    result["seq_per_sec"] = round(n_rows / e2e, 1)
    result["tokens_per_sec"] = round(n_tokens / e2e, 1)

    # like-for-like parse throughput (reference README.md:66 — 68 MB/s regex
    # parse on ONE native thread): nginx regex parse over PRE-DECODED content
    # strings (same unit of work as the agent: raw line in → fields out), at
    # saturation scale (≥10M lines), bytes/s reported.
    result["parse_bench"] = _parse_throughput_bench(sf_dir, cpus)

    # per-query noise evidence: co-tenant busy cores + hypervisor steal cores
    # sampled over each query's timed window
    result["queries_noise"] = dict(_QUERY_NOISE)

    return result


def _parse_throughput_bench(sf_dir: str, cpus: int) -> dict:
    from loongcollector_spark import flagship
    from loongcollector_spark.operators.base import to_events
    from loongcollector_spark.operators.parse import RegexParser
    from loongcollector_spark.session import get_spark
    from loongcollector_spark.tokens import decode_tokens_arrow

    import pyspark.sql.functions as F

    spark = get_spark(
        f"bench-parse-{cpus}", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    spark.sparkContext.setLogLevel("ERROR")
    seq_cache = ensure_sequences_cache(spark, sf_dir, PARSE_FACTOR)

    # one-time: materialize the DECODED nginx lines (decode is fixture prep —
    # the agent reads raw strings from the file; parquet is the stand-in)
    content_path = seq_cache.rstrip("/") + "_nginx_content"
    if not os.path.exists(os.path.join(content_path, "_SUCCESS")):
        seq = spark.read.parquet(seq_cache).filter(F.col("source") == "nginx")
        dec = decode_tokens_arrow(seq, "tokens", "content").select("doc_id", "content")
        dec.repartition(cpus * 4).write.mode("overwrite").parquet(content_path)

    lines_df = spark.read.parquet(content_path)
    stats = lines_df.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.length("content")).alias("b")
    ).collect()[0]
    n_lines, n_bytes = stats["n"], stats["b"]

    parser = RegexParser(flagship.NGINX_REGEX, flagship.NGINX_KEYS)

    def run() -> None:
        _noop(parser.apply(to_events(spark.read.parquet(content_path))))

    sec = _timeit("parse_bench", run, warm=1, runs=2)  # warm damps codegen/JIT
    spark.stop()
    return {
        "rows": n_lines,
        "mb": round(n_bytes / 1e6, 1),
        "sec": round(sec, 3),
        "mb_per_sec": round(n_bytes / 1e6 / sec, 1),
        "mb_per_sec_per_core": round(n_bytes / 1e6 / sec / cpus, 2),
        "lines_per_sec": round(n_lines / sec, 1),
        "ref_single_thread_mb_per_sec": 68.0,
        "cpus": cpus,
    }


def _scaling_section(sf_dir: str, cpus: int, n_rows: int, n_tokens: int) -> dict:
    """The `scaling` record plus the at-scale headline keys. A scaling failure
    (e.g. a worker JVM dying mid-bench) must degrade to a missing at-scale
    number, never kill the bench — the final JSON line is the driver
    artifact."""
    if _budget_left() < 150:
        return {"scaling": {"skipped": "wall-clock budget exhausted"}}
    try:
        sc = _scaling_bench(sf_dir, cpus, n_rows)
    except Exception as exc:  # noqa: BLE001
        # Py4J errors carry multi-KB Java traces: cut at the source
        return {"scaling": {"error": f"{type(exc).__name__}: {exc}"[:300]}}
    # the sf0.1 headline is Spark-startup-bound (~2s fixed on 100k rows); the
    # CPU-bound rate is the scaling block's widest level
    return {
        "scaling": sc,
        "seq_per_sec_at_scale": sc.get("seq_per_sec_top", sc["seq_per_sec_high"]),
        "tokens_per_sec_at_scale": round(sc["seq_per_sec_high"] * n_tokens / n_rows, 1),
    }


def _start_worker(n: int, cache: str, conf: dict) -> subprocess.Popen:
    """tools/scale_worker.py at local[n] under `taskset -c` on the first n
    CPUs, so the WHOLE tree (JVM, pyspark daemon + workers, GC threads)
    inherits the mask — in unconfined local mode a local[8] run is not an
    8-core run (~11 effective cores measured)."""
    repo_root = os.path.dirname(os.path.abspath(__file__))
    mask = ",".join(str(c) for c in sorted(os.sched_getaffinity(0))[:n])
    os.makedirs(CACHE_ROOT, exist_ok=True)
    with open(os.path.join(CACHE_ROOT, f"scale_worker_{n}.err"), "w") as errf:
        return subprocess.Popen(
            ["taskset", "-c", mask, sys.executable,
             os.path.join(repo_root, "tools", "scale_worker.py"),
             "--cpus", str(n), "--cache", cache, "--conf", json.dumps(conf)],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=errf,
            text=True,
            bufsize=1,
            cwd=repo_root,
        )


def _wait_ready(p) -> None:
    for line in p.stdout:
        if line.strip() == "READY":
            return
    raise RuntimeError(
        f"scale worker died during startup (see {CACHE_ROOT}/scale_worker_*.err)"
    )


def _run(p) -> dict:
    """One timed run on worker `p`: its {"wall", "cpu"} plus `ext_cpu`, the
    host-wide busy CPU-seconds over the same window minus `cpu` (everything
    else on the box, including the worker's post-run heap drain), and
    `steal_cpu`, the hypervisor steal over it."""
    h0, st0 = _host_cpu_s()
    p.stdin.write("run\n")
    p.stdin.flush()
    line = p.stdout.readline()
    h1, st1 = _host_cpu_s()
    if not line:
        raise RuntimeError("scale worker died mid-run")
    r = json.loads(line)
    return {**r, "ext_cpu": max(0.0, h1 - h0 - r["cpu"]), "steal_cpu": st1 - st0}


def _scaling_bench(sf_dir: str, cpus: int, n_rows: int) -> dict:
    """Same job, same x64-replicated input, at each pinned level. The input
    is replicated so the job is CPU-bound rather than overhead-bound at test
    scale — throughput is per REPLICATED row. Up to SCALE_PASSES passes, each
    running every level once in order; a pass starts only if the budget still
    holds the reserve plus one more pass."""
    from loongcollector_spark.session import get_spark

    # The headline N->4N pair (north rule: throughput efficiency >=0.8 going
    # N -> 4N) is low->mid, sized BELOW the host's shared-resource wall: at
    # full 32-wide this VM loses 1-3 cores to hypervisor steal and the memory
    # subsystem -- a single-box artifact a real 4x-node cluster does not have
    # (each node brings its own memory controllers). The full-width level is
    # still run every pass: it is the at-scale throughput number.
    low = max(cpus // 8, 2)
    mid = min(low * 4, cpus)
    levels = [low, mid] + ([cpus] if cpus > mid else [])

    prep = get_spark("bench-scale-prep", master=f"local[{cpus}]", shuffle_partitions=cpus)
    prep.sparkContext.setLogLevel("ERROR")
    cache = ensure_sequences_cache(prep, sf_dir, SCALE_FACTOR)
    prep.stop()
    cache_bytes = sum(
        os.path.getsize(os.path.join(dp, f)) for dp, _, fs in os.walk(cache) for f in fs
    )
    # scan parallelism must not cap the widest run: size split bytes so the
    # scan yields >=4 tasks per core at the top level (at 24 scan partitions
    # a local[32] run can use only 24 cores -- a structural 0.75 efficiency
    # cap, which is exactly what round-1's scaling numbers hit)
    split_bytes = max(1 << 20, cache_bytes // (cpus * 4))
    # Measurement workers get a SMALL fixed heap (6g, not the session
    # default): the timed job streams a cached scan and never needs multi-GB
    # heaps, while 3 workers x 16g faulted-in Xms heaps (a) made every full
    # collection sweep 16 GB and (b) put the box under enough page pressure
    # that an idle worker's heap got reclaimed between runs — both showed up
    # as 2-2.3x CPU-seconds on a level's FIRST timed run.
    conf = {
        "spark.sql.files.maxPartitionBytes": str(split_bytes),
        "spark.sql.files.openCostInBytes": "131072",
        "spark.driver.memory": "6g",
        # ParallelGC + fixed heap: default G1 on a growable heap injected
        # concurrent-GC bursts into ~1 in 3 timed runs (1.5-2.6x CPU-seconds
        # with zero external load); with ParallelGC+Xms the per-level CPU
        # spread dropped to <15%.
        "spark.driver.extraJavaOptions": "-XX:+UseParallelGC -Xms6g",
    }

    # One persistent worker per level. All stay alive for the whole section
    # and ALTERNATE runs, so each pass's runs execute seconds apart under the
    # same external load; round-2's block structure (all lows, then all
    # highs, minutes apart) let one co-tenant burst corrupt the ratio.
    workers: dict[int, subprocess.Popen] = {}
    passes: list[dict[int, dict]] = []
    try:
        for n in levels:
            workers[n] = _start_worker(n, cache, conf)
        for w in workers.values():  # all warm concurrently (untimed)
            _wait_ready(w)
        pass_s = 0.0
        for _ in range(SCALE_PASSES):
            if passes and _budget_left() < SCALE_RESERVE_S + pass_s:
                break  # keep completed passes over starving the query suite
            t0 = time.monotonic()
            passes.append({n: _run(workers[n]) for n in levels})
            pass_s = time.monotonic() - t0
    finally:
        for w in workers.values():
            try:
                w.stdin.write("quit\n")
                w.stdin.flush()
            except OSError:
                pass  # already dead
        for w in workers.values():
            try:
                w.wait(timeout=30)
            except subprocess.TimeoutExpired:
                w.kill()
    return _scaling_summary(levels, passes, n_rows * SCALE_FACTOR)


def _scaling_summary(levels: list[int], passes: list[dict[int, dict]], rows: int) -> dict:
    """Per-pass rows plus the headline: every figure is the median over
    passes (statistics.median_low, so one real pass's value — never the
    best pass, which would harvest noise that slowed the low run)."""
    low, mid = levels[0], levels[1]
    top = levels[2] if len(levels) > 2 else None

    def eff(a: int, b: int, r: dict[int, dict]) -> float:
        return round((r[a]["wall"] / r[b]["wall"]) / (b / a), 3)

    rows_out = []
    for r in passes:
        row = {"efficiency": eff(low, mid, r)}
        if top:
            row["efficiency_mid_to_top"] = eff(mid, top, r)
        for n in levels:
            row[f"sec_{n}c"] = r[n]["wall"]
            row[f"cpu_s_{n}c"] = r[n]["cpu"]
            # co-tenant busy cores and hypervisor steal cores DURING the
            # timed window: external load on the box, and on the PHYSICAL
            # host, invisible to guest loadavg
            row[f"ext_cores_{n}c"] = round(r[n]["ext_cpu"] / r[n]["wall"], 1)
            row[f"steal_cores_{n}c"] = round(r[n]["steal_cpu"] / r[n]["wall"], 1)
        rows_out.append(row)

    def med(key: str) -> float:
        return statistics.median_low(row[key] for row in rows_out)

    out = {"cpus_low": low, "cpus_high": mid, "replication": SCALE_FACTOR, "rows": rows}
    if top:
        out["cpus_top"] = top
    cpu_row = {}
    for n, name in zip(levels, ("low", "high", "top")):
        sec = med(f"sec_{n}c")
        out[f"sec_{name}"] = round(sec, 3)
        out[f"seq_per_sec_{name}"] = round(rows / sec, 1)
        # flat CPU/row across levels == no algorithmic scaling overhead,
        # independent of host load
        cpu_row[n] = med(f"cpu_s_{n}c") / rows
        out[f"cpu_ms_per_row_{name}"] = round(cpu_row[n] * 1000, 4)
    out["efficiency"] = med("efficiency")
    if top:
        out["efficiency_mid_to_top"] = med("efficiency_mid_to_top")
    ratio = cpu_row[mid] / cpu_row[low]
    out["cpu_per_row_ratio"] = round(ratio, 3)
    # Efficiency with the per-row CPU inflation backed out: external load is
    # already excluded from cpu_s, so CPU-ms/row growing at the wide level is
    # memory-STALL cycles — the one-box shared memory subsystem. A real N→4N
    # executor cluster multiplies memory controllers by 4x, so cycles/row
    # stays flat and THIS is the cluster-representative figure. Capped at 1.0
    # (it is a correction, not a bonus).
    out["efficiency_flat_cycles"] = round(min(1.0, out["efficiency"] * ratio), 3)
    for noise in ("ext_cores", "steal_cores"):
        out[f"{noise}_max"] = max(row[f"{noise}_{n}c"] for row in rows_out for n in levels)
    out["passes"] = rows_out
    return out


def _compact(full: dict) -> dict:
    """Headline summary ≤2 KB — the FINAL stdout line the driver tail-parses
    (the full per-query JSON once outgrew the driver's tail capture and
    BENCH_r04.json recorded parsed:null). Carries every driver contract
    field plus the at-scale + noise evidence; the complete record is the
    penultimate stdout line AND bench_full.json."""
    out = {
        k: full.get(k)
        for k in ("metric", "value", "unit", "queries", "sf", "rows", "tokens",
                  "seq_per_sec", "tokens_per_sec", "cpus",
                  "seq_per_sec_at_scale", "tokens_per_sec_at_scale")
        if k in full
    }
    pb = full.get("parse_bench") or {}
    if pb:
        out["parse_mb_per_sec"] = pb.get("mb_per_sec")
    qn = full.get("queries_noise") or {}
    if qn:
        out["queries_noise_max"] = {
            "ext_cores": max(v["ext_cores"] for v in qn.values()),
            "steal_cores": max(v["steal_cores"] for v in qn.values()),
        }
    sc = full.get("scaling") or {}
    if sc and "skipped" not in sc and "error" not in sc:
        summary = {
            k: sc.get(k)
            for k in ("cpus_low", "cpus_high", "cpus_top", "rows", "sec_low",
                      "sec_high", "sec_top", "seq_per_sec_top", "efficiency",
                      "efficiency_flat_cycles", "efficiency_mid_to_top",
                      "cpu_ms_per_row_low", "cpu_ms_per_row_high",
                      "cpu_ms_per_row_top", "cpu_per_row_ratio",
                      "ext_cores_max", "steal_cores_max")
            if k in sc
        }
        summary["passes_total"] = len(sc.get("passes", []))
        out["scaling"] = summary
    elif sc:
        out["scaling"] = sc
    if "window_noise" in full:
        out["window_noise"] = full["window_noise"]
    out["full_record"] = "bench_full.json"
    return out


def _final_line(compact: dict, limit: int = 2048) -> str:
    """JSON of ``compact`` in at most ``limit`` bytes — the hard guarantee
    for the driver's tail capture: while the line is too long, drop the
    largest key other than the metric/value/unit contract fields."""
    out = dict(compact)
    line = json.dumps(out)
    while len(line.encode()) > limit:
        extra = [k for k in out if k not in ("metric", "value", "unit")]
        if not extra:
            break
        del out[max(extra, key=lambda k: len(json.dumps(out[k])))]
        line = json.dumps(out)
    return line


class _TreeCpuSampler:
    """Positive-delta integrator over this process tree's CPU seconds (own +
    reaped children of every live descendant), sampled every `period` s on a
    daemon thread. A one-shot end-minus-start tree delta UNDERCOUNTS the
    bench's own CPU whenever a descendant dies without its time propagating
    through cutime (the scaling workers' Spark JVMs are reparented on quit):
    r4/r5 window ledgers charged ~13-15 avg cores of the bench's OWN scaling
    workers to "external load" on an otherwise idle box. Accumulating
    max(0, Δtree) keeps a vanished subtree's CPU counted (its contribution
    stays in `acc` from the last sample before death) and never double-counts
    cutime propagation (propagation leaves the cumulative tree total
    ~flat). Residual error: ≤ period·ncores per worker death."""

    def __init__(self, period: float = 2.0):
        self.period = period
        self.acc = self._prev = 0.0
        self._sample()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self._sample()

    def _sample(self) -> None:
        now = sum(st[2] + st[3] for st in proctree.descendants(os.getpid()).values())
        self.acc += max(0.0, now - self._prev)
        self._prev = now

    def total(self) -> float:
        self._stop.set()
        self._sample()
        return self.acc


if __name__ == "__main__":
    # whole-window noise ledger: host busy/steal over the ENTIRE bench, minus
    # this tree's own CPU — a reviewer can bound window-wide walltime
    # inflation from the artifact alone
    _h0, _st0 = _host_cpu_s()
    _sampler = _TreeCpuSampler()
    _c0 = _sampler.acc
    full = run_bench()
    _wall = max(time.monotonic() - _BENCH_T0, 1e-9)
    _h1, _st1 = _host_cpu_s()
    full["window_noise"] = {
        "wall_s": round(_wall, 1),
        "ext_cores": round(max(0.0, (_h1 - _h0) - (_sampler.total() - _c0)) / _wall, 2),
        "steal_cores": round((_st1 - _st0) / _wall, 2),
    }
    repo = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(repo, "bench_full.json"), "w") as fh:
        json.dump(full, fh)
    print(json.dumps(full))
    print(_final_line(_compact(full)))
