"""Bench-harness behavior pins (no Spark): the fixed scaling protocol (run
against a fake worker that speaks the READY/run/quit protocol), the compact
final-line builder, and the process-tree CPU readers — the driver-artifact
defensibility machinery must not regress."""

import json
import os
import subprocess
import sys
import textwrap
import threading

import bench
import loongcollector_spark.session as session
from perfbench import proctree


def test_compact_line_under_2kb_and_carries_scaling_summary():
    full = {
        "metric": "pipeline_e2e_sec", "value": 2.5, "unit": "sec",
        "sf": "0.1", "rows": 100000, "tokens": 8779910, "cpus": 32,
        "seq_per_sec": 40000.0, "tokens_per_sec": 3500000.0,
        "seq_per_sec_at_scale": 1000000.0, "tokens_per_sec_at_scale": 7e7,
        "queries": {f"q{i}": 1.0 for i in range(8)},
        "parse_bench": {"mb_per_sec": 100.0},
        "queries_noise": {
            "a": {"ext_cores": 2.0, "steal_cores": 1.5},
            "b": {"ext_cores": 0.0, "steal_cores": 2.0},
        },
        "scaling": {
            "cpus_low": 4, "cpus_high": 16, "cpus_top": 32, "rows": 6400000,
            "sec_low": 33.0, "sec_high": 12.0, "sec_top": 9.7,
            "seq_per_sec_top": 659793.8, "efficiency": 0.688,
            "efficiency_flat_cycles": 0.762, "efficiency_mid_to_top": 0.619,
            "cpu_ms_per_row_low": 0.0181, "cpu_ms_per_row_high": 0.02,
            "cpu_ms_per_row_top": 0.0231, "cpu_per_row_ratio": 1.108,
            "ext_cores_max": 0.4, "steal_cores_max": 1.1,
            "passes": [{"efficiency": 0.688, "sec_4c": 33.0}] * 3,
        },
        "window_noise": {"wall_s": 468.0, "ext_cores": 1.8,
                         "steal_cores": 1.2},
    }

    line = json.dumps(bench._compact(full))
    assert len(line) <= 2048, f"final line must stay ≤2 KB, got {len(line)}"
    d = json.loads(line)
    assert d["queries_noise_max"] == {"ext_cores": 2.0, "steal_cores": 2.0}
    assert d["parse_mb_per_sec"] == 100.0
    sc = d["scaling"]
    assert sc["efficiency"] == 0.688
    assert sc["passes_total"] == 3
    assert "passes" not in sc
    assert [sc[f"cpu_ms_per_row_{k}"] for k in ("low", "high", "top")] == [0.0181, 0.02, 0.0231]
    assert (sc["ext_cores_max"], sc["steal_cores_max"]) == (0.4, 1.1)
    assert d["full_record"] == "bench_full.json"


def test_compact_carries_scaling_error_and_skip_verbatim():
    # a scaling failure degrades to {"error": ...} in main (the bench must
    # still print its final line); _compact must pass that through rather
    # than synthesize an empty pass summary
    base = {"metric": "m", "value": 1.0, "unit": "sec"}
    err = bench._compact({**base, "scaling": {"error": "RuntimeError: worker died"}})
    assert err["scaling"] == {"error": "RuntimeError: worker died"}
    skip = bench._compact({**base, "scaling": {"skipped": "budget"}})
    assert skip["scaling"] == {"skipped": "budget"}
    assert len(json.dumps(err)) <= 2048


def test_final_line_fits_2kb_with_multi_kb_scaling_error():
    # a Py4J error carries a multi-KB Java trace; the final line must still
    # fit the driver's 2 KB tail capture and parse, keeping the contract
    trace = "\n\tat org.apache.spark.Foo.bar(Foo.scala:1)" * 200
    full = {
        "metric": "pipeline_e2e_sec", "value": 2.5, "unit": "sec",
        "queries": {f"query_number_{i}": 1.0 for i in range(60)},
        "scaling": {"error": f"Py4JJavaError: worker died{trace}"},
    }
    assert len(json.dumps(bench._compact(full))) > 4096
    line = bench._final_line(bench._compact(full))
    assert len(line.encode()) <= 2048
    d = json.loads(line)
    assert (d["metric"], d["value"], d["unit"]) == ("pipeline_e2e_sec", 2.5, "sec")
    assert d["full_record"] == "bench_full.json"


def test_tree_cpu_sampler_keeps_vanished_subtree(monkeypatch):
    """The window ledger's positive-delta integrator: CPU of a descendant
    that dies without cutime propagation (scaling-worker JVMs) must stay
    counted, and reap-propagation (flat total) must not double-count."""
    vals = iter([10.0,  # first sample
                 60.0,  # worker burned 50 CPU-s (live)
                 60.0,  # reap propagation: total flat → +0
                 25.0,  # JVM vanished unreaped: total DROPS → ignore
                 30.0,  # main tree burns 5 more
                 30.0])  # final sample in total()
    # one live process whose own + reaped-children CPU is the tree total
    monkeypatch.setattr(
        proctree, "descendants", lambda root: {root: (False, 1, next(vals), 0.0, 0)}
    )
    s = bench._TreeCpuSampler.__new__(bench._TreeCpuSampler)
    s.acc = s._prev = 0.0
    s._stop = threading.Event()
    s._stop.set()  # no background thread — drive samples by hand
    for _ in range(5):
        s._sample()
    assert s.total() == 10.0 + 50.0 + 0.0 + 0.0 + 5.0 + 0.0


def test_tree_sampler_counts_child_of_sigchld_ignoring_parent():
    """The scale worker's CPU reader: a pyspark-daemon-shaped parent ignores
    SIGCHLD, so its exited child's CPU reaches no cutime. The sampler must
    still count it (utime+stime+cutime+cstime alone would not)."""
    parent_src = textwrap.dedent("""
        import os, signal, time
        signal.signal(signal.SIGCHLD, signal.SIG_IGN)
        pid = os.fork()
        if pid == 0:
            t0 = time.process_time()
            while time.process_time() - t0 < 0.5:
                pass
            os._exit(0)
        try:
            os.waitpid(pid, 0)  # returns once the kernel has reaped the child
        except ChildProcessError:
            pass
    """)

    def reaped_cpu():
        t = os.times()
        return t.children_user + t.children_system

    with proctree.TreeSampler(os.getpid()) as tree:
        c0, r0 = tree.cpu_s(), reaped_cpu()
        p = subprocess.Popen([sys.executable, "-c", parent_src])
        assert p.wait(timeout=60) == 0
        cpu, parent_cpu = tree.cpu_s() - c0, reaped_cpu() - r0
    # the parent's own CPU reaches our cutime when we reap it; the child's
    # reaches no cutime, so only the sampler can have counted it
    assert cpu - parent_cpu >= 0.4, (cpu, parent_cpu)


# A stand-in for tools/scale_worker.py: READY, then per "run" one scripted
# {"wall", "cpu"} line; it logs the level of every run it receives and exits
# without answering once its script runs out (a worker dying mid-run).
_FAKE_WORKER = textwrap.dedent("""
    import json, sys
    n, log, plan = sys.argv[1], sys.argv[2], json.loads(sys.argv[3])
    print("READY", flush=True)
    done = 0
    for line in sys.stdin:
        if line.strip() == "quit":
            break
        with open(log, "a") as fh:
            fh.write(n + "\\n")
        if done == len(plan[n]):
            sys.exit(1)
        print(json.dumps(plan[n][done]), flush=True)
        done += 1
""")


def _fake_scaling(monkeypatch, tmp_path, plan):
    """Run the scaling protocol with no Spark: a fake prep session, a tiny
    cache, and fake workers following ``plan`` (level → list of runs).
    Returns (run log, started worker processes)."""
    script = tmp_path / "fake_worker.py"
    script.write_text(_FAKE_WORKER)
    log = tmp_path / "runs.log"
    cache = tmp_path / "cache"
    cache.mkdir()
    (cache / "part-0.parquet").write_bytes(b"x" * 100)
    started = []

    def start(n, cache_path, conf):
        p = subprocess.Popen(
            [sys.executable, str(script), str(n), str(log), json.dumps(plan)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, bufsize=1,
        )
        started.append(p)
        return p

    class FakeSpark:
        class sparkContext:
            @staticmethod
            def setLogLevel(level):
                pass

        def stop(self):
            pass

    monkeypatch.setattr(session, "get_spark", lambda *a, **kw: FakeSpark())
    monkeypatch.setattr(bench, "ensure_sequences_cache", lambda spark, sf, factor: str(cache))
    monkeypatch.setattr(bench, "_start_worker", start)
    monkeypatch.setattr(bench, "_budget_left", lambda: 1e9)
    return log, started


def test_scaling_protocol_fixed_passes_median_headline(monkeypatch, tmp_path):
    # per level, 3 passes; the best pass differs from the median everywhere
    walls = {4: [40.0, 44.0, 60.0], 16: [10.0, 12.0, 11.0], 32: [6.0, 9.0, 7.0]}
    cpus = {4: [100.0, 110.0, 120.0], 16: [200.0, 150.0, 300.0], 32: [260.0, 250.0, 270.0]}
    plan = {str(n): [{"wall": w, "cpu": c} for w, c in zip(walls[n], cpus[n])] for n in walls}
    log, started = _fake_scaling(monkeypatch, tmp_path, plan)

    sc = bench._scaling_bench("unused-sf-dir", cpus=32, n_rows=1000)

    assert log.read_text().split() == ["4", "16", "32"] * bench.SCALE_PASSES
    assert bench.SCALE_PASSES >= 2
    assert len(sc["passes"]) == bench.SCALE_PASSES
    assert bench._compact({"scaling": sc})["scaling"]["passes_total"] == bench.SCALE_PASSES
    rows = 1000 * bench.SCALE_FACTOR
    assert (sc["cpus_low"], sc["cpus_high"], sc["cpus_top"], sc["rows"]) == (4, 16, 32, rows)
    # per-pass low→mid efficiencies 1.0, 0.917, 1.364: the headline is the
    # median pass, not the best
    assert [p["efficiency"] for p in sc["passes"]] == [1.0, 0.917, 1.364]
    assert sc["efficiency"] == 1.0
    assert (sc["sec_low"], sc["sec_high"], sc["sec_top"]) == (44.0, 11.0, 7.0)
    assert sc["seq_per_sec_top"] == round(rows / 7.0, 1)
    assert sc["cpu_ms_per_row_low"] == round(110.0 / rows * 1000, 4)
    assert sc["cpu_ms_per_row_high"] == round(200.0 / rows * 1000, 4)
    assert sc["cpu_ms_per_row_top"] == round(260.0 / rows * 1000, 4)
    assert sc["cpu_per_row_ratio"] == round(200.0 / 110.0, 3)
    for p in sc["passes"]:
        assert {f"{k}_{n}c" for k in ("sec", "cpu_s", "ext_cores", "steal_cores")
                for n in (4, 16, 32)} <= set(p)
    assert all(p.poll() is not None for p in started)  # every worker stopped


def test_scaling_worker_death_degrades_to_error_line(monkeypatch, tmp_path):
    run = {"wall": 1.0, "cpu": 2.0}
    plan = {"4": [run] * 3, "16": [run], "32": [run] * 3}  # 16c dies in pass 2
    log, started = _fake_scaling(monkeypatch, tmp_path, plan)

    section = bench._scaling_section("unused-sf-dir", 32, n_rows=1000, n_tokens=90000)

    assert section == {"scaling": {"error": "RuntimeError: scale worker died mid-run"}}
    assert log.read_text().split() == ["4", "16", "32", "4", "16"]
    assert all(p.poll() is not None for p in started)
    full = {"metric": "pipeline_e2e_sec", "value": 2.5, "unit": "sec",
            "queries": {f"q{i}": 1.0 for i in range(8)}, **section}
    line = bench._final_line(bench._compact(full))
    assert len(line.encode()) <= 2048
    assert json.loads(line)["scaling"]["error"].startswith("RuntimeError")
