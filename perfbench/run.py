"""Benchmark of the flagship log pipeline: parse -> enrich -> route -> aggregate -> write.

    python3 perfbench/run.py --workload regex_hot --seed 1 --seconds 5 --trace 0

Run from the repository root. Generates the workload's `events` parquet from
the seed, runs the working tree's pipeline on it and checks every result
against the DuckDB oracle (`oracles.oracle_pipeline_aggregates`, and
`oracles.oracle_routed_rows` for written sinks). The last stdout line is one
JSON object: `correct`, `attempted`, `failed` (jobs) and the metrics:
end-to-end with ``--trace 0``; per-layer with ``--trace 1``, read from the
event log of an extra traced run, whose spans go to ``.perfbench/traces/``.

Workloads (80% nginx lines, 1/16 of them malformed, ~88 tokens per row):
- regex_hot: `flagship.pipeline_aggregates_from` in a warm in-process session
  on the source-partitioned sequences table; no write. Set-up is the cold
  session start, materialising that table and a warm-up job; then timed
  jobs. Nothing is checkpointed in process, so a resume is a re-run and
  resume_s is the job's wall time.
- sink_write_resume: `tools/submit_job.py`'s main() in a spark-submit driver
  process (perfbench/submit_driver.py); set-up is the driver's start and a
  first, cold job. Each timed cycle is a clean job, then a resume from the
  state the clean job had on disk when its first sink was committed. Each of
  a job's four actions re-scans and re-decodes the input, which dominates;
  the pre-write shuffle and the checkpoint commit are small.
  Only what is on disk survives a crash, so copying it stands in for killing
  the job; a killed job of its own would cost one more cold JVM per run.

cpu_s_per_mseq is the process tree's CPU (JVM, Python driver and workers,
reaped ones included) over a timed job. peak_rss_mb is the tree's resident
high-water mark over the whole run, set-up included: the JVM keeps the heap
it has touched, so a job's own peak cannot be told apart from it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import tempfile
import sys
import time
import zipfile
from dataclasses import dataclass
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

from gen import write_events  # noqa: E402
from proctree import TreeSampler, alive, descendants  # noqa: E402

NPROC = len(os.sched_getaffinity(0))
SINKS = ("sink_a", "sink_b", "sink_default")

# Spark settings pinned by the benchmark (the repo defaults assume 32 cores and 16g)
SPARK_CONF = {
    "spark.master": f"local[{NPROC}]",
    "spark.sql.shuffle.partitions": str(NPROC),
    "spark.driver.memory": "2g",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
}
EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    # the default log is zstd-compressed and rolled; plain JSON lines need neither
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


@dataclass(frozen=True)
class Workload:
    rows: int
    submit: bool  # run tools/submit_job.py under spark-submit instead of in-process


WORKLOADS = {
    "regex_hot": Workload(300_000, submit=False),
    "sink_write_resume": Workload(40_000, submit=True),
}
# timed jobs per run (in-process) and clean-job-and-resume cycles (submit);
# more while --seconds has not passed
MIN_CYCLES = {"in-process": 3, "submit": 1}


class Bench:
    """State of one benchmark run: directories, expected results, job verdicts."""

    def __init__(self, work: Path, workload: str, seed: int, rows: int | None, corrupt: bool):
        self.rows = rows or WORKLOADS[workload].rows
        self.work = work
        for sub in ("input", "tmp", "local", "out", "eventlog", "requests"):
            (work / sub).mkdir(parents=True)
        self.input_dir = work / "input"
        self.attempted = 0
        self.failed = 0
        self.spans: list[dict] = []
        self.env = dict(
            os.environ,
            # Spark's Python workers import the working tree, not an installed copy
            PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
            TMPDIR=str(work / "tmp"),
            SPARK_LOCAL_DIRS=str(work / "local"),
            # a fixed heap keeps the JVM's resident size from following G1's resizing
            SPARK_SUBMIT_OPTS=f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData -Xms{SPARK_CONF['spark.driver.memory']}",
            SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        )
        os.environ.update(self.env)
        self.conf = dict(SPARK_CONF, **{"spark.sql.warehouse.dir": str(work / "warehouse")})

        write_events(str(self.input_dir / "events.parquet"), self.rows, seed)
        import duckdb
        from loongcollector_spark import oracles

        self.db = duckdb.connect()
        self.db.execute(
            f"CREATE VIEW events AS SELECT * FROM read_parquet('{self.input_dir / 'events.parquet'}')"
        )
        self.expected = {
            s: (e, t) for s, e, t in self.db.execute(oracles.oracle_pipeline_aggregates()).fetchall()
        }
        if corrupt:
            e, t = self.expected[SINKS[0]]
            self.expected[SINKS[0]] = (e + 1, t)
        if WORKLOADS[workload].submit:
            self.db.execute(f"CREATE TABLE oracle_rows AS {oracles.oracle_routed_rows()}")

    def verdict(self, problems: list[str], what: str) -> None:
        """Count one attempted job; it failed if anything about it was wrong."""
        self.attempted += 1
        if problems:
            self.failed += 1
            print(f"[perfbench] {what} failed: {'; '.join(problems)[:2000]}", file=sys.stderr)

    def aggregate_problems(self, got: dict | None) -> list[str]:
        return [] if got == self.expected else [f"aggregates {got} != oracle {self.expected}"]

    def close(self) -> None:
        self.db.close()


def end_to_end(b: Bench, setup: float, walls, cpus, peak_rss_mb: float, resumes) -> dict:
    return {
        "setup_s": setup,
        "seq_per_s": b.rows / statistics.median(walls),
        "cpu_s_per_mseq": statistics.median(cpus) / b.rows * 1e6,
        "peak_rss_mb": peak_rss_mb,
        "resume_s": statistics.median(resumes),
    }


# --------------------------------------------------------------------------- in-process


class InProcess:
    """`flagship.pipeline_aggregates_from(spark, seq)` in this process, warm session."""

    def __init__(self, b: Bench):
        self.b = b
        self.spark = None
        self.seq = None

    def open(self, extra: dict | None = None) -> None:
        from loongcollector_spark.session import get_spark

        # SparkSession.builder keeps its options across sessions: say whether this one is traced
        conf = {**self.b.conf, "spark.eventLog.enabled": "false", **(extra or {})}
        self.spark = get_spark(
            "perfbench", master=conf.pop("spark.master"),
            shuffle_partitions=int(conf.pop("spark.sql.shuffle.partitions")), extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def prepare(self) -> None:
        """Materialise the input as production reads it (source-partitioned
        sequences parquet), unless an earlier session did, and run one
        checked warm-up job."""
        from loongcollector_spark import flagship

        path = self.b.work / "sequences"
        if not path.exists():
            seq = flagship.sequences_df(self.spark, str(self.b.input_dir))
            seq.repartition(NPROC).write.partitionBy("source").parquet(str(path))
        self.seq = self.spark.read.parquet(str(path))
        self.b.verdict(self.b.aggregate_problems(self.job()), "warm-up job")

    def close(self) -> None:
        self.spark.stop()

    def _collect(self) -> dict:
        from loongcollector_spark import flagship

        rows = flagship.pipeline_aggregates_from(self.spark, self.seq).collect()
        return {r["sink"]: (r["events"], r["tokens_total"]) for r in rows}

    def job(self) -> dict | None:
        try:
            return self._collect()
        except Exception as e:  # a failed job counts against error_rate
            print(f"[perfbench] job raised: {str(e)[:500]}", file=sys.stderr)
            return None

    def clean(self, sampler: TreeSampler | None = None) -> tuple[float, float]:
        """One timed, checked job: (wall s, tree CPU s or 0 without a sampler)."""
        c0 = sampler.cpu_s() if sampler else 0.0
        t0 = time.perf_counter()
        got = self.job()
        wall = time.perf_counter() - t0
        cpu = sampler.cpu_s() - c0 if sampler else 0.0
        self.b.verdict(self.b.aggregate_problems(got), "job")
        return wall, cpu


def shutdown_jvm() -> None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def run_in_process(b: Bench, seconds: float) -> dict:
    w = InProcess(b)
    walls, cpus = [], []
    with TreeSampler(os.getpid()) as sampler:
        t0 = time.perf_counter()
        w.open()
        w.prepare()
        setup = time.perf_counter() - t0
        deadline = time.perf_counter() + seconds
        while len(walls) < MIN_CYCLES["in-process"] or time.perf_counter() < deadline:
            wall, cpu = w.clean(sampler)
            walls.append(wall), cpus.append(cpu)
    w.close()
    return end_to_end(b, setup, walls, cpus, sampler.peak_rss_mb, walls)


def trace_in_process(b: Bench) -> dict:
    """Jobs in two sessions of one JVM, with the event log on and then
    untraced; the untraced jobs are the baseline for the tracing overhead,
    which the traced session, running first in the colder JVM, can only
    overstate. Layers are rolled up per traced job."""
    from eventlog import EventLog

    w = InProcess(b)
    log_dir = b.work / "eventlog" / "in-process"
    log_dir.mkdir()
    w.open({**EVENT_LOG_CONF, "spark.eventLog.dir": log_dir.as_uri()})
    w.prepare()
    jobs = []
    for i in range(MIN_CYCLES["in-process"]):
        t0 = time.time() * 1e3
        wall, _ = w.clean()
        jobs.append((f"job-{i}", t0, time.time() * 1e3, wall))
    w.close()
    w.open()
    w.prepare()
    untraced = [w.clean()[0] for _ in range(MIN_CYCLES["in-process"])]
    w.close()

    log = EventLog(str(next(log_dir.iterdir())))
    per_job = []
    for sid, t0, t1, _ in jobs:
        eids = log.executions_between(t0, t1)
        b.spans += log.spans(sid, t0, t1, eids)
        per_job.append(log.layer_metrics(eids, b.rows))
    layers = {k: statistics.median(m[k] for m in per_job) for k in per_job[0]}
    layers["checkpoint.units_skipped"] = 0.0
    layers["trace.overhead"] = statistics.median(j[3] for j in jobs) / statistics.median(untraced)
    return layers


# --------------------------------------------------------------------------- spark-submit


def build_zip(b: Bench) -> Path:
    """The working tree's package, zipped fresh for `--py-files`."""
    path = b.work / "tmp" / "loongcollector_spark.zip"
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for f in sorted((ROOT / "loongcollector_spark").rglob("*.py")):
            z.write(f, f.relative_to(ROOT))
    return path


def snapshot_committed(out: Path, dst: Path) -> bool:
    """Copy what a crash right now would leave committed: every sink whose
    manifest marker exists, and its marker. A unit's directory is final before
    its marker is published, so the copy is consistent while the job runs on."""
    manifest = out / "_manifest"
    markers = [m for m in manifest.iterdir() if m.name.endswith(".done.json")] if manifest.is_dir() else []
    if not markers:
        return False
    (dst / "_manifest").mkdir(parents=True)
    for m in markers:
        unit = m.name[: -len(".done.json")]
        shutil.copytree(out / f"unit={unit}", dst / f"unit={unit}")
    for m in markers:
        shutil.copy2(m, dst / "_manifest" / m.name)
    return True


class SubmitDriver:
    """One `spark-submit --py-files <zip>` process running submit_driver.py;
    each job is one `tools/submit_job.py` main() call in it."""

    def __init__(self, b: Bench, zip_path: Path):
        self.b = b
        self.jobs = 0
        self.requests = Path(tempfile.mkdtemp(dir=b.work / "requests"))
        conf = dict(b.conf)
        master = conf.pop("spark.master")
        cmd = ["spark-submit", "--master", master, "--py-files", str(zip_path)]
        for k, v in conf.items():
            cmd += ["--conf", f"{k}={v}"]
        cmd += [str(HERE / "submit_driver.py"), str(self.requests), str(ROOT / "tools" / "submit_job.py")]
        self.log = self.requests / "driver.log"
        with open(self.log, "w") as log:
            self.proc = subprocess.Popen(
                cmd, stdout=log, stderr=subprocess.STDOUT, env=b.env, cwd=b.work, start_new_session=True
            )
        # the tree under run.py: the driver, and whatever it leaves orphaned; not run.py's polling
        self.sampler = TreeSampler(os.getpid(), own=False).__enter__()

    def job(self, out: Path, snapshot_to: Path | None = None, conf: dict | None = None, timeout: float = 150.0):
        """One checked job; returns (problems, wall s, tree CPU s).
        With ``snapshot_to``, copies the committed output there as soon as
        the first sink is committed; ``conf`` holds extra Spark settings."""
        c0 = self.sampler.cpu_s()
        request = self.requests / f"{self.jobs}.json"
        done = self.requests / f"{self.jobs}.done.json"
        self.jobs += 1
        args = ["--sf-dir", str(self.b.input_dir), "--out", str(out)]
        request.with_suffix(".tmp").write_text(json.dumps({"args": args, "conf": conf or {}}))
        request.with_suffix(".tmp").replace(request)
        deadline = time.monotonic() + timeout
        while not done.exists():
            if self.proc.poll() is not None or time.monotonic() > deadline:
                return [f"driver stopped or timed out: {self.log.read_text()[-2000:]}"], 0.0, 0.0
            if snapshot_to is not None and snapshot_committed(out, snapshot_to):
                snapshot_to = None
            time.sleep(0.05)
        cpu = self.sampler.cpu_s() - c0
        reply = json.loads(done.read_text())
        problems = [] if reply["ok"] else [reply["error"]]
        problems += self.b.aggregate_problems(aggregates_of(reply.get("line", "")))
        return problems, reply["wall_s"], cpu

    def close(self) -> None:
        (self.requests / "stop").touch()
        try:
            self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            os.killpg(self.proc.pid, signal.SIGKILL)
            self.proc.wait()
        self.sampler.__exit__(None, None, None)
        wait_gone([p for p in self.sampler.seen() if p != os.getpid()])


def wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until every process of a finished job has exited; kill stragglers."""
    deadline = time.monotonic() + timeout
    while True:
        left = [p for p in pids if alive(p)]
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.1)


def aggregates_of(line: str) -> dict | None:
    try:
        aggs = json.loads(line)["aggregates"]
        return {s: (a["events"], a["tokens_total"]) for s, a in aggs.items()}
    except (json.JSONDecodeError, KeyError, TypeError, AttributeError):
        return None


def written_problems(b: Bench, out: Path, clean: Path | None) -> list[str]:
    """Per-sink row counts against the oracle's, and per-sink doc_id multisets
    against the oracle's routed rows and, for a resumed run, the clean run's."""
    problems = []
    for sink in SINKS:
        mine = f"SELECT doc_id FROM read_parquet('{out}/unit={sink}/*.parquet')"
        others = {"oracle": f"SELECT doc_id FROM oracle_rows WHERE sink = '{sink}'"}
        if clean is not None:
            others["clean run"] = f"SELECT doc_id FROM read_parquet('{clean}/unit={sink}/*.parquet')"
        try:
            n = b.db.execute(f"SELECT count(*) FROM ({mine})").fetchone()[0]
            if n != b.expected[sink][0]:
                problems.append(f"{sink}: {n} rows written, oracle has {b.expected[sink][0]}")
            for name, other in others.items():
                diff = b.db.execute(
                    f"SELECT (SELECT count(*) FROM ({mine} EXCEPT ALL {other})) "
                    f"+ (SELECT count(*) FROM ({other} EXCEPT ALL {mine}))"
                ).fetchone()[0]
                if diff:
                    problems.append(f"{sink}: {diff} doc_ids differ from the {name}")
        except Exception as e:  # duckdb raises on a missing or unreadable sink directory
            problems.append(f"{sink}: {str(e)[:300]}")
    return problems


def checked_job(b: Bench, d: SubmitDriver, out: Path, what: str, clean: Path | None = None,
                snapshot_to: Path | None = None, conf: dict | None = None):
    problems, wall, cpu = d.job(out, snapshot_to, conf)
    b.verdict(problems + written_problems(b, out, clean), what)
    return wall, cpu


def start_driver(b: Bench, zip_path: Path) -> SubmitDriver:
    """A driver process that has run one checked warm-up job."""
    d = SubmitDriver(b, zip_path)
    checked_job(b, d, d.requests / "warm-up", "warm-up job")
    return d


def run_submit(b: Bench, seconds: float) -> dict:
    t0 = time.perf_counter()
    d = start_driver(b, build_zip(b))
    setup = time.perf_counter() - t0
    walls, cpus, resumes = [], [], []
    try:
        deadline = time.perf_counter() + seconds
        while len(walls) < MIN_CYCLES["submit"] or time.perf_counter() < deadline:
            clean, resume_out = b.work / "out" / f"clean-{len(walls)}", b.work / "out" / f"resume-{len(walls)}"
            wall, cpu = checked_job(b, d, clean, "clean job", snapshot_to=resume_out)
            resume, _ = checked_job(b, d, resume_out, "resume", clean=clean)
            walls.append(wall), cpus.append(cpu), resumes.append(resume)
    finally:
        d.close()
    return end_to_end(b, setup, walls, cpus, d.sampler.peak_rss_mb, resumes)


def trace_submit(b: Bench) -> dict:
    """In one warmed-up driver: an untraced clean job, the baseline for the
    tracing overhead, then a clean job and its resume with the event log on;
    layers from the traced clean job's log."""
    from eventlog import EventLog

    log_dir = b.work / "eventlog" / "submit"
    log_dir.mkdir()
    traced = {**EVENT_LOG_CONF, "spark.eventLog.dir": log_dir.as_uri()}
    clean, resume_out = b.work / "out" / "clean", b.work / "out" / "resume"
    d = start_driver(b, build_zip(b))
    try:
        before, _ = checked_job(b, d, b.work / "out" / "untraced-0", "untraced clean job")
        t0 = time.time() * 1e3
        wall, _ = checked_job(b, d, clean, "clean job", snapshot_to=resume_out, conf=traced)
        t1 = time.time() * 1e3
        checked_job(b, d, resume_out, "resume", clean=clean, conf=traced)
        t2 = time.time() * 1e3
    finally:
        d.close()
    # one application log per traced job, in job order
    clean_log, resume_log = (EventLog(str(p)) for p in sorted(log_dir.iterdir()))
    for name, log, start, end in (("clean", clean_log, t0, t1), ("resume", resume_log, t1, t2)):
        b.spans += log.spans(name, start, end, sorted(log.executions))
    layers = clean_log.layer_metrics(sorted(clean_log.executions), b.rows)
    resumed = resume_log.layer_metrics(sorted(resume_log.executions), b.rows)
    layers["checkpoint.units_skipped"] = len(SINKS) - resumed["checkpoint.units_written"]
    layers["trace.overhead"] = wall / before
    return layers


# --------------------------------------------------------------------------- main


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", type=int, default=None, help="override the workload's input rows")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="add one event to an expected aggregate (self-test of the check)")
    args = ap.parse_args(argv)
    for needed in ("loongcollector_spark/flagship.py", "tools/submit_job.py"):
        if not (ROOT / needed).is_file():
            print(f"[perfbench] {needed} not found under {ROOT}", file=sys.stderr)
            return 2

    work = ROOT / ".perfbench" / f"run-{os.getpid()}"
    submit = WORKLOADS[args.workload].submit
    b = None
    try:
        b = Bench(work, args.workload, args.seed, args.rows, args.corrupt_expected)
        if args.trace:
            metrics = trace_submit(b) if submit else trace_in_process(b)
            metrics["error_rate"] = b.failed / b.attempted
            traces = ROOT / ".perfbench" / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            (traces / f"{args.workload}-seed{args.seed}.json").write_text(
                json.dumps({"spans": b.spans, "layers": metrics}, indent=1)
            )
        else:
            metrics = run_submit(b, args.seconds) if submit else run_in_process(b, args.seconds)
    finally:
        if b is not None:
            b.close()
        if not submit:
            shutdown_jvm()
        wait_gone([p for p in descendants(os.getpid()) if p != os.getpid()])
        shutil.rmtree(work, ignore_errors=True)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
