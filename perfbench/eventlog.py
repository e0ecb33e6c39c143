"""Reads a Spark event log (uncompressed, not rolled) into spans and layer metrics.

Spark writes the SQL plan of every execution (``SQLExecutionStart`` and each
``SQLAdaptiveExecutionUpdate``) with the accumulator id of every plan-node
metric; tasks report per-accumulator updates in ``TaskEnd``, the driver in
``DriverAccumUpdates``. Summing the updates of the nodes that make up one
pipeline layer gives that layer's rows, bytes and time, measured by the engine
and read from outside the program.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

PYTHON_NODES = ("MapInPandas", "MapInArrow", "PythonMapInArrow", "ArrowEvalPython", "BatchEvalPython")
ROWS = "number of output rows"

# per-layer metric names, all reported by `layer_metrics`
LAYER_KEYS = [
    "scan.rows_per_input_row", "scan.s", "scan.bytes",
    "tokens.python_run_s", "tokens.python_init_s", "tokens.bytes_to_python",
    "tokens.bytes_from_python", "tokens.rows_per_input_row",
    "parse.rows_in", "parse.rows_out", "parse.keep_ratio", "parse.codegen_s",
    "enrich.rows_out", "enrich.broadcast_bytes", "enrich.broadcast_s",
    "routing.rows_out", "routing.fanout",
    "aggregate.shuffle_bytes", "aggregate.shuffle_records", "aggregate.shuffle_write_s",
    "aggregate.partition_skew", "aggregate.build_s", "aggregate.hash_probes",
    "checkpoint.units_written", "checkpoint.rows_written", "checkpoint.bytes_written",
    "checkpoint.commit_s",
    "session.sql_executions", "session.tasks", "session.failed_tasks",
    "session.executor_run_s", "session.executor_cpu_s", "session.gc_s",
]


@dataclass
class Execution:
    start_ms: int
    description: str
    plan: dict
    end_ms: int | None = None
    stages: list[int] = field(default_factory=list)


@dataclass
class Task:
    stage: int
    ok: bool
    run_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_read_bytes: int


def _short(event: str) -> str:
    return event.rsplit(".", 1)[-1]


class EventLog:
    def __init__(self, path: str):
        self.executions: dict[int, Execution] = {}
        self.stage_times: dict[int, tuple[str, int, int]] = {}
        self.tasks: list[Task] = []
        self.updates: dict[int, list[int]] = {}  # accumulator id -> task/driver updates
        stage_exec: dict[int, int] = {}
        with open(path) as f:
            for line in f:
                try:
                    e = json.loads(line)
                except json.JSONDecodeError:
                    break  # the tail of a log whose writer was killed
                self._add(e, stage_exec)
        for stage, eid in stage_exec.items():
            if eid in self.executions:
                self.executions[eid].stages.append(stage)

    def _add(self, e: dict, stage_exec: dict[int, int]) -> None:
        kind = _short(e["Event"])
        if kind == "SparkListenerSQLExecutionStart":
            self.executions[e["executionId"]] = Execution(
                e["time"], e.get("description", ""), e["sparkPlanInfo"]
            )
        elif kind == "SparkListenerSQLAdaptiveExecutionUpdate":
            if e["executionId"] in self.executions:
                self.executions[e["executionId"]].plan = e["sparkPlanInfo"]
        elif kind == "SparkListenerSQLExecutionEnd":
            if e["executionId"] in self.executions:
                self.executions[e["executionId"]].end_ms = e["time"]
        elif kind == "SparkListenerDriverAccumUpdates":
            for acc, value in e["accumUpdates"]:
                self.updates.setdefault(acc, []).append(int(value))
        elif kind == "SparkListenerJobStart":
            eid = (e.get("Properties") or {}).get("spark.sql.execution.id")
            if eid is not None:
                for stage in e["Stage IDs"]:
                    stage_exec[stage] = int(eid)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if "Submission Time" in info and "Completion Time" in info:
                self.stage_times[info["Stage ID"]] = (
                    info["Stage Name"], info["Submission Time"], info["Completion Time"]
                )
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            read = m.get("Shuffle Read Metrics") or {}
            self.tasks.append(
                Task(
                    e["Stage ID"],
                    e["Task End Reason"]["Reason"] == "Success",
                    m.get("Executor Run Time", 0),
                    m.get("Executor CPU Time", 0),
                    m.get("JVM GC Time", 0),
                    read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0),
                )
            )
            for acc in e["Task Info"].get("Accumulables", []):
                if "Update" in acc and str(acc["Update"]).lstrip("-").isdigit():
                    self.updates.setdefault(acc["ID"], []).append(int(acc["Update"]))

    def executions_between(self, start_ms: float, end_ms: float) -> list[int]:
        return sorted(
            eid for eid, x in self.executions.items() if start_ms <= x.start_ms <= end_ms
        )

    def spans(self, span_id: str, start_ms: float, end_ms: float, eids: list[int]) -> list[dict]:
        """The job span, one child span per SQL execution, one grandchild per
        stage; all carry the job span's id in ``job``."""
        out = [{"id": span_id, "job": span_id, "name": span_id, "parent": None,
                "start_ms": start_ms, "end_ms": end_ms}]
        for eid in eids:
            x = self.executions[eid]
            sid = f"{span_id}/sql-{eid}"
            out.append({"id": sid, "job": span_id, "name": x.description[:120], "parent": span_id,
                        "start_ms": x.start_ms, "end_ms": x.end_ms})
            for stage in sorted(x.stages):
                if stage in self.stage_times:
                    sname, s0, s1 = self.stage_times[stage]
                    out.append({"id": f"{sid}/stage-{stage}", "job": span_id, "name": sname[:120],
                                "parent": sid, "start_ms": s0, "end_ms": s1})
        return out

    def layer_metrics(self, eids: list[int], input_rows: int) -> dict[str, float]:
        """Roll the plan-node metrics of the executions ``eids`` up into layers."""
        acc = _Acc(self.updates)
        stages = set()
        for eid in eids:
            _walk(self.executions[eid].plan, acc)
            stages.update(self.executions[eid].stages)
        tasks = [t for t in self.tasks if t.stage in stages]
        m = acc.totals
        parse_in, parse_out = m["parse.rows_in"], m["parse.rows_out"]
        out = {k: m.get(k, 0.0) for k in LAYER_KEYS}
        out.update(
            {
                "scan.rows_per_input_row": m["scan.rows"] / input_rows,
                "tokens.rows_per_input_row": m["tokens.rows"] / input_rows,
                "parse.keep_ratio": parse_out / parse_in if parse_in else 0.0,
                "routing.fanout": m["routing.rows_out"] / m["enrich.rows_out"] if m["enrich.rows_out"] else 0.0,
                "aggregate.partition_skew": _skew(tasks),
                "aggregate.hash_probes": statistics.fmean(acc.probes) if acc.probes else 0.0,
                "checkpoint.units_written": float(acc.writes),
                "session.sql_executions": float(len(eids)),
                "session.tasks": float(len(tasks)),
                "session.failed_tasks": float(sum(not t.ok for t in tasks)),
                "session.executor_run_s": sum(t.run_ms for t in tasks) / 1e3,
                "session.executor_cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
                "session.gc_s": sum(t.gc_ms for t in tasks) / 1e3,
            }
        )
        return out


def _skew(tasks: list[Task]) -> float:
    """max/median shuffle bytes read per reduce task, in the stage that read most."""
    by_stage: dict[int, list[int]] = {}
    for t in tasks:
        if t.ok and t.shuffle_read_bytes:
            by_stage.setdefault(t.stage, []).append(t.shuffle_read_bytes)
    if not by_stage:
        return 1.0
    sizes = max(by_stage.values(), key=sum)
    return max(sizes) / statistics.median(sizes)


class _Acc:
    def __init__(self, updates: dict[int, list[int]]):
        self.updates = updates
        self.totals = dict.fromkeys(
            ("scan.rows", "tokens.rows", "parse.rows_in", "parse.rows_out", "enrich.rows_out", "routing.rows_out"),
            0.0,
        )
        self.probes: list[float] = []
        self.writes = 0

    def add(self, key: str, node: dict, *names: str) -> None:
        for metric in node["metrics"]:
            if metric["name"] in names:
                total = sum(self.updates.get(metric["accumulatorId"], ()))
                scale = {"timing": 1e-3, "nsTiming": 1e-9}.get(metric["metricType"], 1.0)
                self.totals[key] = self.totals.get(key, 0.0) + total * scale


def _first_metered(node: dict) -> dict:
    """The nearest node at or below ``node`` that counts its output rows."""
    while not any(m["name"] == ROWS for m in node["metrics"]) and len(node["children"]) == 1:
        node = node["children"][0]
    return node


def _is_parse_filter(node: dict) -> bool:
    return node["nodeName"] == "Filter" and _first_metered(node["children"][0])["nodeName"] in PYTHON_NODES


def _codegen_body(node: dict):
    """Operators fused into one WholeStageCodegen node, plus the first node past
    each InputAdapter (the stage's input)."""
    todo = list(node["children"])
    while todo:
        n = todo.pop()
        yield n
        if n["nodeName"] != "InputAdapter":
            todo.extend(n["children"])
        else:
            yield from n["children"]


def _walk(node: dict, acc: _Acc) -> None:
    name = node["nodeName"]
    if name.startswith("Scan parquet"):
        acc.add("scan.rows", node, ROWS)
        acc.add("scan.s", node, "scan time")
        acc.add("scan.bytes", node, "size of files read")
    elif name in PYTHON_NODES:
        acc.add("tokens.rows", node, ROWS)
        acc.add("tokens.python_run_s", node, "time to run Python workers")
        acc.add("tokens.python_init_s", node, "time to start Python workers", "time to initialize Python workers")
        acc.add("tokens.bytes_to_python", node, "data sent to Python workers")
        acc.add("tokens.bytes_from_python", node, "data returned from Python workers")
    elif _is_parse_filter(node):
        acc.add("parse.rows_out", node, ROWS)
        acc.add("parse.rows_in", _first_metered(node["children"][0]), ROWS)
    elif name.startswith("WholeStageCodegen") and any(_is_parse_filter(n) for n in _codegen_body(node)):
        acc.add("parse.codegen_s", node, "duration")
    elif name == "BroadcastHashJoin":
        acc.add("enrich.rows_out", node, ROWS)
    elif name == "BroadcastExchange":
        acc.add("enrich.broadcast_bytes", node, "data size")
        acc.add("enrich.broadcast_s", node, "time to collect", "time to build", "time to broadcast")
    elif name == "Generate":
        acc.add("routing.rows_out", node, ROWS)
    elif name == "Exchange":
        acc.add("aggregate.shuffle_bytes", node, "shuffle bytes written")
        acc.add("aggregate.shuffle_records", node, "shuffle records written")
        acc.add("aggregate.shuffle_write_s", node, "shuffle write time")
    elif name == "HashAggregate":
        acc.add("aggregate.build_s", node, "time in aggregation build")
        for metric in node["metrics"]:
            if metric["name"] == "avg hash probes per key":
                # average metrics are stored per task in tenths
                acc.probes += [v / 10 for v in acc.updates.get(metric["accumulatorId"], ()) if v > 0]
    elif "InsertIntoHadoopFsRelationCommand" in name:
        acc.writes += 1
        acc.add("checkpoint.rows_written", node, ROWS)
        acc.add("checkpoint.bytes_written", node, "written output")
        acc.add("checkpoint.commit_s", node, "task commit time", "job commit time")
    for child in node["children"]:
        _walk(child, acc)
