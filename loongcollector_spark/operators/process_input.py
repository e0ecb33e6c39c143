"""metric_process_v2 — per-process metric derivation (plugins/input/process).

Reference semantics (studied, not ported): the /proc walking is agent I/O;
the CONTENTFUL part (input_process.go:86-273 + input_process_cache_linux.go):

- regex gate (:128-157): with ProcessNamesRegex configured, keep processes
  whose exe OR cmdline matches any pattern (the lastProcesses cache
  shortcut only skips re-checking processes that already passed — same
  selection semantics);
- FetchCoreCount > 1 (:151-153): a process emits only from its second
  observation (the CPU rates need a previous /proc/pid/stat);
- cpuPercentage (cache_linux.go:190-197): 100·Δ(utime[+stime])/userHZ/Δt
  seconds with userHZ = 100;
- threshold selection (:159-186): CPU-threshold matches first (list
  order), then RSS-threshold matches not already selected;
- TopN selection: TopNCPU by falling TotalPercentage then TopNMem by
  falling Rss appended (first min(Max, n, TopN) candidates considered,
  already-selected skipped) until MaxProcessCount; with no TopN the
  threshold list truncates at MaxProcessCount;
- emission (:221-272): process_cpu_{percent,stime_percent,utime_percent} +
  process_mem_{rss,swap,vsz,data} always; threads/fds/net/io families
  behind their flags; labels = common + pid + comm truncated to
  maxLabelLength (cache_linux.go:145-160).

Documented divergences: Go's sort.Slice is unstable and the process list
order is /proc enumeration order — both nondeterministic at ties; here
every ordering tiebreaks by pid.

Table model: one process snapshot per (host, ts, pid) row; deltas via a
(host, pid) lag window, selection via per-(host, ts) rank windows — two
host-keyed shuffles, no driver loops.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Mapping, Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from .base import Operator
from .otel import labels_str
from .skywalking import _metric_rows_to_events

USER_HZ = 100.0

PROC_SCHEMA_HINT = (
    "hostname string, ip string, ts_ms long, pid int, comm string, exe string, "
    "cmdline string, utime long, stime long, "
    "rss long, swap long, vsz long, data long, "
    "threads long, fds long, "
    "net struct<in_bytes:long,in_packet:long,out_bytes:long,out_packet:long>, "
    "io struct<read_count:long,read_bytes:long,write_count:long,write_bytes:long>"
)

_ROW_T = "array<struct<name:string,labels:string,value:double>>"


def _r(name: str, labels, value) -> F.Column:
    return F.struct(
        F.lit(name).alias("name"), labels.alias("labels"),
        value.cast("double").alias("value"),
    )


@dataclass
class ProcessMetrics(Operator):
    """metric_process_v2 over a per-process snapshot table
    (``PROC_SCHEMA_HINT``)."""

    process_names_regex: Sequence[str] = ()
    max_process_count: int = 100
    top_n_cpu: int = 0
    top_n_mem: int = 0
    min_cpu_limit_percent: float = 0.0
    min_memory_limit_kb: int = 0
    thread: bool = False
    open_fd: bool = False
    net_io: bool = False
    io: bool = False
    max_label_length: int = 60
    labels: Mapping[str, str] = field(default_factory=dict)

    def apply(self, df: DataFrame) -> DataFrame:
        if self.process_names_regex:
            cond = F.lit(False)
            for rx in self.process_names_regex:
                cond = cond | F.coalesce(F.col("exe"), F.lit("")).rlike(rx) | F.coalesce(
                    F.col("cmdline"), F.lit("")
                ).rlike(rx)
            df = df.where(cond)

        wpid = Window.partitionBy("hostname", "pid").orderBy("ts_ms")
        df = df.select(
            "*",
            F.lag("ts_ms").over(wpid).alias("__p_ts__"),
            F.lag("utime").over(wpid).alias("__p_ut__"),
            F.lag("stime").over(wpid).alias("__p_st__"),
        ).where(F.col("__p_ts__").isNotNull())  # fetchCoreCount > 1

        dt = (F.col("ts_ms") - F.col("__p_ts__")) / F.lit(1000.0)
        cpu_t = (
            F.lit(100.0)
            * (F.col("utime") + F.col("stime") - F.col("__p_ut__") - F.col("__p_st__"))
            / F.lit(USER_HZ) / dt
        )
        cpu_s = F.lit(100.0) * (F.col("stime") - F.col("__p_st__")) / F.lit(USER_HZ) / dt
        cpu_u = F.lit(100.0) * (F.col("utime") - F.col("__p_ut__")) / F.lit(USER_HZ) / dt
        df = df.withColumn("__cpu_t__", cpu_t).withColumn("__cpu_s__", cpu_s).withColumn(
            "__cpu_u__", cpu_u
        )

        cpu_ok = F.col("__cpu_t__") >= F.lit(self.min_cpu_limit_percent)
        mem_ok = F.col("rss") >= F.lit(self.min_memory_limit_kb * 1024)
        df = df.where(cpu_ok | mem_ok).withColumn("__cpu_ok__", cpu_ok)

        wr = Window.partitionBy("hostname", "ts_ms")
        if self.top_n_cpu <= 0 and self.top_n_mem <= 0:
            # threshold list order: CPU matches first, then the mem adds
            rn = F.row_number().over(
                wr.orderBy(F.col("__cpu_ok__").desc(), "pid")
            )
            df = df.withColumn("__rn__", rn).where(
                F.col("__rn__") <= self.max_process_count
            )
        else:
            df = df.withColumn("__n__", F.count(F.lit(1)).over(wr))
            df = df.withColumn(
                "__rc__", F.row_number().over(wr.orderBy(F.col("__cpu_t__").desc(), "pid"))
            )
            if self.top_n_cpu > 0:
                cpu_take = F.least(
                    F.lit(min(self.max_process_count, self.top_n_cpu)), F.col("__n__")
                )
            else:
                cpu_take = F.lit(0)
            df = df.withColumn("__ct__", cpu_take)
            keep = F.col("__rc__") <= F.col("__ct__")
            if self.top_n_mem > 0:
                df = df.withColumn(
                    "__rm__", F.row_number().over(wr.orderBy(F.col("rss").desc(), "pid"))
                )
                mem_take = F.least(
                    F.lit(min(self.max_process_count, self.top_n_mem)), F.col("__n__")
                )
                df = df.withColumn(
                    "__cand__", (F.col("__rm__") <= mem_take) & ~(F.col("__rc__") <= F.col("__ct__"))
                )
                df = df.withColumn(
                    "__arn__",
                    F.when(
                        F.col("__cand__"),
                        F.row_number().over(
                            Window.partitionBy("hostname", "ts_ms", "__cand__").orderBy("__rm__")
                        ),
                    ),
                )
                keep = keep | (
                    F.col("__cand__")
                    & ((F.col("__ct__") + F.col("__arn__")) <= F.lit(self.max_process_count))
                )
            df = df.where(keep)

        comm = F.substring(F.col("comm"), 1, self.max_label_length)
        lbl = labels_str(
            F.array(
                F.struct(F.lit("hostname").alias("k"), F.col("hostname").alias("v")),
                F.struct(F.lit("ip").alias("k"), F.col("ip").alias("v")),
                *[
                    F.struct(F.lit(k).alias("k"), F.lit(v).alias("v"))
                    for k, v in self.labels.items()
                ],
                F.struct(F.lit("pid").alias("k"), F.col("pid").cast("string").alias("v")),
                F.struct(F.lit("comm").alias("k"), comm.alias("v")),
            )
        )
        rows = [
            _r("process_cpu_percent", lbl, F.col("__cpu_t__")),
            _r("process_cpu_stime_percent", lbl, F.col("__cpu_s__")),
            _r("process_cpu_utime_percent", lbl, F.col("__cpu_u__")),
            _r("process_mem_rss", lbl, F.col("rss")),
            _r("process_mem_swap", lbl, F.col("swap")),
            _r("process_mem_vsz", lbl, F.col("vsz")),
            _r("process_mem_data", lbl, F.col("data")),
        ]
        if self.thread:
            rows.append(_r("process_threads", lbl, F.col("threads")))
        if self.open_fd:
            rows.append(_r("process_fds", lbl, F.col("fds")))
        if self.net_io:
            net = F.col("net")
            rows += [
                _r("process_net_in_bytes", lbl, net.getField("in_bytes")),
                _r("process_net_in_packet", lbl, net.getField("in_packet")),
                _r("process_net_out_bytes", lbl, net.getField("out_bytes")),
                _r("process_net_out_packet", lbl, net.getField("out_packet")),
            ]
        if self.io:
            io = F.col("io")
            rows += [
                _r("process_read_bytes", lbl, io.getField("read_bytes")),
                _r("process_write_bytes", lbl, io.getField("write_bytes")),
                _r("process_read_count", lbl, io.getField("read_count")),
                _r("process_write_count", lbl, io.getField("write_count")),
            ]
        return _metric_rows_to_events(
            df, ["hostname", "ts_ms", "pid"],
            F.array(*rows).cast(_ROW_T),
            (F.col("ts_ms") * F.lit(1_000_000)).cast("long"),
        )
