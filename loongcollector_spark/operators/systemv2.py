"""metric_system_v2 — host metric derivation (plugins/input/systemv2).

Reference semantics (studied, not ported): the gopsutil/procfs READS are
agent-side I/O (scope boundary); the CONTENTFUL part is the derivation
from successive raw snapshots to the emitted metric-log rows
(input_system_v2.go:111-372 + input_system_linux.go CollectDiskUsage):

- core: system_load1/5/15 + system_boot_time (:111-126);
- cpu: cpu_count, and with CPUPercent the 10 delta-based *_util rates —
  busy = guest_nice+guest+nice+softirq+irq+user+system, total = busy+idle+
  iowait+steal, each rate = 100·Δfield/Δtotal·cpuShareFactor where the
  factor is ncpus/(SIGMA_CPU_REQUEST/1000) when the env is a positive int
  (:128-176); first snapshot emits no rates;
- mem: mem_util/cache/free/available/used/total + mem_swap_util (:178-194);
- disk usage (linux, /proc/1/mounts): per-mount
  disk_space_usage/_inode_usage/_space_used/_space_total/_inode_total/
  _inode_used with path/device/fs_type labels, fs-type and path exclude
  regexes, \\040/\\011 mount unescapes;
- disk io: per-device deltas vs the previous snapshot (only devices seen
  in both), rates /Δt-seconds — disk_rbps/wbps/riops/wiops, latency =
  Δtime/Δcount (NaN when no ops), disk_util = Δio_time·100/1000/Δt; plus a
  synthetic "total" device summing NON-partition devices (trailing-digit
  names excluded), which skips disk_util (:196-263);
- net: per-interface deltas (devices seen in both) net_in/out/in_pkt/
  out_pkt rates + drop/err utils over the packet total (skipped when the
  packet delta is 0), plus a "total" interface summed over matched ones
  (:265-336);
- protocol: tcp InSegs/OutSegs/RetransSegs deltas + retran_util (0 when
  ΔOutSegs ≤ 0) (:338-373).

Each row renders through the NewMetricLog contract (__name__/
__time_nano__/__labels__/__value__, strconv 'g' values, '#$#'/'|' label
string sorted by key) — reusing the skywalking emit helper.

Table model: one raw snapshot per (host, ts) row; the previous snapshot
arrives via ONE lag window keyed by host (a single host-keyed shuffle —
the natural partitioning for host metrics at fleet scale). Per-device
matching joins the exploded device arrays through a name-keyed map lookup
inside the row — no extra shuffle.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Mapping

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from .base import Operator
from .otel import labels_str
from .skywalking import _metric_rows_to_events

SNAPSHOT_SCHEMA_HINT = (
    "hostname string, ip string, ts_ms long, "
    "load struct<load1:double,load5:double,load15:double>, boot_time long, "
    "ncpus int, cpu_share_request int, "
    "cpu struct<user:double,system:double,idle:double,nice:double,iowait:double,"
    "irq:double,softirq:double,steal:double,guest:double,guest_nice:double>, "
    "mem struct<used_percent:double,cached:double,free:double,available:double,"
    "used:double,total:double>, swap_used_percent double, "
    "mounts array<struct<device:string,path:string,fs_type:string,"
    "used_percent:double,inodes_used_percent:double,used:long,total:long,"
    "inodes_total:long,inodes_used:long>>, "
    "disks array<struct<name:string,read_bytes:long,write_bytes:long,"
    "read_count:long,write_count:long,read_time:long,write_time:long,io_time:long>>, "
    "nets array<struct<name:string,bytes_recv:long,bytes_sent:long,"
    "packets_recv:long,packets_sent:long,errin:long,errout:long,dropin:long,"
    "dropout:long>>, "
    "tcp struct<in_segs:long,out_segs:long,retrans_segs:long>"
)

_ROW_T = "array<struct<name:string,labels:string,value:double>>"

# default exclude regexes (input_system_v2.go:408-409), RE2-compatible
DEFAULT_EXCLUDE_DISK_PATH = r"^/(dev|proc|sys|var/lib/docker/.+|var/lib/kubelet/pods/.+)($|/)"
DEFAULT_EXCLUDE_DISK_FS_TYPE = (
    r"^(autofs|binfmt_misc|cgroup|configfs|debugfs|devpts|devtmpfs|fusectl|"
    r"hugetlbfs|mqueue|overlay|proc|procfs|pstore|rpc_pipefs|securityfs|sysfs|tracefs)$"
)


def _r(name, labels: Column, value: Column) -> Column:
    n = F.lit(name) if isinstance(name, str) else name
    return F.struct(n.alias("name"), labels.alias("labels"), value.cast("double").alias("value"))


@dataclass
class SystemV2Metrics(Operator):
    """metric_system_v2 over a snapshot table (``SNAPSHOT_SCHEMA_HINT``)."""

    cpu: bool = True
    cpu_percent: bool = True
    mem: bool = True
    disk: bool = True
    net: bool = True
    protocol: bool = True
    labels: Mapping[str, str] = field(default_factory=dict)
    exclude_disk_path: str = DEFAULT_EXCLUDE_DISK_PATH
    exclude_disk_fs_type: str = DEFAULT_EXCLUDE_DISK_FS_TYPE

    def apply(self, df: DataFrame) -> DataFrame:
        w = Window.partitionBy("hostname").orderBy("ts_ms")
        prev_cols = {
            c: F.lag(c).over(w).alias(f"__p_{c}__")
            for c in ("ts_ms", "cpu", "disks", "nets", "tcp")
        }
        df = df.select("*", *prev_cols.values())

        common_entries = F.array(
            F.struct(F.lit("hostname").alias("k"), F.col("hostname").alias("v")),
            F.struct(F.lit("ip").alias("k"), F.col("ip").alias("v")),
            *[
                F.struct(F.lit(k).alias("k"), F.lit(v).alias("v"))
                for k, v in self.labels.items()
            ],
        )
        common = labels_str(common_entries)

        def with_label(k: str, v: Column) -> Column:
            return labels_str(
                F.concat(
                    common_entries,
                    F.array(F.struct(F.lit(k).alias("k"), v.alias("v"))),
                )
            )

        empty = F.expr(f"cast(array() as {_ROW_T})")
        rows: list[Column] = []

        # --- core --------------------------------------------------------
        load = F.col("load")
        rows.append(
            F.when(
                load.isNotNull(),
                F.array(
                    _r("system_load1", common, load.getField("load1")),
                    _r("system_load5", common, load.getField("load5")),
                    _r("system_load15", common, load.getField("load15")),
                ).cast(_ROW_T),
            ).otherwise(empty)
        )
        rows.append(F.array(_r("system_boot_time", common, F.col("boot_time"))).cast(_ROW_T))

        # --- cpu ---------------------------------------------------------
        if self.cpu:
            rows.append(F.array(_r("cpu_count", common, F.col("ncpus"))).cast(_ROW_T))
            if self.cpu_percent:
                c, p = F.col("cpu"), F.col("__p_cpu__")

                def busy(x: Column) -> Column:
                    return (
                        x.getField("guest_nice") + x.getField("guest") + x.getField("nice")
                        + x.getField("softirq") + x.getField("irq") + x.getField("user")
                        + x.getField("system")
                    )

                def total(x: Column) -> Column:
                    return busy(x) + x.getField("idle") + x.getField("iowait") + x.getField("steal")

                share = F.when(
                    (F.coalesce(F.col("cpu_share_request"), F.lit(0)) > 0)
                    & (F.col("ncpus") > 0),
                    F.col("ncpus") / (F.col("cpu_share_request") / F.lit(1000.0)),
                ).otherwise(F.lit(1.0))
                dt = total(c) - total(p)
                # Go's exact op order: 100*Δ/Δtotal*factor (float parity)
                scale = lambda d: F.lit(100.0) * d / dt * share  # noqa: E731
                utils = [("cpu_util", busy(c) - busy(p))] + [
                    (f"cpu_{m}_util", c.getField(g) - p.getField(g))
                    for m, g in (
                        ("wait", "iowait"), ("sys", "system"), ("user", "user"),
                        ("irq", "irq"), ("softirq", "softirq"), ("nice", "nice"),
                        ("steal", "steal"), ("guest", "guest"),
                        ("guestnice", "guest_nice"),
                    )
                ]
                rows.append(
                    F.when(
                        c.isNotNull() & p.isNotNull() & (dt > 0),
                        F.array(*[_r(n, common, scale(d)) for n, d in utils]).cast(_ROW_T),
                    ).otherwise(empty)
                )

        # --- mem ---------------------------------------------------------
        if self.mem:
            m = F.col("mem")
            rows.append(
                F.when(
                    m.isNotNull(),
                    F.array(
                        _r("mem_util", common, m.getField("used_percent")),
                        _r("mem_cache", common, m.getField("cached")),
                        _r("mem_free", common, m.getField("free")),
                        _r("mem_available", common, m.getField("available")),
                        _r("mem_used", common, m.getField("used")),
                        _r("mem_total", common, m.getField("total")),
                    ).cast(_ROW_T),
                ).otherwise(empty)
            )
            rows.append(
                F.when(
                    F.col("swap_used_percent").isNotNull(),
                    F.array(_r("mem_swap_util", common, F.col("swap_used_percent"))).cast(_ROW_T),
                ).otherwise(empty)
            )

        # --- disk usage (mounts) ----------------------------------------
        if self.disk:
            unescape = lambda s: F.replace(  # noqa: E731
                F.replace(s, F.lit(r"\040"), F.lit(" ")), F.lit(r"\011"), F.lit("\t")
            )
            mounts = F.filter(
                F.coalesce(F.col("mounts"), F.expr("array()").cast(
                    "array<struct<device:string,path:string,fs_type:string,"
                    "used_percent:double,inodes_used_percent:double,used:long,"
                    "total:long,inodes_total:long,inodes_used:long>>")),
                lambda mt: ~mt.getField("fs_type").rlike(self.exclude_disk_fs_type)
                & ~unescape(mt.getField("path")).rlike(self.exclude_disk_path),
            )
            mlabels = lambda mt: labels_str(  # noqa: E731
                F.concat(
                    common_entries,
                    F.array(
                        F.struct(F.lit("path").alias("k"), unescape(mt.getField("path")).alias("v")),
                        F.struct(F.lit("device").alias("k"), mt.getField("device").alias("v")),
                        F.struct(F.lit("fs_type").alias("k"), mt.getField("fs_type").alias("v")),
                    ),
                )
            )
            rows.append(
                F.flatten(
                    F.transform(
                        mounts,
                        lambda mt: F.array(
                            _r("disk_space_usage", mlabels(mt), mt.getField("used_percent")),
                            _r("disk_inode_usage", mlabels(mt), mt.getField("inodes_used_percent")),
                            _r("disk_space_used", mlabels(mt), mt.getField("used")),
                            _r("disk_space_total", mlabels(mt), mt.getField("total")),
                            _r("disk_inode_total", mlabels(mt), mt.getField("inodes_total")),
                            _r("disk_inode_used", mlabels(mt), mt.getField("inodes_used")),
                        ),
                    )
                ).cast(_ROW_T)
            )

        # --- disk io deltas ---------------------------------------------
        dt_sec = (F.col("ts_ms") - F.col("__p_ts_ms__")) / F.lit(1000.0)
        if self.disk:
            disks = F.coalesce(F.col("disks"), F.expr("array()").cast(
                "array<struct<name:string,read_bytes:long,write_bytes:long,"
                "read_count:long,write_count:long,read_time:long,write_time:long,"
                "io_time:long>>"))
            pdisks = F.col("__p_disks__")

            def dsum(arr: Column, f: str) -> Column:
                # total over NON-partition devices (trailing digit excluded)
                return F.aggregate(
                    F.filter(
                        arr,
                        lambda d: (d.getField("name") != "")
                        & ~F.substring(d.getField("name"), -1, 1).rlike("[0-9]"),
                    ),
                    F.lit(0).cast("long"),
                    lambda a, d: a + d.getField(f),
                )

            def disk_rows(name: Column, cur, prv, with_util: bool) -> Column:
                lbl = with_label("disk", name)
                dr = (cur("read_count") - prv("read_count")).cast("double")
                dw = (cur("write_count") - prv("write_count")).cast("double")
                base = [
                    _r("disk_rbps", lbl, (cur("read_bytes") - prv("read_bytes")) / dt_sec),
                    _r("disk_wbps", lbl, (cur("write_bytes") - prv("write_bytes")) / dt_sec),
                    _r("disk_riops", lbl, dr / dt_sec),
                    _r("disk_wiops", lbl, dw / dt_sec),
                    _r("disk_rlatency", lbl,
                       F.when(dr > 0, (cur("read_time") - prv("read_time")) / dr)
                       .otherwise(F.lit(float("nan")))),
                    _r("disk_wlatency", lbl,
                       F.when(dw > 0, (cur("write_time") - prv("write_time")) / dw)
                       .otherwise(F.lit(float("nan")))),
                ]
                if with_util:
                    base.append(
                        _r("disk_util", lbl,
                           (cur("io_time") - prv("io_time")) * 100.0 / 1000.0 / dt_sec)
                    )
                return F.array(*base)

            total_rows = disk_rows(
                F.lit("total"),
                lambda f: dsum(disks, f),
                lambda f: dsum(pdisks, f),
                with_util=False,
            )
            pmap = F.map_from_entries(
                F.transform(pdisks, lambda d: F.struct(d.getField("name").alias("k"), d.alias("v")))
            )
            per_dev = F.flatten(
                F.transform(
                    F.filter(disks, lambda d: F.element_at(pmap, d.getField("name")).isNotNull()),
                    lambda d: disk_rows(
                        d.getField("name"),
                        lambda f: d.getField(f),
                        lambda f: F.element_at(pmap, d.getField("name")).getField(f),
                        with_util=True,
                    ),
                )
            )
            rows.append(
                F.when(
                    F.col("__p_ts_ms__").isNotNull() & pdisks.isNotNull(),
                    F.concat(total_rows, per_dev).cast(_ROW_T),
                ).otherwise(empty)
            )

        # --- net deltas --------------------------------------------------
        if self.net:
            nets = F.coalesce(F.col("nets"), F.expr("array()").cast(
                "array<struct<name:string,bytes_recv:long,bytes_sent:long,"
                "packets_recv:long,packets_sent:long,errin:long,errout:long,"
                "dropin:long,dropout:long>>"))
            pnets = F.col("__p_nets__")
            npmap = F.map_from_entries(
                F.transform(pnets, lambda d: F.struct(d.getField("name").alias("k"), d.alias("v")))
            )
            matched = F.filter(nets, lambda d: F.element_at(npmap, d.getField("name")).isNotNull())

            def net_rows(name: Column, cur, prv) -> Column:
                lbl = with_label("interface", name)
                d_in_p = (cur("packets_recv") - prv("packets_recv")).cast("double")
                d_out_p = (cur("packets_sent") - prv("packets_sent")).cast("double")
                d_err = (cur("errin") - prv("errin") + cur("errout") - prv("errout")).cast("double")
                d_drop = (cur("dropin") - prv("dropin") + cur("dropout") - prv("dropout")).cast("double")
                d_pkts = d_in_p + d_out_p
                base = F.array(
                    _r("net_in", lbl, (cur("bytes_recv") - prv("bytes_recv")) / dt_sec),
                    _r("net_out", lbl, (cur("bytes_sent") - prv("bytes_sent")) / dt_sec),
                    _r("net_in_pkt", lbl, d_in_p / dt_sec),
                    _r("net_out_pkt", lbl, d_out_p / dt_sec),
                )
                return F.concat(
                    base,
                    F.when(
                        d_pkts != 0,
                        F.array(
                            _r("net_drop_util", lbl, F.lit(100.0) * d_drop / d_pkts),
                            _r("net_err_util", lbl, F.lit(100.0) * d_err / d_pkts),
                        ),
                    ).otherwise(F.expr(f"cast(array() as {_ROW_T})")),
                )

            def nsum(arr: Column, f: str) -> Column:
                return F.aggregate(arr, F.lit(0).cast("long"), lambda a, d: a + d.getField(f))

            pmatched = F.filter(
                pnets,
                lambda d: F.exists(nets, lambda n: n.getField("name") == d.getField("name")),
            )
            per_if = F.flatten(
                F.transform(
                    matched,
                    lambda d: net_rows(
                        d.getField("name"),
                        lambda f: d.getField(f),
                        lambda f: F.element_at(npmap, d.getField("name")).getField(f),
                    ),
                )
            )
            total_if = F.when(
                F.size(matched) > 0,
                net_rows(F.lit("total"), lambda f: nsum(matched, f), lambda f: nsum(pmatched, f)),
            ).otherwise(F.expr(f"cast(array() as {_ROW_T})"))
            rows.append(
                F.when(
                    F.col("__p_ts_ms__").isNotNull() & pnets.isNotNull(),
                    F.concat(per_if, total_if).cast(_ROW_T),
                ).otherwise(empty)
            )

        # --- protocol (tcp) ----------------------------------------------
        if self.protocol:
            t, pt = F.col("tcp"), F.col("__p_tcp__")
            d_out = (t.getField("out_segs") - pt.getField("out_segs")).cast("double")
            d_in = (t.getField("in_segs") - pt.getField("in_segs")).cast("double")
            d_re = (t.getField("retrans_segs") - pt.getField("retrans_segs")).cast("double")
            rows.append(
                F.when(
                    t.isNotNull() & pt.isNotNull(),
                    F.array(
                        _r("protocol_tcp_outsegs", common, d_out),
                        _r("protocol_tcp_insegs", common, d_in),
                        _r("protocol_tcp_retran_segs", common, d_re),
                        _r("protocol_tcp_retran_util", common,
                           F.when(d_out <= 0, F.lit(0.0)).otherwise(F.lit(100.0) * d_re / d_out)),
                    ).cast(_ROW_T),
                ).otherwise(empty)
            )

        all_rows = F.concat(*rows)
        return _metric_rows_to_events(
            df, ["hostname", "ts_ms"], all_rows, (F.col("ts_ms") * F.lit(1_000_000)).cast("long")
        )


@dataclass
class GpuMetrics(Operator):
    """service_gpu_metric (plugins/input/gpu/input_gpu_metric.go:88-120):
    one NVML device reading per row (device int, power_usage_uw,
    temperature, gpu_util, memory_util, used_memory_bytes,
    total_memory_bytes) → the fields map with the reference's unit
    conversions (µW→W integer division, bytes→MiB). The NVML session is
    agent transport; zero shuffle."""

    def apply(self, df: DataFrame) -> DataFrame:
        from .base import FIELDS

        passthrough = [
            c for c in df.columns
            if c not in ("device", "power_usage_uw", "temperature", "gpu_util",
                         "memory_util", "used_memory_bytes", "total_memory_bytes")
        ]
        mib = 1024 * 1024
        used = (F.col("used_memory_bytes") / mib).cast("long")
        total = (F.col("total_memory_bytes") / mib).cast("long")
        free = ((F.col("total_memory_bytes") - F.col("used_memory_bytes")) / mib).cast("long")
        return df.select(
            *passthrough,
            F.create_map(
                F.lit("metric_type"), F.lit("gpu"),
                F.lit("device"), F.col("device").cast("string"),
                F.lit("gpu_power_usage"), (F.col("power_usage_uw") / 1000).cast("long").cast("string"),
                F.lit("gpu_temperature"), F.col("temperature").cast("string"),
                F.lit("gpu_util"), F.col("gpu_util").cast("string"),
                F.lit("gpu_memory_util"), F.col("memory_util").cast("string"),
                F.lit("gpu_used_memory"), used.cast("string"),
                F.lit("gpu_total_memory"), total.cast("string"),
                F.lit("gpu_free_memory"), free.cast("string"),
            ).alias(FIELDS),
        )
