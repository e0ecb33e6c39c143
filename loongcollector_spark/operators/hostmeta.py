"""Host metadata entity conversion — metric_meta_host (input_host_meta).

Reference semantics (studied, not ported):
- plugins/input/hostmeta/input_host_meta.go:93-203 (Collect → MetaNode per
  host and per process; host node labels = hostname/ip/boot_time/os/…/
  host_id + user Labels; host id = HostID+"_"+ip; process node id =
  hostname_ip_PROCESS_pid_startTime, labels = {hostname, ip}+Labels,
  parent = "HOST:<hostID>:<hostname>"; formatCmd truncates >8000-char
  command lines to 4000+" ... "+4000).
- plugins/input/hostmeta/host_meta_collect.go:37-116 (CPU/MEM/DISK/NET
  attribute categories and their key sets).
- plugins/input/hostmeta/input_host_meta_linux.go:31-83 (process filters:
  PID 0, empty cmdline, ProcessNamesRegex on cmd OR exe, RSS=0 skip;
  attributes pid/command/exe/name/ppid).
- pkg/helper/meta_helper.go:98-132 (makeMetaLog: the 5-key log
  id/type/attributes/labels/parents with "{}"/"[]" empties).

Table model: the gopsutil/procfs collection itself is agent-side I/O (scope
boundary); the table analog takes one already-collected host (or process)
fact row per record and emits the exact MetaNode log rows. Everything is
pure Column expressions — zero Python in the hot path, no shuffle (a pure
per-row projection, the ideal 100 TB scan shape).

Divergence (documented): the reference marshals Attributes/Labels with
easyjson, whose map iteration order is Go-map-random — the reference's own
byte output is nondeterministic across runs. This port renders maps with
byte-sorted keys (the encoding/json canonical order) as the deterministic
choice; key sets and value renders match.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Mapping, Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from .convert import json_quote
from .gofmt import go_g
from .skywalking import _ent, go_map_json

HOST = "HOST"
PROCESS = "PROCESS"

#: host label keys read from host.InfoStat (input_host_meta.go:120-132)
HOST_INFO_LABELS = (
    ("boot_time", "boot_time"),
    ("os", "os"),
    ("platform", "platform"),
    ("platform_family", "platform_family"),
    ("platform_version", "platform_version"),
    ("kernel_version", "kernel_version"),
    ("kernel_arch", "kernel_arch"),
    ("virtualization_system", "virtualization_system"),
    ("virtualization_role", "virtualization_role"),
)

HOSTS_SCHEMA_HINT = (
    "hostname string, ip string, host_id string, boot_time long, os string, "
    "platform string, platform_family string, platform_version string, "
    "kernel_version string, kernel_arch string, virtualization_system string, "
    "virtualization_role string, "
    "cpu struct<processor_count:int,core_count:int,vendor_id:string,"
    "family:string,model:string,model_name:string,mhz:double,cache_size:int>, "
    "mem struct<mem_total:long,swap_total:long,vsz_total:long>, "
    "disk array<struct<device:string,opts:string,fstype:string,"
    "mount_point:string>>"
)


def _jnum(v: Column) -> Column:
    return v.cast("string")


def _obj(*pairs: tuple[str, Column]) -> Column:
    """JSON object literal with the given (sorted-by-caller) key order."""
    parts: list[Column] = [F.lit("{")]
    for i, (k, v) in enumerate(pairs):
        if i:
            parts.append(F.lit(","))
        parts.append(F.lit(f'"{k}":'))
        parts.append(v)
    parts.append(F.lit("}"))
    return F.concat(*parts)


def _host_id() -> Column:
    """getHostID (input_host_meta.go:175-181): HostID+"_"+ip; a NULL
    host_id models the host.Info() error path ("no_hostID"+"_"+ip)."""
    ip = F.coalesce(F.col("ip"), F.lit(""))
    return F.when(
        F.col("host_id").isNull(), F.concat(F.lit("no_hostID_"), ip)
    ).otherwise(F.concat(F.col("host_id"), F.lit("_"), ip))


@dataclass
class HostMetaConverter:
    """metric_meta_host table analog. ``cpu``/``memory``/``disk`` toggle the
    host attribute categories (the metaCollectFunc registration at
    input_host_meta.go:68-79); ``labels`` are the user's custom labels,
    merged into host labels and process labels alike;
    ``process_names_regex`` filters processes on cmd OR exe (empty list
    matches everything)."""

    cpu: bool = True
    memory: bool = True
    disk: bool = False
    labels: Mapping[str, str] = field(default_factory=dict)
    process_names_regex: Sequence[str] = ()

    def host_nodes(self, hosts: DataFrame, keep: Sequence[str] = ()) -> DataFrame:
        """One HOST MetaNode log per host fact row: (id, type, attributes,
        labels, parents)."""
        label_entries = [
            _ent("hostname", F.coalesce(F.col("hostname"), F.lit(""))),
            _ent("ip", F.coalesce(F.col("ip"), F.lit(""))),
            _ent("boot_time", F.coalesce(F.col("boot_time"), F.lit(0)).cast("string")),
        ]
        for label_key, col in HOST_INFO_LABELS[1:]:
            label_entries.append(
                _ent(label_key, F.coalesce(F.col(col), F.lit("")))
            )
        label_entries.append(_ent("host_id", F.coalesce(F.col("host_id"), F.lit(""))))
        for k, v in self.labels.items():
            label_entries.append(_ent(k, F.lit(v)))
        labels_json = go_map_json(F.array(*label_entries))

        cats: list[tuple[str, Column]] = []
        if self.cpu:
            c = F.col("cpu")
            cats.append((
                "CPU",
                _obj(
                    ("cache_size", _jnum(F.coalesce(c.getField("cache_size"), F.lit(0)))),
                    ("core_count", _jnum(F.coalesce(c.getField("core_count"), F.lit(0)))),
                    ("family", json_quote(F.coalesce(c.getField("family"), F.lit("")))),
                    ("mhz", go_g(F.coalesce(c.getField("mhz"), F.lit(0.0)))),
                    ("model", json_quote(F.coalesce(c.getField("model"), F.lit("")))),
                    ("model_name", json_quote(F.coalesce(c.getField("model_name"), F.lit("")))),
                    ("processor_count", _jnum(F.coalesce(c.getField("processor_count"), F.lit(0)))),
                    ("vendor_id", json_quote(F.coalesce(c.getField("vendor_id"), F.lit("")))),
                ),
            ))
        if self.disk:
            d = F.col("disk")
            disk_json = F.concat(
                F.lit("["),
                F.array_join(
                    F.transform(
                        F.coalesce(d, F.expr(
                            "CAST(array() AS array<struct<device:string,"
                            "opts:string,fstype:string,mount_point:string>>)"
                        )),
                        lambda p: _obj(
                            ("device", json_quote(F.coalesce(p.getField("device"), F.lit("")))),
                            ("fstype", json_quote(F.coalesce(p.getField("fstype"), F.lit("")))),
                            ("mount_point", json_quote(F.coalesce(p.getField("mount_point"), F.lit("")))),
                            ("opts", json_quote(F.coalesce(p.getField("opts"), F.lit("")))),
                        ),
                    ),
                    ",",
                ),
                F.lit("]"),
            )
            cats.append(("DISK", disk_json))
        if self.memory:
            m = F.col("mem")
            cats.append((
                "MEM",
                _obj(
                    ("mem_total", _jnum(F.coalesce(m.getField("mem_total"), F.lit(0)))),
                    ("swap_total", _jnum(F.coalesce(m.getField("swap_total"), F.lit(0)))),
                    ("vsz_total", _jnum(F.coalesce(m.getField("vsz_total"), F.lit(0)))),
                ),
            ))
        attributes_json = _obj(*cats) if cats else F.lit("{}")

        return hosts.select(
            *keep,
            _host_id().alias("id"),
            F.lit(HOST).alias("type"),
            attributes_json.alias("attributes"),
            labels_json.alias("labels"),
            F.lit("[]").alias("parents"),
        )

    def process_nodes(
        self, processes: DataFrame, keep: Sequence[str] = ()
    ) -> DataFrame:
        """One PROCESS MetaNode log per surviving process fact row.
        Expected columns: hostname, ip, host_id, pid, start_time, cmd, exe,
        comm, ppid, rss."""
        pid = F.coalesce(F.col("pid"), F.lit(0))
        cmd = F.coalesce(F.col("cmd"), F.lit(""))
        exe = F.coalesce(F.col("exe"), F.lit(""))
        rss = F.coalesce(F.col("rss"), F.lit(0))
        kept = processes.where(
            (pid != 0) & (F.length(cmd) > 0) & (rss != 0)
        )
        if self.process_names_regex:
            match = F.lit(False)
            for pattern in self.process_names_regex:
                match = match | cmd.rlike(pattern) | exe.rlike(pattern)
            kept = kept.where(match)

        node_id = F.concat_ws(
            "_",
            F.coalesce(F.col("hostname"), F.lit("")),
            F.coalesce(F.col("ip"), F.lit("")),
            F.lit(PROCESS),
            pid.cast("string"),
            F.coalesce(F.col("start_time"), F.lit(0)).cast("string"),
        )
        label_entries = [
            _ent("hostname", F.coalesce(F.col("hostname"), F.lit(""))),
            _ent("ip", F.coalesce(F.col("ip"), F.lit(""))),
        ]
        for k, v in self.labels.items():
            label_entries.append(_ent(k, F.lit(v)))
        labels_json = go_map_json(F.array(*label_entries))

        # formatCmd (input_host_meta.go:184-191)
        fmt_cmd = F.when(
            F.length(cmd) > 8000,
            F.concat(
                F.substring(cmd, 1, 4000),
                F.lit(" ... "),
                F.substring(cmd, -4000, 4000),
            ),
        ).otherwise(cmd)
        attributes_json = _obj(
            ("command", json_quote(fmt_cmd)),
            ("exe", json_quote(exe)),
            ("name", json_quote(F.coalesce(F.col("comm"), F.lit("")))),
            ("pid", _jnum(pid)),
            ("ppid", _jnum(F.coalesce(F.col("ppid"), F.lit(0)))),
        )
        parents_json = F.concat(
            F.lit("["),
            json_quote(
                F.concat(
                    F.lit(HOST + ":"),
                    _host_id(),
                    F.lit(":"),
                    F.coalesce(F.col("hostname"), F.lit("")),
                )
            ),
            F.lit("]"),
        )
        return kept.select(
            *keep,
            node_id.alias("id"),
            F.lit(PROCESS).alias("type"),
            attributes_json.alias("attributes"),
            labels_json.alias("labels"),
            parents_json.alias("parents"),
        )
