"""Kubernetes meta v1 — metric_meta_kubernetes (plugins/input/kubernetesmetav1).

Reference semantics (studied, not ported): the informer/lister machinery is
agent transport; the CONTENTFUL conversion is each collector's resource →
``helper.MetaNode`` attribute mapping plus the parent wiring, emitted as
the 5-key MetaNode log (id/type/attributes/labels/parents,
pkg/helper/meta_helper.go:98-132 — same contract as operators/hostmeta):

- kubernetes_collect_core.go — pods (restart-count roll-up, workload name
  regexes, volume-claim join, host_network "true", per-container
  container.N.* attrs), nodes (NodeInfo strings, Allocatable numbers,
  addresses.N.<Type> / taints.N dynamic keys, unschedulable), services
  (port render "P/Proto" | "P:NP/Proto", cluster ip/type/lb ip),
  namespaces, PVC (beta storage-class annotation precedence, first access
  mode), PV (claim ref, storage driver = the one non-nil source field),
  configmaps (immutable tri-state);
- kubernetes_collect_apps.go / _batch.go / _networking.go / _storage.go —
  deployment/daemonset/statefulset (NOTE the reference renders statefulset
  replica counts via strconv.Itoa → JSON STRINGS, deployment/daemonset as
  numbers — mirrored), job (start/completion times), cronjob (suspend,
  active count), ingress (lb ip join + rules [{host, paths
  ["svc:port:path"]}]), storageclass (provisioner);
- kubernetes_collect.go:190-293 — the parent graph: pods get their Node
  parent via the node-name mapping plus one parent per label-selector
  matcher (Deployment/DaemonSet/StatefulSet/Job/Service — and CronJob via
  the active-job chain) whose non-empty selector matches the pod labels,
  with the pod's ``addresses`` attribute consumed in the process; jobs get
  CronJob parents via active refs; services get Ingress parents via rule
  backends; addServiceReference derives service_reference_name/_type (one
  referent) or service_reference_type=multi_resources.

Table model: one fact row per live resource (the informer cache snapshot);
conversions are Column projections; the parent wiring is broadcast
equi-joins on namespace/name with a map-containment filter for selector
matches — the dims (workloads, services, nodes) are tiny next to pods, so
the pod scan stays shuffle-free.

Documented divergences (same policy as hostmeta/k8smeta):
- Attribute/label JSON renders with byte-sorted keys (the reference's
  easyjson map order is Go-map-random, nondeterministic run to run).
- Parent list order: Node first, then matchers sorted by (category, uid)
  — the reference's matcher-map iteration order is random. Consequently
  addServiceReference's "last parent wins" resolves deterministically
  here.
- addServiceReference keys its aggregation by service NAME (not uid), so
  same-named services in different namespaces merge — mirrored verbatim.
- Label selectors model ``matchLabels`` (set-based ``matchExpressions``
  are out of the table model; LabelSelectorAsSelector over matchLabels is
  exact containment, which the map-containment filter reproduces).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Mapping

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.functions import broadcast

from .convert import json_quote
from .skywalking import _ent

_ENT_T = "array<struct<k:string,v:string>>"


def extract_pod_workload_name(name: Column) -> Column:
    """ExtractPodWorkloadName (kubernetes_collect_core.go:37-48)."""
    dep = F.regexp_extract(name, r"^([\w\-]+)\-[0-9a-z]{9,10}\-[0-9a-z]{5}$", 1)
    st = F.regexp_extract(name, r"^([\w\-]+)\-[0-9a-z]{5}$", 1)
    return (
        F.when(F.coalesce(name, F.lit("")) == "", F.lit(""))
        .when(dep != "", dep)
        .when(st != "", st)
        .otherwise(name)
    )


def _sorted_obj(entries: Column) -> Column:
    """array<struct<k, v-rendered-json>> → '{"k":v,...}' byte-sorted keys."""
    rendered = F.transform(
        F.array_sort(F.filter(entries, lambda e: e.isNotNull())),
        lambda e: F.concat(json_quote(e.getField("k")), F.lit(":"), e.getField("v")),
    )
    return F.concat(F.lit("{"), F.array_join(rendered, ","), F.lit("}"))


def _js(v: Column) -> Column:
    return json_quote(v)


def _jn(v: Column) -> Column:
    return v.cast("long").cast("string")


def _jb(v: Column) -> Column:
    return F.when(v, F.lit("true")).otherwise(F.lit("false"))


def _opt(cond: Column, k: str, v: Column) -> Column:
    return F.when(cond, _ent(k, v))


def _labels_json(labels: Column, user: Mapping[str, str]) -> Column:
    from .skywalking import go_map_json

    ents = F.transform(
        F.map_entries(F.coalesce(labels, F.expr("map()").cast("map<string,string>"))),
        lambda e: _ent(e.getField("key"), e.getField("value")),
    )
    for k, v in user.items():  # transfer loop: user Labels overwrite
        ents = F.concat(ents, F.array(_ent(k, F.lit(v))))
    return go_map_json(ents)


def _parents_json(parr: Column) -> Column:
    return F.when(
        F.size(F.coalesce(parr, F.expr("array()").cast("array<string>"))) == 0,
        F.lit("[]"),
    ).otherwise(
        F.concat(
            F.lit("["),
            F.array_join(F.transform(parr, lambda p: json_quote(p)), ","),
            F.lit("]"),
        )
    )


def _common(df_name: Column, creation_ts: Column, resource_version: Column) -> list[Column]:
    """addCommonAttributes (kubernetes_collect.go:142-145)."""
    return [
        _ent("name", _js(df_name)),
        _ent("creation_time", _jn(creation_ts)),
        _ent("resource_version", _js(resource_version)),
    ]


@dataclass
class K8sMetaV1Converter:
    """Per-kind MetaNode log builders. Each takes a fact DataFrame with the
    documented columns and returns rows of (keep..., id, type, attributes,
    labels, parents)."""

    labels: Mapping[str, str] = field(default_factory=dict)
    disable_report_parents: bool = False

    # ------------------------------------------------------------------
    def _emit(
        self,
        df: DataFrame,
        keep: list[str],
        typ: str,
        attrs: list[Column],
        parents: Column | None = None,
    ) -> DataFrame:
        parr = parents if parents is not None else F.expr("array()").cast("array<string>")
        return df.select(
            *keep,
            F.col("uid").alias("id"),
            F.lit(typ).alias("type"),
            _sorted_obj(F.array(*attrs).cast(_ENT_T)).alias("attributes"),
            _labels_json(F.col("labels"), dict(self.labels)).alias("labels"),
            _parents_json(parr).alias("parents"),
        )

    # ------------------------------------------------------------------
    def matchers_frame(
        self,
        deployments: DataFrame | None = None,
        daemonsets: DataFrame | None = None,
        statefulsets: DataFrame | None = None,
        jobs: DataFrame | None = None,
        services: DataFrame | None = None,
        cronjobs: DataFrame | None = None,
    ) -> DataFrame | None:
        """The label-selector matcher table (namespace, category, uid, name,
        selector). Services contribute SelectorFromSet(spec.selector);
        cronjobs contribute their ACTIVE jobs' selectors under the CronJob
        category (addPodParents, kubernetes_collect.go:190-208)."""
        parts = []
        for df, cat in (
            (deployments, "Deployment"),
            (daemonsets, "DaemonSet"),
            (statefulsets, "StatefulSet"),
            (jobs, "Job"),
            (services, "Service"),
        ):
            if df is not None:
                sel = "selector"
                parts.append(
                    df.select(
                        "namespace",
                        F.lit(cat).alias("category"),
                        "uid",
                        "name",
                        F.col(sel).alias("selector"),
                    )
                )
        if cronjobs is not None and jobs is not None:
            refs = cronjobs.select(
                "namespace",
                F.col("uid").alias("cj_uid"),
                F.col("name").alias("cj_name"),
                F.explode(F.coalesce(F.col("active_refs"), F.expr("array()").cast("array<string>"))).alias("job_uid"),
            )
            jm = jobs.select(
                F.col("namespace").alias("jns"), F.col("uid").alias("job_uid"),
                F.col("selector").alias("selector"),
            )
            parts.append(
                refs.join(jm, ["job_uid"])
                .where(F.col("namespace") == F.col("jns"))
                .select(
                    "namespace",
                    F.lit("CronJob").alias("category"),
                    F.col("cj_uid").alias("uid"),
                    F.col("cj_name").alias("name"),
                    "selector",
                )
            )
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # ------------------------------------------------------------------
    def pod_nodes(
        self,
        pods: DataFrame,
        nodes: DataFrame | None = None,
        matchers: DataFrame | None = None,
        keep: list[str] = (),
    ) -> DataFrame:
        """collectPods (kubernetes_collect_core.go:51-95) + addPodParents.
        Columns: uid, name, namespace, labels map, phase, pod_ip, node_name,
        restart_counts array<int>, claim_names array<string> (null = no
        volumes), host_network boolean, containers array<struct<name,image>>,
        creation_ts, resource_version."""
        keep = list(keep)
        restarts = F.aggregate(
            F.coalesce(F.col("restart_counts"), F.expr("array()").cast("array<int>")),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        )
        containers = F.flatten(
            F.transform(
                F.coalesce(F.col("containers"), F.expr("array()").cast("array<struct<name:string,image:string>>")),
                lambda c, i: F.array(
                    F.struct(
                        F.concat(F.lit("container."), i.cast("string"), F.lit(".container_name")).alias("k"),
                        _js(c.getField("name")).alias("v"),
                    ),
                    F.struct(
                        F.concat(F.lit("container."), i.cast("string"), F.lit(".image_name")).alias("k"),
                        _js(c.getField("image")).alias("v"),
                    ),
                ),
            )
        )
        has_volumes = F.col("claim_names").isNotNull()
        base_attrs = F.concat(
            F.filter(
                F.array(
                    _ent("namespace", _js(F.col("namespace"))),
                    _ent("phase", _js(F.col("phase"))),
                    _ent("pod_ip", _js(F.col("pod_ip"))),
                    _ent("restart_count", restarts.cast("string")),
                    _ent("workload", _js(extract_pod_workload_name(F.col("name")))),
                    _opt(has_volumes, "volume_claim",
                         _js(F.array_join(F.col("claim_names"), ","))),
                    _opt(F.coalesce(F.col("host_network"), F.lit(False)), "host_network",
                         _js(F.lit("true"))),
                    *_common(F.col("name"), F.col("creation_ts"), F.col("resource_version")),
                ).cast(_ENT_T),
                lambda e: e.isNotNull(),
            ),
            containers,
        )

        if self.disable_report_parents:
            attrs = F.concat(
                base_attrs, F.array(_ent("addresses", _js(F.col("node_name"))))
            )
            return pods.select(
                *keep,
                F.col("uid").alias("id"),
                F.lit("Pod").alias("type"),
                _sorted_obj(attrs).alias("attributes"),
                _labels_json(F.col("labels"), dict(self.labels)).alias("labels"),
                F.lit("[]").alias("parents"),
            )

        cols = list(dict.fromkeys([*keep, "uid", "name", "namespace", "labels", "node_name"]))
        out = pods.select(*cols, base_attrs.alias("__attrs__"))
        if nodes is not None:
            nm = nodes.select(
                F.col("name").alias("node_name"), F.col("uid").alias("__node_uid__")
            )
            out = out.join(broadcast(nm), ["node_name"], "left")
        else:
            out = out.withColumn("__node_uid__", F.lit(None).cast("string"))

        if matchers is not None:
            sel_match = lambda sel, labels: (F.size(sel) > 0) & F.forall(  # noqa: E731
                F.map_entries(sel),
                lambda e: F.element_at(labels, e.getField("key")) == e.getField("value"),
            )
            m = broadcast(
                matchers.select(
                    F.col("namespace").alias("__mns__"), "category",
                    F.col("uid").alias("__muid__"), F.col("name").alias("__mname__"),
                    "selector",
                )
            )
            joined = out.join(
                m,
                (F.col("namespace") == F.col("__mns__"))
                & sel_match(F.col("selector"), F.col("labels")),
                "left",
            )
            # ONE uid-keyed partial aggregate — no join-back (the broadcast
            # fan-out keeps every pod column, so first() recovers them)
            firsts = [
                F.first(c).alias(c)
                for c in out.columns
                if c != "uid"
            ]
            out = joined.groupBy("uid").agg(
                *firsts,
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__muid__").isNotNull(),
                            F.concat_ws(":", "category", "__muid__", "__mname__"),
                        )
                    )
                ).alias("__matched__"),
            )
        else:
            out = out.withColumn("__matched__", F.expr("array()").cast("array<string>"))

        node_parent = F.when(
            F.col("__node_uid__").isNotNull(),
            F.array(F.concat_ws(":", F.lit("Node"), "__node_uid__", "node_name")),
        ).otherwise(F.expr("array()").cast("array<string>"))
        parents = F.concat(
            node_parent, F.coalesce(F.col("__matched__"), F.expr("array()").cast("array<string>"))
        )
        return out.select(
            *keep,
            F.col("uid").alias("id"),
            F.lit("Pod").alias("type"),
            _sorted_obj(F.col("__attrs__")).alias("attributes"),
            _labels_json(F.col("labels"), dict(self.labels)).alias("labels"),
            _parents_json(parents).alias("parents"),
        )

    # ------------------------------------------------------------------
    def node_nodes(self, nodes: DataFrame, keep: list[str] = ()) -> DataFrame:
        """collectNodes (kubernetes_collect_core.go:98-153). Columns: uid,
        name, labels, the 10 NodeInfo strings, allocatable struct<cpu,mem,
        ephemeral_storage,pods,storage> (nullable longs), addresses
        array<struct<type,address>>, taints array<string> (pre-rendered
        Taint.ToString — external k8s render), unschedulable boolean,
        creation_ts, resource_version."""
        info = [
            ("kernel_version", "kernel_version"),
            ("architecture", "architecture"),
            ("boot_id", "boot_id"),
            ("container_runtime_version", "container_runtime_version"),
            ("kube_proxy_version", "kube_proxy_version"),
            ("kubelet_version", "kubelet_version"),
            ("machine_id", "machine_id"),
            ("operating_system", "operating_system"),
            ("os_image", "os_image"),
            ("system_uuid", "system_uuid"),
        ]
        alloc = [
            ("allocatable_cpu", "cpu"),
            ("allocatable_mem", "mem"),
            ("allocatable_ephemeral_storage", "ephemeral_storage"),
            ("allocatable_pods", "pods"),
            ("allocatable_storage", "storage"),
        ]
        fixed = F.filter(
            F.array(
                *[_ent(k, _js(F.col(c))) for k, c in info],
                *[
                    _opt(F.col("allocatable").getField(c).isNotNull(), k,
                         _jn(F.col("allocatable").getField(c)))
                    for k, c in alloc
                ],
                _opt(F.coalesce(F.col("unschedulable"), F.lit(False)), "unschedulable",
                     F.lit("true")),
                *_common(F.col("name"), F.col("creation_ts"), F.col("resource_version")),
            ).cast(_ENT_T),
            lambda e: e.isNotNull(),
        )
        addrs = F.transform(
            F.coalesce(F.col("addresses"), F.expr("array()").cast("array<struct<type:string,address:string>>")),
            lambda a, i: F.struct(
                F.concat(F.lit("addresses."), i.cast("string"), F.lit("."), a.getField("type")).alias("k"),
                _js(a.getField("address")).alias("v"),
            ),
        )
        taints = F.transform(
            F.coalesce(F.col("taints"), F.expr("array()").cast("array<string>")),
            lambda t, i: F.struct(
                F.concat(F.lit("taints."), i.cast("string")).alias("k"),
                _js(t).alias("v"),
            ),
        )
        df = nodes.withColumn("__attrs__", F.concat(fixed, addrs, taints))
        return df.select(
            *keep,
            F.col("uid").alias("id"),
            F.lit("Node").alias("type"),
            _sorted_obj(F.col("__attrs__")).alias("attributes"),
            _labels_json(F.col("labels"), dict(self.labels)).alias("labels"),
            F.lit("[]").alias("parents"),
        )

    # ------------------------------------------------------------------
    def service_nodes(
        self,
        services: DataFrame,
        ingresses: DataFrame | None = None,
        pod_parents: DataFrame | None = None,
        keep: list[str] = (),
    ) -> DataFrame:
        """collectServices (kubernetes_collect_core.go:155-197) +
        addServiceParents (ingress rule backends) + addServiceReference.
        Service columns: uid, name, namespace, labels, cluster_ip, type,
        ports array<struct<port:int,node_port:int,protocol:string>>,
        load_balancer_ip, selector map, creation_ts, resource_version.
        ``pod_parents``: the pod_nodes output (id/parents) joined back with
        name/namespace — pass ``pod_nodes(...,
        keep=["name","namespace"])``."""
        keep = list(keep)
        port_str = lambda p: F.when(  # noqa: E731
            p.getField("node_port") == 0,
            F.concat(p.getField("port").cast("string"), F.lit("/"), p.getField("protocol")),
        ).otherwise(
            F.concat(
                p.getField("port").cast("string"), F.lit(":"),
                p.getField("node_port").cast("string"), F.lit("/"), p.getField("protocol"),
            )
        )
        ports = F.coalesce(F.col("ports"), F.expr("array()").cast(
            "array<struct<port:int,node_port:int,protocol:string>>"))

        svc = services.withColumn(
            "__base__",
            F.filter(
                F.array(
                    _ent("namespace", _js(F.col("namespace"))),
                    _ent("cluster_ip", _js(F.col("cluster_ip"))),
                    _ent("type", _js(F.col("type"))),
                    _opt(F.size(ports) > 0, "ports",
                         _js(F.array_join(F.transform(ports, port_str), ","))),
                    _opt(F.coalesce(F.col("load_balancer_ip"), F.lit("")) != "",
                         "load_balancer_ip", _js(F.col("load_balancer_ip"))),
                    *_common(F.col("name"), F.col("creation_ts"), F.col("resource_version")),
                ).cast(_ENT_T),
                lambda e: e.isNotNull(),
            ),
        )

        if not self.disable_report_parents and ingresses is not None:
            ing = ingresses.select(
                F.col("namespace").alias("__ins__"),
                F.col("uid").alias("__iuid__"),
                F.col("name").alias("__iname__"),
                F.explode(
                    F.array_distinct(
                        F.flatten(
                            F.transform(
                                F.coalesce(F.col("rules"), F.expr(
                                    "array()").cast(
                                    "array<struct<host:string,paths:array<struct<service:string,port:int,path:string>>>>")),
                                lambda r: F.transform(
                                    r.getField("paths"), lambda p: p.getField("service")
                                ),
                            )
                        )
                    )
                ).alias("__svc_name__"),
            )
            ia = (
                svc.join(
                    broadcast(ing),
                    (F.col("namespace") == F.col("__ins__"))
                    & (F.col("name") == F.col("__svc_name__")),
                    "left",
                )
                .groupBy("uid")
                .agg(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__iuid__").isNotNull(),
                                F.concat_ws(":", F.lit("Ingress"), "__iuid__", "__iname__"),
                            )
                        )
                    ).alias("__parents__")
                )
            )
            svc = svc.join(ia, ["uid"], "left")
        else:
            svc = svc.withColumn("__parents__", F.expr("array()").cast("array<string>"))

        if pod_parents is not None and not self.disable_report_parents:
            refs = service_reference(svc.select("uid", "name", "namespace"), pod_parents)
            svc = svc.join(broadcast(refs), ["uid"], "left")
            ref_attrs = F.filter(
                F.array(
                    _opt(F.col("ref_name").isNotNull(), "service_reference_name",
                         _js(F.col("ref_name"))),
                    _opt(F.col("ref_type").isNotNull(), "service_reference_type",
                         _js(F.col("ref_type"))),
                ).cast(_ENT_T),
                lambda e: e.isNotNull(),
            )
            svc = svc.withColumn("__base__", F.concat(F.col("__base__"), ref_attrs))

        return svc.select(
            *keep,
            F.col("uid").alias("id"),
            F.lit("Service").alias("type"),
            _sorted_obj(F.col("__base__")).alias("attributes"),
            _labels_json(F.col("labels"), dict(self.labels)).alias("labels"),
            _parents_json(F.coalesce(F.col("__parents__"), F.expr("array()").cast("array<string>"))).alias("parents"),
        )

    # ------------------------------------------------------------------
    def workload_nodes(self, df: DataFrame, kind: str, keep: list[str] = ()) -> DataFrame:
        """Deployment / DaemonSet / StatefulSet / Job / CronJob rows
        (kubernetes_collect_apps.go / _batch.go). Shared columns: uid, name,
        namespace, labels, creation_ts, resource_version + per-kind status
        columns (nullable longs); `desired_replicas` null → 1 (nil
        Spec.Replicas default)."""
        common = _common(F.col("name"), F.col("creation_ts"), F.col("resource_version"))
        ns = _ent("namespace", _js(F.col("namespace")))
        desired = F.coalesce(F.col("desired_replicas"), F.lit(1))
        if kind == "Deployment":
            attrs = [
                ns,
                _ent("observed_generation", _jn(F.col("observed_generation"))),
                _ent("desired_replicas", _jn(desired)),
                _ent("replicas", _jn(F.col("replicas"))),
                _ent("updated_replicas", _jn(F.col("updated_replicas"))),
                _ent("available_replicas", _jn(F.col("available_replicas"))),
                _ent("unavailable_replicas", _jn(F.col("unavailable_replicas"))),
                _ent("strategy", _js(F.col("strategy"))),
            ]
        elif kind == "DaemonSet":
            attrs = [
                ns,
                _ent("observed_generation", _jn(F.col("observed_generation"))),
                _ent("desired_replicas", _jn(F.col("desired_replicas"))),
                _ent("replicas", _jn(F.col("replicas"))),
                _ent("misscheduled_replicas", _jn(F.col("misscheduled_replicas"))),
            ]
        elif kind == "StatefulSet":
            # strconv.Itoa renders → JSON strings (reference quirk)
            attrs = [
                ns,
                _ent("observed_generation", _jn(F.col("observed_generation"))),
                _ent("desired_replicas", _js(desired.cast("string"))),
                _ent("replicas", _js(F.col("replicas").cast("string"))),
                _ent("updated_replicas", _js(F.col("updated_replicas").cast("string"))),
            ]
        elif kind == "Job":
            attrs = [
                ns,
                _ent("active", _jn(F.col("active"))),
                _ent("succeeded", _jn(F.col("succeeded"))),
                _ent("failed", _jn(F.col("failed"))),
                _opt(F.col("start_time").isNotNull(), "start_time", _jn(F.col("start_time"))),
                _opt(F.col("completion_time").isNotNull(), "completion_time",
                     _jn(F.col("completion_time"))),
            ]
        elif kind == "CronJob":
            attrs = [
                ns,
                _ent("schedule", _js(F.col("schedule"))),
                _ent("suspend", _jb(F.coalesce(F.col("suspend"), F.lit(False)))),
                _ent("active_jobs", F.size(F.coalesce(F.col("active_refs"), F.expr("array()").cast("array<string>"))).cast("string")),
                _opt(F.col("last_schedule_time").isNotNull(), "last_schedule_time",
                     _jn(F.col("last_schedule_time"))),
            ]
        else:
            raise ValueError(kind)

        parents = None
        if kind == "Job" and not self.disable_report_parents and "cronjob_parents" in df.columns:
            parents = F.coalesce(F.col("cronjob_parents"), F.expr("array()").cast("array<string>"))
        return self._emit(df, list(keep), kind, attrs + common, parents)

    def job_parents(self, jobs: DataFrame, cronjobs: DataFrame) -> DataFrame:
        """addJobParents: job uid ∈ a cronjob's active refs (same ns) →
        'CronJob:<id>:<name>' parents column to merge onto the jobs frame."""
        refs = cronjobs.select(
            F.col("namespace").alias("__cns__"), F.col("uid").alias("__cuid__"),
            F.col("name").alias("__cname__"),
            F.explode(F.coalesce(F.col("active_refs"), F.expr("array()").cast("array<string>"))).alias("__juid__"),
        )
        j = jobs.join(
            broadcast(refs),
            (F.col("uid") == F.col("__juid__")) & (F.col("namespace") == F.col("__cns__")),
            "left",
        )
        return j.groupBy("uid").agg(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("__cuid__").isNotNull(),
                        F.concat_ws(":", F.lit("CronJob"), "__cuid__", "__cname__"),
                    )
                )
            ).alias("cronjob_parents")
        )

    # ------------------------------------------------------------------
    def simple_nodes(self, df: DataFrame, kind: str, keep: list[str] = ()) -> DataFrame:
        """Namespace / ConfigMap / StorageClass / PVC / PV / Ingress rows."""
        common = _common(F.col("name"), F.col("creation_ts"), F.col("resource_version"))
        ns = _ent("namespace", _js(F.col("namespace")))
        if kind == "Namespace":
            attrs = common
        elif kind == "ConfigMap":
            attrs = [ns, _opt(F.col("immutable").isNotNull(), "immutable",
                              _jb(F.col("immutable")))] + common
        elif kind == "StorageClass":
            attrs = [_ent("provisioner", _js(F.col("provisioner")))] + common
        elif kind == "PersistentVolumeClaim":
            sc = F.when(
                F.coalesce(F.col("beta_storage_class"), F.lit("")) != "",
                F.col("beta_storage_class"),
            ).otherwise(F.coalesce(F.col("storage_class"), F.lit("")))
            attrs = [
                ns,
                _ent("phase", _js(F.col("phase"))),
                _ent("storage_class", _js(sc)),
                _ent("volume", _js(F.col("volume"))),
                _opt(F.col("capacity").isNotNull(), "request_capacity", _js(F.col("capacity"))),
                _opt(F.size(F.coalesce(F.col("access_modes"), F.expr("array()").cast("array<string>"))) > 0,
                     "access_mode", _js(F.element_at(F.col("access_modes"), 1))),
            ] + common
        elif kind == "PersistentVolume":
            attrs = [
                _ent("phase", _js(F.col("phase"))),
                _ent("storage_class", _js(F.col("storage_class"))),
                _ent("request_capacity", _js(F.col("capacity"))),
                _opt(F.col("claim_ref").isNotNull(), "volume_claim", _js(F.col("claim_ref"))),
                _opt(F.size(F.coalesce(F.col("access_modes"), F.expr("array()").cast("array<string>"))) > 0,
                     "access_mode", _js(F.element_at(F.col("access_modes"), 1))),
                _opt(F.coalesce(F.col("storage_driver"), F.lit("")) != "", "storage_driver",
                     _js(F.col("storage_driver"))),
            ] + common
        elif kind == "Ingress":
            rules = F.coalesce(
                F.col("rules"),
                F.expr("array()").cast(
                    "array<struct<host:string,paths:array<struct<service:string,port:int,path:string>>>>"
                ),
            )
            rules_json = F.concat(
                F.lit("["),
                F.array_join(
                    F.transform(
                        rules,
                        lambda r: F.concat(
                            F.lit('{"host":'), _js(r.getField("host")),
                            F.lit(',"paths":['),
                            F.array_join(
                                F.transform(
                                    r.getField("paths"),
                                    lambda p: _js(
                                        F.concat(
                                            p.getField("service"), F.lit(":"),
                                            p.getField("port").cast("string"), F.lit(":"),
                                            p.getField("path"),
                                        )
                                    ),
                                ),
                                ",",
                            ),
                            F.lit("]}"),
                        ),
                    ),
                    ",",
                ),
                F.lit("]"),
            )
            lb = F.coalesce(F.col("lb_ips"), F.expr("array()").cast("array<string>"))
            attrs = [
                _opt(F.size(lb) > 0, "load_balancer_ip", _js(F.array_join(lb, ","))),
                _opt(F.size(rules) > 0, "rules", rules_json),
            ] + common + [ns]
        else:
            raise ValueError(kind)
        return self._emit(df, list(keep), kind, attrs)


def service_reference(services: DataFrame, pod_parents: DataFrame) -> DataFrame:
    """addServiceReference (kubernetes_collect.go:251-293): per service
    (keyed by NAME, the reference quirk), the set of referents among pods
    carrying that service as a parent — referent = the last non-Node,
    non-Service parent (sorted order here), else the pod itself. One
    referent → (ref_name, ref_type); several → ref_type=multi_resources.
    ``pod_parents`` columns: name, namespace, parents (the rendered JSON),
    id."""
    pp = pod_parents.select(
        F.col("name").alias("__pod_name__"),
        F.col("namespace").alias("__pns__"),
        F.from_json(F.col("parents"), "array<string>").alias("__parr__"),
    )
    s = services.select(
        "uid", F.col("name").alias("__sname__"), F.col("namespace").alias("__sns__")
    )
    j = s.join(
        pp,
        (F.col("__sns__") == F.col("__pns__"))
        & F.exists(
            F.col("__parr__"),
            lambda p: F.split(p, ":")[0] == F.lit("Service"),
        ),
        "inner",
    ).where(
        F.exists(
            F.col("__parr__"),
            lambda p: (F.split(p, ":")[0] == F.lit("Service"))
            & (F.split(p, ":")[1] == F.col("uid")),
        )
    )
    others = F.filter(
        F.col("__parr__"),
        lambda p: ~F.split(p, ":")[0].isin("Node", "Service"),
    )
    ref = F.when(
        F.size(others) > 0,
        F.struct(
            F.split(F.element_at(others, -1), ":")[2].alias("n"),
            F.split(F.element_at(others, -1), ":")[0].alias("t"),
        ),
    ).otherwise(
        F.struct(F.col("__pod_name__").alias("n"), F.lit("Pod").alias("t"))
    )
    per_name = (
        j.select("__sname__", ref.alias("__ref__"))
        .groupBy("__sname__")
        .agg(F.collect_set("__ref__").alias("__refs__"))
    )
    out = (
        services.select("uid", F.col("name").alias("__sname__"))
        .join(per_name, ["__sname__"], "inner")
        .select(
            "uid",
            F.when(F.size("__refs__") == 1,
                   F.element_at("__refs__", 1).getField("n")).alias("ref_name"),
            F.when(F.size("__refs__") == 1,
                   F.element_at("__refs__", 1).getField("t"))
            .when(F.size("__refs__") > 1, F.lit("multi_resources")).alias("ref_type"),
        )
    )
    return out
