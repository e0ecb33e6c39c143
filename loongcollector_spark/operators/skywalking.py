"""SkyWalking v3 payload conversion — trace segments, JVM/CLR metrics.

Reference semantics (studied, not ported):
- plugins/input/skywalkingv3/segment_analyze.go:61-212 (ParseSegment: span →
  OtSpan with kind/spanID/links/logs/attribute mapping) and ot_trace.go:69-163
  (OtSpan.ToLog: the fixed key set links/host/service/resource/name/kind/
  traceID/spanID/parentSpanID/logs/traceState/start/end/duration/attribute/
  statusCode/statusMessage).
- jvm_metric_handle.go:54-119 (JVMMetric → skywalking_jvm_* metric logs).
- clr_metric_handle.go:52-96 (CLRMetric → skywalking_clr_* metric logs).
Goldens: plugins/input/skywalkingv3/testdata/{trace,jvm_metrics,
clr_metrics}.json, transcribed into tests/test_skywalking.py.

Table model: the gRPC listener itself is agent transport (scope boundary —
SURVEY §2 row 70); the table-input analog takes one SegmentObject /
JVMMetricCollection / CLRMetricCollection per row as protojson text in the
``content`` field, exactly the treatment the OTLP/pyroscope ingest paths got.
Everything below is pure Column expressions (from_json → explode → string
building) — JVM-side, whole-stage-codegen, zero Python in the hot path, one
narrow pass with a single Generate per parser; resource properties arrive as
a small broadcast-joined lookup table (the reference's in-memory
ResourcePropertiesCache keyed by service#serviceInstance, fed by management
InstanceProperties — ConvertResourceOt at segment_analyze.go:201-212).

Divergences (documented): Go ``json.Marshal`` HTML-escapes ``<>&``
(fixtures avoid those bytes in tag/log values, as the OTLP parser already
documents); a nil resource-cache entry logs a warning and still emits with
``{}`` here (the reference drops the first segment seen before any
InstanceProperties arrive — receive-order state that has no table analog).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Mapping

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from .base import FIELDS, Operator, fget
from .common import flet
from .convert import json_quote
from .gofmt import go_g
from .influx import normalize_time_nano_col
from .otel import labels_str

# map to open telemetry (segment_analyze.go:46-59)
OT_RESOURCE_MAPPING = {
    "hostname": "host.name",
    "Process No.": "process.pid",
    "OS Name": "os.type",
    "language": "telemetry.sdk.language",
}
OT_SPAN_TAGS_MAPPING = {
    "url": "http.url",
    "status_code": "http.status_code",
    "db.type": "db.system",
    "db.instance": "db.name",
    "mq.broker": "net.peer.name",
}

_KV = "array<struct<key:string,value:string>>"
_REF = (
    "struct<refType:string,traceId:string,parentTraceSegmentId:string,"
    "parentSpanId:long,parentService:string,parentServiceInstance:string,"
    "parentEndpoint:string,networkAddressUsedAtPeer:string>"
)
SEGMENT_SCHEMA = (
    "struct<traceId:string,traceSegmentId:string,service:string,"
    "serviceInstance:string,isSizeLimited:boolean,"
    "spans:array<struct<spanId:long,parentSpanId:long,startTime:long,"
    "endTime:long,operationName:string,peer:string,spanType:string,"
    f"spanLayer:string,componentId:int,isError:boolean,tags:{_KV},"
    f"logs:array<struct<time:long,data:{_KV}>>,refs:array<{_REF}>>>>"
)

_ENT_T = "array<struct<k:string,v:string>>"


def _empty_ent() -> Column:
    return F.expr(f"CAST(array() AS {_ENT_T})")


def _ent(k: Column | str, v: Column) -> Column:
    kc = F.lit(k) if isinstance(k, str) else k
    return F.struct(kc.alias("k"), v.alias("v"))


def _dedup_last(entries: Column) -> Column:
    """Keep only the LAST entry per key (Go map semantics: later puts
    overwrite). O(n²) over per-row arrays of ≤ a few dozen entries."""
    return flet(
        entries,
        lambda es: F.filter(
            es,
            lambda e, i: ~F.exists(
                F.slice(es, i + 2, F.size(es)),
                lambda e2: e2.getField("k") == e.getField("k"),
            ),
        ),
    )


def go_map_json(entries: Column) -> Column:
    """``map[string]string`` → Go ``json.Marshal`` text: last-write-wins,
    keys sorted byte-wise (encoding/json sorts map keys), no whitespace."""
    rendered = F.transform(
        F.array_sort(_dedup_last(entries)),
        lambda e: F.concat(
            json_quote(e.getField("k")), F.lit(":"), json_quote(e.getField("v"))
        ),
    )
    return F.concat(F.lit("{"), F.array_join(rendered, ","), F.lit("}"))


def convert_resource_ot(properties: Column) -> Column:
    """ConvertResourceOt (segment_analyze.go:201-212): InstanceProperties →
    entries with OT_RESOURCE_MAPPING applied to known keys."""
    mapping = F.create_map(
        *[F.lit(x) for kv in OT_RESOURCE_MAPPING.items() for x in kv]
    )
    return F.transform(
        F.coalesce(properties, F.expr(f"CAST(array() AS {_KV})")),
        lambda p: _ent(
            F.coalesce(F.element_at(mapping, p.getField("key")), p.getField("key")),
            p.getField("value"),
        ),
    )


def span_tag_entries(tag: Column) -> Column:
    """One span tag → its attribute entries: OT_SPAN_TAGS_MAPPING renames,
    mq.topic / mq.queue add the messaging destination pair (v2 and v3
    alike)."""
    k, v = tag.getField("key"), tag.getField("value")
    mapped = F.element_at(
        F.create_map(*[F.lit(x) for kv in OT_SPAN_TAGS_MAPPING.items() for x in kv]), k
    )
    return (
        F.when(mapped.isNotNull(), F.array(_ent(mapped, v)))
        .when(
            k == "mq.topic",
            F.array(
                _ent("messaging.destination_kind", F.lit("topic")),
                _ent("messaging.destination", v),
                _ent(k, v),
            ),
        )
        .when(
            k == "mq.queue",
            F.array(
                _ent("messaging.destination_kind", F.lit("queue")),
                _ent("messaging.destination", v),
                _ent(k, v),
            ),
        )
        .otherwise(F.array(_ent(k, v)))
    )


def _last_value(entries: Column, key: str) -> Column:
    """The value of the last ``key`` entry, ``""`` if none (Go map put
    order: later puts overwrite)."""
    return F.aggregate(
        entries,
        F.lit(""),
        lambda acc, e: F.when(e.getField("k") == key, e.getField("v")).otherwise(acc),
    )


def ot_span_fields(
    sp: Column,
    *,
    refs_t: str,
    name: Column,
    trace_id: Column,
    service: Column,
    host: Column,
    resource: Column,
    span_id: Callable[[Column], Column],
    ref_span_id: Callable[[Column], Column],
    ref_trace_id: Callable[[Column], Column],
    component_mapping: Mapping[int, str],
    db_mapping: bool,
) -> Column:
    """One span → the OtSpan.ToLog map (ot_trace.go:69-163), shared by the
    v2 and v3 parsers. The protocol-specific parts come in as arguments:
    ``span_id`` renders a span id Column (the span's own and, for a span
    without refs, its parentSpanId), ``ref_span_id`` / ``ref_trace_id``
    render a ref struct of type ``refs_t`` as its parent span id / link
    trace id, and ``db_mapping`` adds db.connection_string to Exit spans on
    the Database layer (v3 and the v2 legacy handler; the v2 report
    handler has none)."""
    stype = F.coalesce(sp.getField("spanType"), F.lit("Entry"))
    slayer = F.coalesce(sp.getField("spanLayer"), F.lit("Unknown"))
    parent_id = F.coalesce(sp.getField("parentSpanId"), F.lit(0))
    start_ms = F.coalesce(sp.getField("startTime"), F.lit(0))
    end_ms = F.coalesce(sp.getField("endTime"), F.lit(0))
    peer = F.coalesce(sp.getField("peer"), F.lit(""))
    tags = F.coalesce(sp.getField("tags"), F.expr(f"CAST(array() AS {_KV})"))
    logs = F.coalesce(
        sp.getField("logs"),
        F.expr(f"CAST(array() AS array<struct<time:long,data:{_KV}>>)"),
    )
    refs = F.coalesce(sp.getField("refs"), F.expr(f"CAST(array() AS array<{refs_t}>)"))

    # kind switch (segment_analyze.go:73-89; MQ case first)
    kind = (
        F.when(
            slayer == "MQ",
            F.when(stype == "Entry", F.lit("consumer"))
            .when(stype == "Exit", F.lit("producer"))
            .otherwise(F.lit("")),
        )
        .when(stype == "Entry", F.lit("server"))
        .when(stype == "Exit", F.lit("client"))
        .when(stype == "Local", F.lit("internal"))
        .otherwise(F.lit(""))
    )

    first_ref = F.try_element_at(refs, F.lit(1))
    parent_span_id = F.when(F.size(refs) > 0, ref_span_id(first_ref)).otherwise(
        F.when(parent_id < 0, F.lit("")).otherwise(span_id(parent_id))
    )
    # links: []*OtSpanRef marshal (ot_trace.go:62-67 field order;
    # Attributes is always nil → "attributes":null)
    links_json = F.to_json(
        F.transform(
            refs,
            lambda r: F.struct(
                ref_trace_id(r).alias("traceID"),
                ref_span_id(r).alias("spanID"),
                F.lit("").alias("traceState"),
                F.lit(None).cast("string").alias("attributes"),
            ),
        ),
        {"ignoreNullFields": "false"},
    )

    # logs: []map[string]string — "time" first, data k/v over it
    # (segment_analyze.go:98-110)
    logs_json = F.concat(
        F.lit("["),
        F.array_join(
            F.transform(
                logs,
                lambda lg: go_map_json(
                    F.concat(
                        F.array(
                            _ent(
                                "time",
                                F.coalesce(lg.getField("time"), F.lit(0)).cast(
                                    "string"
                                ),
                            )
                        ),
                        F.transform(
                            F.coalesce(
                                lg.getField("data"), F.expr(f"CAST(array() AS {_KV})")
                            ),
                            lambda kv: _ent(kv.getField("key"), kv.getField("value")),
                        ),
                    )
                ),
            ),
            ",",
        ),
        F.lit("]"),
    )
    # status message: last error.kind log value wins (:104-107)
    status_msg = F.aggregate(
        F.flatten(
            F.transform(
                logs,
                lambda lg: F.coalesce(
                    lg.getField("data"), F.expr(f"CAST(array() AS {_KV})")
                ),
            )
        ),
        F.lit(""),
        lambda acc, kv: F.when(
            (kv.getField("key") == "error.kind") & (F.length(kv.getField("value")) > 0),
            kv.getField("value"),
        ).otherwise(acc),
    )

    # attribute map: peer → tags → messaging/db tail (:127-163)
    hostport = F.split(peer, ":")
    peer_entries = F.when(F.length(peer) == 0, _empty_ent()).otherwise(
        F.when(
            F.size(hostport) == 2,
            F.array(
                _ent("net.peer.ip", F.element_at(hostport, 1)),
                _ent("net.peer.port", F.element_at(hostport, 2)),
            ),
        ).otherwise(F.array(_ent("net.peer.ip", F.element_at(hostport, 1))))
    )
    msg_system = F.lit("MessagingSystem")
    if component_mapping:
        comp_map = F.create_map(
            *[F.lit(x) for kv in component_mapping.items() for x in (str(kv[0]), kv[1])]
        )
        msg_system = F.coalesce(
            F.element_at(comp_map, F.coalesce(sp.getField("componentId"), F.lit(0)).cast("string")),
            msg_system,
        )
    db_entries = _empty_ent()
    if db_mapping:
        # mappingDatabaseTag: Exit spans on the Database layer with a peer
        # and a db.type tag (a span has one layer, so it never meets MQ's)
        db_type = F.try_element_at(
            F.filter(tags, lambda t: t.getField("key") == "db.type"), F.lit(1)
        ).getField("value")
        db_entries = F.when(
            (stype == "Exit")
            & (slayer == "Database")
            & (F.length(peer) > 0)
            & db_type.isNotNull()
            & (F.length(db_type) > 0),
            F.array(
                _ent(
                    "db.connection_string",
                    F.concat(F.lower(db_type), F.lit("://"), peer),
                )
            ),
        ).otherwise(_empty_ent())
    tail_entries = F.when(
        slayer == "MQ", F.array(_ent("messaging.system", msg_system))
    ).otherwise(db_entries)
    attribute_json = go_map_json(
        F.concat(
            peer_entries, F.flatten(F.transform(tags, span_tag_entries)), tail_entries
        )
    )

    end_us = end_ms * 1000
    return F.create_map(
        F.lit("links"), links_json,
        F.lit("host"), host,
        F.lit("service"), service,
        F.lit("resource"), resource,
        F.lit("name"), name,
        F.lit("kind"), kind,
        F.lit("traceID"), trace_id,
        F.lit("spanID"), span_id(F.coalesce(sp.getField("spanId"), F.lit(0))),
        F.lit("parentSpanID"), parent_span_id,
        F.lit("logs"), logs_json,
        F.lit("traceState"), F.lit(""),
        F.lit("start"), (start_ms * 1000).cast("string"),
        F.lit("end"), end_us.cast("string"),
        F.lit("duration"), ((end_ms - start_ms) * 1000).cast("string"),
        F.lit("attribute"), attribute_json,
        F.lit("statusCode"),
        F.when(
            F.coalesce(sp.getField("isError"), F.lit(False)), F.lit("ERROR")
        ).otherwise(F.lit("OK")),
        F.lit("statusMessage"), status_msg,
        # ToLog time: SetLogTimeWithNano(End µs → sec, ns-in-sec)
        F.lit("__ts_sec__"), (end_us / F.lit(1000000)).cast("long").cast("string"),
    )


@dataclass
class SkywalkingSegmentParser(Operator):
    """SegmentObject protojson in ``source_key`` → one event per span with
    the OtSpan.ToLog key set. ``component_mapping`` is the configurable
    componentId → messaging-system name table (tracing_handle.go:32,
    compIDMessagingSystemMapping; empty → "MessagingSystem" fallback,
    segment_analyze.go:192-199).

    ``resources``: optional small lookup DataFrame
    (service, serviceInstance, properties: array<struct<key,value>>) —
    broadcast-joined; rows with no match get resource ``{}`` / host ``""``
    (the cache-miss empty-map put at segment_analyze.go:62-66)."""

    source_key: str = "content"
    component_mapping: Mapping[int, str] = field(default_factory=dict)

    def apply(self, df: DataFrame, resources: DataFrame | None = None) -> DataFrame:
        seg = F.from_json(fget(self.source_key), SEGMENT_SCHEMA)
        passthrough = [c for c in df.columns if c != FIELDS]
        exploded = (
            df.select(*passthrough, seg.alias("__seg__"))
            .where(F.col("__seg__").isNotNull() & F.col("__seg__.spans").isNotNull())
            .select(
                *passthrough,
                "__seg__",
                F.explode("__seg__.spans").alias("__span__"),
            )
        )
        sg, sp = F.col("__seg__"), F.col("__span__")
        seg_id = F.coalesce(sg.getField("traceSegmentId"), F.lit(""))
        out = exploded.select(
            *passthrough,
            F.col("__seg__.service").alias("__service__"),
            F.coalesce(F.col("__seg__.serviceInstance"), F.lit("")).alias(
                "__instance__"
            ),
            ot_span_fields(
                sp,
                refs_t=_REF,
                name=F.coalesce(sp.getField("operationName"), F.lit("")),
                trace_id=F.coalesce(sg.getField("traceId"), F.lit("")),
                service=F.coalesce(sg.getField("service"), F.lit("")),
                host=F.lit(""),  # overwritten by the resource join
                resource=F.lit("{}"),
                span_id=lambda idc: F.concat(seg_id, F.lit("."), idc.cast("string")),
                ref_span_id=lambda r: F.concat(
                    F.coalesce(r.getField("parentTraceSegmentId"), F.lit("")),
                    F.lit("."),
                    F.coalesce(r.getField("parentSpanId"), F.lit(0)).cast("string"),
                ),
                ref_trace_id=lambda r: F.coalesce(r.getField("traceId"), F.lit("")),
                component_mapping=self.component_mapping,
                db_mapping=True,
            ).alias(FIELDS),
        )
        if resources is not None:
            res = resources.select(
                F.col("service").alias("__service__"),
                F.coalesce(F.col("serviceInstance"), F.lit("")).alias("__instance__"),
                flet(convert_resource_ot(F.col("properties")), lambda es: F.struct(
                    go_map_json(es).alias("json"),
                    _last_value(es, "host.name").alias("host"),
                )).alias("__res__"),
            )
            out = out.join(
                F.broadcast(res), ["__service__", "__instance__"], "left"
            ).select(
                *passthrough,
                F.map_concat(
                    F.col(FIELDS),
                    F.create_map(
                        F.lit("resource"),
                        F.coalesce(F.col("__res__.json"), F.lit("{}")),
                        F.lit("host"),
                        F.coalesce(F.col("__res__.host"), F.lit("")),
                    ),
                ).alias(FIELDS),
            )
        else:
            out = out.select(*passthrough, FIELDS)
        return out


# ---------------------------------------------------------------------------
# JVM / CLR metrics
# ---------------------------------------------------------------------------

JVM_SCHEMA = (
    "struct<service:string,serviceInstance:string,metrics:array<struct<"
    "time:long,cpu:struct<usagePercent:double>,"
    "memory:array<struct<isHeap:boolean,init:long,max:long,used:long,committed:long>>,"
    "memoryPool:array<struct<type:string,init:long,max:long,used:long,committed:long>>,"
    "gc:array<struct<phrase:string,count:long,time:long>>,"
    "thread:struct<liveCount:long,daemonCount:long,peakCount:long>>>>"
)

CLR_SCHEMA = (
    "struct<service:string,serviceInstance:string,metrics:array<struct<"
    "time:long,cpu:struct<usagePercent:double>,"
    "gc:struct<gen0CollectCount:long,gen1CollectCount:long,gen2CollectCount:long,"
    "heapMemory:long>,"
    "thread:struct<availableCompletionPortThreads:int,availableWorkerThreads:int,"
    "maxCompletionPortThreads:int,maxWorkerThreads:int>>>>"
)

_ROW_T = "array<struct<name:string,labels:string,value:double>>"


def _metric_rows_to_events(
    df: DataFrame, passthrough: list[str], rows: Column, time_ms: Column
) -> DataFrame:
    """(name, labels, value) rows + raw ms time → metric-log events with the
    NewMetricLog contract (log_helper.go:256-283): __time_nano__ via
    digit-count normalization, __value__ via strconv 'g'."""
    tn = normalize_time_nano_col(time_ms.cast("string"))
    return (
        df.select(
            *passthrough,
            tn.alias("__tn__"),
            F.explode(rows).alias("__m__"),
        )
        .select(
            *passthrough,
            F.create_map(
                F.lit("__name__"), F.col("__m__.name"),
                F.lit("__time_nano__"), F.col("__tn__"),
                F.lit("__labels__"), F.col("__m__.labels"),
                F.lit("__value__"), go_g(F.col("__m__.value")),
                F.lit("__ts_sec__"),
                (F.col("__tn__").try_cast("decimal(20,0)") / F.lit(1000000000))
                .cast("long")
                .cast("string"),
            ).alias(FIELDS),
        )
    )


def _row(name: str, labels: Column, value: Column) -> Column:
    return F.struct(
        F.lit(name).alias("name"),
        labels.alias("labels"),
        value.cast("double").alias("value"),
    )


def jvm_memory_rows(base: Column, m: Column) -> Column:
    """One JVM Memory message → its four skywalking_jvm_memory_* rows,
    labelled ``base`` plus the heap/nonheap ``type`` (v2 and v3 alike)."""
    lb = F.concat(
        base,
        F.lit("|type#$#"),
        F.when(F.coalesce(m.getField("isHeap"), F.lit(False)), "heap").otherwise("nonheap"),
    )
    return F.array(
        _row("skywalking_jvm_memory_committed", lb, F.coalesce(m.getField("committed"), F.lit(0))),
        _row("skywalking_jvm_memory_init", lb, F.coalesce(m.getField("init"), F.lit(0))),
        _row("skywalking_jvm_memory_max", lb, F.coalesce(m.getField("max"), F.lit(0))),
        _row("skywalking_jvm_memory_used", lb, F.coalesce(m.getField("used"), F.lit(0))),
    )


def jvm_pool_rows(base: Column, p: Column, committed: str) -> Column:
    """One JVM MemoryPool message → its four skywalking_jvm_memory_pool_*
    rows, labelled ``base`` plus the pool ``type``. ``committed`` names the
    committed-bytes field: v2's JVM.proto spells it "commited"
    (JVM.pb.go:312)."""
    lb = F.concat(
        base,
        F.lit("|type#$#"),
        F.coalesce(p.getField("type"), F.lit("CODE_CACHE_USAGE")),
    )
    return F.array(
        _row("skywalking_jvm_memory_pool_committed", lb, F.coalesce(p.getField(committed), F.lit(0))),
        _row("skywalking_jvm_memory_pool_init", lb, F.coalesce(p.getField("init"), F.lit(0))),
        _row("skywalking_jvm_memory_pool_max", lb, F.coalesce(p.getField("max"), F.lit(0))),
        _row("skywalking_jvm_memory_pool_used", lb, F.coalesce(p.getField("used"), F.lit(0))),
    )


@dataclass
class SkywalkingJvmMetricParser(Operator):
    """JVMMetricCollection protojson → skywalking_jvm_* metric logs in the
    reference's emit order (jvm_metric_handle.go:54-119). Label strings are
    MetricLabels.String() — '|'-joined 'k#$#v' sorted by key."""

    source_key: str = "content"

    def apply(self, df: DataFrame) -> DataFrame:
        coll = F.from_json(fget(self.source_key), JVM_SCHEMA)
        passthrough = [c for c in df.columns if c != FIELDS]
        ex = (
            df.select(*passthrough, coll.alias("__c__"))
            .where(F.col("__c__").isNotNull() & F.col("__c__.metrics").isNotNull())
            .select(
                *passthrough,
                F.coalesce(F.col("__c__.service"), F.lit("")).alias("__svc__"),
                F.coalesce(F.col("__c__.serviceInstance"), F.lit("")).alias("__inst__"),
                F.explode("__c__.metrics").alias("__mt__"),
            )
        )
        svc, inst, mt = F.col("__svc__"), F.col("__inst__"), F.col("__mt__")
        base = F.concat(
            F.lit("service#$#"), svc, F.lit("|serviceInstance#$#"), inst
        )

        def gc_rows(g: Column) -> Column:
            # phrase label sorts BEFORE service (MetricLabels sorts by key)
            lb = F.concat(
                F.lit("phrase#$#"),
                F.coalesce(g.getField("phrase"), F.lit("NEW")),
                F.lit("|"),
                base,
            )
            return F.array(
                _row("skywalking_jvm_gc_time", lb, F.coalesce(g.getField("time"), F.lit(0))),
                _row("skywalking_jvm_gc_count", lb, F.coalesce(g.getField("count"), F.lit(0))),
            )

        empty = F.expr(f"CAST(array() AS {_ROW_T})")
        rows = F.concat(
            F.array(
                _row(
                    "skywalking_jvm_cpu_usage",
                    base,
                    F.coalesce(mt.getField("cpu").getField("usagePercent"), F.lit(0.0)),
                )
            ),
            F.coalesce(F.flatten(F.transform(mt.getField("memory"), lambda m: jvm_memory_rows(base, m))), empty),
            F.coalesce(F.flatten(F.transform(mt.getField("memoryPool"), lambda p: jvm_pool_rows(base, p, "committed"))), empty),
            F.coalesce(F.flatten(F.transform(mt.getField("gc"), gc_rows)), empty),
            F.array(
                _row("skywalking_jvm_threads_live", base, F.coalesce(mt.getField("thread").getField("liveCount"), F.lit(0))),
                _row("skywalking_jvm_threads_daemon", base, F.coalesce(mt.getField("thread").getField("daemonCount"), F.lit(0))),
                _row("skywalking_jvm_threads_peak", base, F.coalesce(mt.getField("thread").getField("peakCount"), F.lit(0))),
            ),
        )
        return _metric_rows_to_events(
            ex, passthrough, rows, F.coalesce(mt.getField("time"), F.lit(0))
        )


@dataclass
class SkywalkingClrMetricParser(Operator):
    """CLRMetricCollection protojson → skywalking_clr_* metric logs
    (clr_metric_handle.go:52-96). NOTE: the reference's interval throttle
    (:37-43) is receive-time state, not payload semantics — every table row
    converts."""

    source_key: str = "content"

    def apply(self, df: DataFrame) -> DataFrame:
        coll = F.from_json(fget(self.source_key), CLR_SCHEMA)
        passthrough = [c for c in df.columns if c != FIELDS]
        ex = (
            df.select(*passthrough, coll.alias("__c__"))
            .where(F.col("__c__").isNotNull() & F.col("__c__.metrics").isNotNull())
            .select(
                *passthrough,
                F.coalesce(F.col("__c__.service"), F.lit("")).alias("__svc__"),
                F.coalesce(F.col("__c__.serviceInstance"), F.lit("")).alias("__inst__"),
                F.explode("__c__.metrics").alias("__mt__"),
            )
        )
        svc, inst, mt = F.col("__svc__"), F.col("__inst__"), F.col("__mt__")
        base = F.concat(F.lit("service#$#"), svc, F.lit("|serviceInstance#$#"), inst)
        gc, th = mt.getField("gc"), mt.getField("thread")

        def gen(lbl: str, v: Column) -> Column:
            return _row(
                "skywalking_clr_gc_count",
                F.concat(F.lit(f"gen#$#{lbl}|"), base),
                F.coalesce(v, F.lit(0)),
            )

        def thr(lbl: str, v: Column) -> Column:
            return _row(
                "skywalking_clr_threads",
                F.concat(base, F.lit(f"|type#$#{lbl}")),
                F.coalesce(v, F.lit(0)),
            )

        rows = F.array(
            _row(
                "skywalking_clr_cpu_usage",
                base,
                F.coalesce(mt.getField("cpu").getField("usagePercent"), F.lit(0.0)),
            ),
            gen("gen0", gc.getField("gen0CollectCount")),
            gen("gen1", gc.getField("gen1CollectCount")),
            gen("gen2", gc.getField("gen2CollectCount")),
            _row("skywalking_clr_heap_memory", base, F.coalesce(gc.getField("heapMemory"), F.lit(0))),
            thr("availableCompletionPortThreads", th.getField("availableCompletionPortThreads")),
            thr("availableWorkerThreads", th.getField("availableWorkerThreads")),
            thr("maxCompletionPortThreads", th.getField("maxCompletionPortThreads")),
            thr("maxWorkerThreads", th.getField("maxWorkerThreads")),
        )
        return _metric_rows_to_events(
            ex, passthrough, rows, F.coalesce(mt.getField("time"), F.lit(0))
        )


# ---------------------------------------------------------------------------
# Meter (singlevalue / histogram) and logging payloads
# ---------------------------------------------------------------------------

_SW_LBL = "array<struct<name:string,value:string>>"
METER_SCHEMA = (
    "struct<timestamp:long,service:string,serviceInstance:string,"
    f"singleValue:struct<name:string,labels:{_SW_LBL},value:double>,"
    f"histogram:struct<name:string,labels:{_SW_LBL},"
    "values:array<struct<bucket:double,count:long>>>>"
)

LOGGING_SCHEMA = (
    "struct<timestamp:long,service:string,serviceInstance:string,"
    "endpoint:string,body:struct<type:string,text:struct<text:string>,"
    "json:struct<json:string>,yaml:struct<yaml:string>>,"
    "traceContext:struct<traceId:string,traceSegmentId:string,spanId:long>,"
    "tags:struct<data:array<struct<key:string,value:string>>>>"
)


@dataclass
class SkywalkingMeterParser(Operator):
    """MeterData protojson → metric logs (meter_handle.go:81-128
    handleMeterData + convertHistogramData :89-110 and
    helper.HistogramData.ToMetricLogs, log_helper.go:244-254):
    singleValue → one metric log; histogram → ``<name>_count`` /
    ``<name>_sum`` / cumulative ``<name>_bucket`` rows with ``le`` labels,
    where values[0] seeds the running count (its bucket bound never appears
    as an ``le``) and a final ``le=+Inf`` row carries the total.

    Divergences (documented): the gRPC stream carries service/instance/ts
    only in the first packet — table rows must carry their own (rows with
    empty service or serviceInstance drop, the reference's partial-stream
    drop at meter_handle.go:74-76); a non-positive timestamp is stamped
    wall-clock there (nondeterministic) and passes through verbatim here."""

    source_key: str = "content"

    def apply(self, df: DataFrame) -> DataFrame:
        md = F.from_json(fget(self.source_key), METER_SCHEMA)
        passthrough = [c for c in df.columns if c != FIELDS]
        ex = (
            df.select(*passthrough, md.alias("__m__"))
            .where(
                F.col("__m__").isNotNull()
                & (F.length(F.coalesce(F.col("__m__.service"), F.lit(""))) > 0)
                & (F.length(F.coalesce(F.col("__m__.serviceInstance"), F.lit(""))) > 0)
            )
        )
        m = F.col("__m__")
        base = F.array(
            _ent("service", m.getField("service")),
            _ent("serviceInstance", m.getField("serviceInstance")),
        )

        def lbl_entries(arr: Column) -> Column:
            return F.transform(
                F.coalesce(arr, F.expr(f"CAST(array() AS {_SW_LBL})")),
                lambda l: _ent(l.getField("name"), l.getField("value")),
            )

        sv = m.getField("singleValue")
        sv_rows = F.when(
            sv.isNotNull(),
            F.array(
                F.struct(
                    F.coalesce(sv.getField("name"), F.lit("")).alias("name"),
                    labels_str(
                        F.concat(lbl_entries(sv.getField("labels")), base)
                    ).alias("labels"),
                    F.coalesce(sv.getField("value"), F.lit(0.0)).alias("value"),
                )
            ),
        ).otherwise(F.expr(f"CAST(array() AS {_ROW_T})"))

        hg = m.getField("histogram")
        vals = F.coalesce(
            hg.getField("values"),
            F.expr("CAST(array() AS array<struct<bucket:double,count:long>>)"),
        )
        hname = F.coalesce(hg.getField("name"), F.lit(""))
        hlabels = F.concat(base, lbl_entries(hg.getField("labels")))
        total = F.aggregate(
            vals, F.lit(0).cast("long"), lambda acc, v: acc + F.coalesce(v.getField("count"), F.lit(0))
        )
        hsum = F.aggregate(
            vals,
            F.lit(0.0),
            lambda acc, v: acc
            + F.coalesce(v.getField("count"), F.lit(0)).cast("double")
            * F.coalesce(v.getField("bucket"), F.lit(0.0)),
        )

        def le_row(le_txt: Column, count: Column) -> Column:
            return F.struct(
                F.concat(hname, F.lit("_bucket")).alias("name"),
                labels_str(F.concat(hlabels, F.array(_ent("le", le_txt)))).alias(
                    "labels"
                ),
                count.cast("double").alias("value"),
            )

        # cumulative: bucket i (i>=1) gets le=values[i].bucket with the count
        # of everything strictly before it (convertHistogramData :92-103)
        bucket_rows = flet(
            vals,
            lambda vs: F.filter(
                F.transform(
                    vs,
                    lambda v, i: F.when(
                        i > 0,
                        le_row(
                            go_g(v.getField("bucket")),
                            F.aggregate(
                                F.slice(vs, 1, i),
                                F.lit(0).cast("long"),
                                lambda acc, p: acc
                                + F.coalesce(p.getField("count"), F.lit(0)),
                            ),
                        ),
                    ),
                ),
                lambda x: x.isNotNull(),
            ),
        )
        h_rows = F.when(
            hg.isNotNull(),
            F.concat(
                F.array(
                    F.struct(
                        F.concat(hname, F.lit("_count")).alias("name"),
                        labels_str(hlabels).alias("labels"),
                        total.cast("double").alias("value"),
                    ),
                    F.struct(
                        F.concat(hname, F.lit("_sum")).alias("name"),
                        labels_str(hlabels).alias("labels"),
                        hsum.alias("value"),
                    ),
                ),
                bucket_rows,
                F.array(le_row(F.lit("+Inf"), total)),
            ),
        ).otherwise(F.expr(f"CAST(array() AS {_ROW_T})"))

        rows = F.concat(sv_rows, h_rows)
        return _metric_rows_to_events(
            ex, passthrough, rows, F.coalesce(m.getField("timestamp"), F.lit(0))
        )


@dataclass
class SkywalkingLoggingParser(Operator):
    """LogData protojson → log events (logging_handle.go:96-160
    convertFormat/convertContent/convertAttribute/convertResource): fixed
    ``otlp.name=apache-skywalking``, attribute = endpoint + tags Go-marshal
    JSON, content by body type (TEXT/JSON/YAML), traceID/spanID only when a
    trace context is present, resource = serviceInstance JSON, and
    ``timeUnixNano`` carrying the raw millisecond timestamp verbatim (the
    reference field name notwithstanding — :134).

    Divergence (documented): an unknown body type falls back to proto
    ``String()`` there (debug text format); here it yields ''."""

    source_key: str = "content"

    def apply(self, df: DataFrame) -> DataFrame:
        ld = F.from_json(fget(self.source_key), LOGGING_SCHEMA)
        passthrough = [c for c in df.columns if c != FIELDS]
        ex = df.select(*passthrough, ld.alias("__l__")).where(
            F.col("__l__").isNotNull()
        )
        l = F.col("__l__")
        body = l.getField("body")
        btype = F.upper(F.coalesce(body.getField("type"), F.lit("")))
        content = (
            F.when(btype == "TEXT", body.getField("text").getField("text"))
            .when(btype == "JSON", body.getField("json").getField("json"))
            .when(btype == "YAML", body.getField("yaml").getField("yaml"))
            .otherwise(F.lit(""))
        )
        tags = F.coalesce(
            l.getField("tags").getField("data"), F.expr(f"CAST(array() AS {_KV})")
        )
        attribute = go_map_json(
            F.concat(
                F.array(_ent("endpoint", F.coalesce(l.getField("endpoint"), F.lit("")))),
                F.transform(tags, lambda t: _ent(t.getField("key"), t.getField("value"))),
            )
        )
        ts = F.coalesce(l.getField("timestamp"), F.lit(0))
        tc = l.getField("traceContext")
        base = F.create_map(
            F.lit("otlp.name"), F.lit("apache-skywalking"),
            F.lit("attribute"), attribute,
            F.lit("service"), F.coalesce(l.getField("service"), F.lit("")),
            F.lit("content"), F.coalesce(content, F.lit("")),
            F.lit("resource"),
            go_map_json(
                F.array(
                    _ent(
                        "serviceInstance",
                        F.coalesce(l.getField("serviceInstance"), F.lit("")),
                    )
                )
            ),
            F.lit("timeUnixNano"), ts.cast("string"),
            F.lit("__ts_sec__"), (ts / F.lit(1000)).cast("long").cast("string"),
        )
        trace_part = F.when(
            tc.isNotNull(),
            F.create_map(
                F.lit("traceID"), F.coalesce(tc.getField("traceId"), F.lit("")),
                F.lit("spanID"),
                F.concat(
                    F.coalesce(tc.getField("traceSegmentId"), F.lit("")),
                    F.lit("."),
                    F.coalesce(tc.getField("spanId"), F.lit(0)).cast("string"),
                ),
            ),
        ).otherwise(F.expr("map()").cast("map<string,string>"))
        return ex.select(
            *passthrough, F.map_concat(base, trace_part).alias(FIELDS)
        )


BROWSER_ERROR_SCHEMA = (
    "struct<uniqueId:string,service:string,serviceVersion:string,time:long,"
    "pagePath:string,category:string,grade:string,message:string,line:int,"
    "col:int,stack:string,errorUrl:string,firstReportedError:boolean>"
)


@dataclass
class SkywalkingBrowserErrorParser(Operator):
    """BrowserErrorLog protojson → log events (logging_handle.go:153-173
    convertBrowserErrorLog): the fixed key list, with the reference's
    conversions reproduced faithfully — ``line``/``col`` render through Go
    ``string(int32)`` (a RUNE, not a decimal: 65 → "A"), and ``errorUrl``
    carries ``string(data.Col)`` (the reference reads Col, not ErrorUrl —
    a bug kept for parity, :170). Engine chr() matches Go's rune for
    codepoints < 256; beyond that Go emits the UTF-8 rune while chr() wraps
    mod 256 (documented divergence; both are garbage renderings of a line
    number). Category is the protojson enum name (ajax/resource/vue/
    promise/js/unknown)."""

    source_key: str = "content"

    def apply(self, df: DataFrame) -> DataFrame:
        be = F.from_json(fget(self.source_key), BROWSER_ERROR_SCHEMA)
        passthrough = [c for c in df.columns if c != FIELDS]
        ex = df.select(*passthrough, be.alias("__b__")).where(
            F.col("__b__").isNotNull()
        )
        b = F.col("__b__")

        def s(name: str) -> Column:
            return F.coalesce(b.getField(name), F.lit(""))

        def rune(name: str) -> Column:
            return F.char(F.coalesce(b.getField(name), F.lit(0)))

        t = F.coalesce(b.getField("time"), F.lit(0))
        fields = F.create_map(
            F.lit("otlp.name"), F.lit("apache-skywalking"),
            F.lit("service"), s("service"),
            F.lit("uniqueId"), s("uniqueId"),
            F.lit("serviceVersion"), s("serviceVersion"),
            F.lit("category"), F.coalesce(b.getField("category"), F.lit("ajax")),
            F.lit("pagePath"), s("pagePath"),
            F.lit("grade"), s("grade"),
            F.lit("message"), s("message"),
            F.lit("line"), rune("line"),
            F.lit("col"), rune("col"),
            F.lit("stack"), s("stack"),
            F.lit("errorUrl"), rune("col"),  # reference reads Col (:170)
            F.lit("firstReportedError"),
            F.coalesce(b.getField("firstReportedError"), F.lit(False)).cast("string"),
            F.lit("__ts_sec__"), (t / F.lit(1000)).cast("long").cast("string"),
        )
        return ex.select(*passthrough, fields.alias(FIELDS))


# ---------------------------------------------------------------------------
# management: InstanceProperties → resource-properties lookup table
# ---------------------------------------------------------------------------

MANAGEMENT_SCHEMA = (
    "struct<service:string,serviceInstance:string,"
    f"properties:{_KV}>"
)


def filter_properties(entries: Column) -> Column:
    """ResourcePropertiesCache.filterProperties (management_handle.go:57-72):
    drop 'Start Time'/'JVM Arguments'/'Jar Dependencies'; a NON-empty
    'namespace' renames to 'service.namespace' (empty stays put). Runs on
    the OT-mapped entries, exactly where the reference applies it (put is
    called with ConvertResourceOt's output, :108-111)."""
    kept = F.filter(
        entries,
        lambda e: ~e.getField("k").isin(
            "Start Time", "JVM Arguments", "Jar Dependencies"
        ),
    )
    return F.transform(
        kept,
        lambda e: F.when(
            (e.getField("k") == "namespace") & (F.length(e.getField("v")) > 0),
            _ent("service.namespace", e.getField("v")),
        ).otherwise(e),
    )


def resource_properties_table(
    df: DataFrame, source_key: str = "content", order_col: str = "event_id"
) -> DataFrame:
    """ReportInstanceProperties stream → the resource lookup table the
    segment parser broadcast-joins (the table analog of
    ResourcePropertiesCache + its checkpoint): latest report per
    (service, serviceInstance) wins (`max_by` on ``order_col`` — the
    cache's last-put-wins), properties OT-mapped (ConvertResourceOt) and
    filtered (filterProperties). One partial-aggregatable shuffle on the
    (service, instance) key — a tiny dimension at any scale."""
    p = F.from_json(fget(source_key), MANAGEMENT_SCHEMA)
    base = (
        df.select(F.col(order_col).alias("__ord__"), p.alias("__p__"))
        .where(F.col("__p__").isNotNull() & F.col("__p__.service").isNotNull())
        .select(
            F.col("__p__.service").alias("service"),
            F.coalesce(F.col("__p__.serviceInstance"), F.lit("")).alias(
                "serviceInstance"
            ),
            "__ord__",
            F.col("__p__.properties").alias("__props__"),
        )
    )
    latest = base.groupBy("service", "serviceInstance").agg(
        F.max_by("__props__", "__ord__").alias("__props__")
    )
    mapped = filter_properties(convert_resource_ot(F.col("__props__")))
    # back to the (key,value) shape SkywalkingSegmentParser.apply consumes
    # (convert_resource_ot is idempotent over already-mapped keys)
    return latest.select(
        "service",
        "serviceInstance",
        F.transform(
            mapped,
            lambda e: F.struct(
                e.getField("k").alias("key"), e.getField("v").alias("value")
            ),
        ).alias("properties"),
    )
