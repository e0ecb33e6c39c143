"""SkyWalking v2 payload conversion — trace segments (report + legacy
handlers) and JVM metrics, resolved through the registry-information cache.

Reference semantics (studied, not ported):
- plugins/input/skywalkingv2/trace_segment_report_handle.go:74-287
  (UpstreamSegment → OtSpan rows; jaeger-format trace/span ids when
  GlobalTraceIds[0].idParts[0] == 648495579, original dotted ids otherwise;
  registry lookups: segment dropped on instance-cache miss, span dropped on
  endpoint-cache miss when operationNameId != 0).
- plugins/input/skywalkingv2/trace_segment_handle.go:64-250 (legacy
  TraceSegmentObject handler: always-original ids, db.connection_string
  mapping on Exit+Database spans — the report handler has NO db mapping).
- plugins/input/skywalkingv2/jvm_metric_handle.go:34-118 (JVMMetrics →
  skywalking_jvm_* metric logs with labels service/serviceInstance(uuid)/
  host; GC quirk: labels.CloneInto(memLabels) re-seats the shared map, so
  gc_time carries phrase=<enum NEW|OLD> while gc_count carries
  phrase=Young|Old — replicated verbatim).
- plugins/input/skywalkingv2/application_cache.go:156-245
  (registryApplicationInstances property mapping: os_name→os.type,
  host_name→host.name, process_no→process.pid, language→
  telemetry.sdk.language, namespace→service.namespace; unknown keys are NOT
  stored — unlike v3's pass-through resource cache).

Table model: the gRPC listener is agent transport (SURVEY §2 row 70 scope
boundary). The table analog takes one UpstreamSegment per row as protojson
in ``content`` with the inner SegmentObject already decoded (the
proto.Unmarshal of the ``segment`` bytes is the transport layer), and the
registry cache arrives as two small broadcast-joined lookup DataFrames:
``instances(instanceId, applicationName, uuid, properties)`` and
``endpoints(endpointId, endpointName)`` — the table analog of the
register-handle state. Everything below is pure Column expressions —
JVM-side, whole-stage codegen, one Generate per parser, zero Python in the
hot path.

Only what is v2's own lives here: the UniqueId renders, the registry joins
and the GC-label quirk. A span becomes its OtSpan map through v3's
``skywalking.ot_span_fields`` (given the v2 span/ref id renders), and the
memory and pool rows come from ``skywalking.jvm_memory_rows`` /
``jvm_pool_rows``.

Divergences (documented): a parentSpanId that points at a span id absent
from the segment panics in the reference (recovered at the stream level,
killing the remaining segment mid-flight) — receive-order state with no
table analog; here the id formula is applied directly (it only ever reads
``span.SpanId``, which equals the lookup key). Go ``json.Marshal``
HTML-escapes ``<>&`` (fixtures avoid those bytes, as the v3 parser already
documents).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Mapping

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from .base import FIELDS, Operator, fget
from .skywalking import (
    _KV,
    _ent,
    _last_value,
    _metric_rows_to_events,
    _row,
    go_map_json,
    jvm_memory_rows,
    jvm_pool_rows,
    ot_span_fields,
)

#: getTraceID sentinel (trace_segment_report_handle.go:262-285)
JAEGER_MAGIC = 648495579

#: registryApplicationInstances key mapping (application_cache.go:170-184)
V2_PROPERTY_MAPPING = {
    "os_name": "os.type",
    "host_name": "host.name",
    "process_no": "process.pid",
    "language": "telemetry.sdk.language",
    "namespace": "service.namespace",
}

_UID = "struct<idParts:array<bigint>>"
_REF2 = (
    f"struct<refType:string,parentTraceSegmentId:{_UID},parentSpanId:long,"
    "parentServiceInstanceId:long,networkAddress:string,"
    "entryServiceInstanceId:long,entryEndpoint:string,parentEndpoint:string>"
)
V2_UPSTREAM_SCHEMA = (
    f"struct<globalTraceIds:array<{_UID}>,segment:struct<"
    f"traceSegmentId:{_UID},serviceId:long,serviceInstanceId:long,"
    "applicationId:long,applicationInstanceId:long,isSizeLimited:boolean,"
    "spans:array<struct<spanId:long,parentSpanId:long,startTime:long,"
    f"endTime:long,refs:array<{_REF2}>,operationNameId:long,"
    "operationName:string,peerId:long,peer:string,spanType:string,"
    f"spanLayer:string,componentId:long,component:string,isError:boolean,"
    f"tags:{_KV},logs:array<struct<time:long,data:{_KV}>>>>>>"
)

JVM2_SCHEMA = (
    "struct<applicationInstanceId:long,metrics:array<struct<time:long,"
    "cpu:struct<usagePercent:double>,"
    "memory:array<struct<isHeap:boolean,init:long,max:long,used:long,"
    "committed:long>>,"
    # proto field is spelled "commited" in the v2 JVM.proto (JVM.pb.go:312)
    "memoryPool:array<struct<type:string,init:long,max:long,used:long,"
    "commited:long>>,"
    "gc:array<struct<phrase:string,count:long,time:long>>>>>"
)

_EMPTY_PARTS = "CAST(array() AS array<bigint>)"


def _uid_parts(uid: Column) -> Column:
    return F.coalesce(uid.getField("idParts"), F.expr(_EMPTY_PARTS))


def _uid_original(uid: Column) -> Column:
    """convertUniIDToString: '%d.'-joined idParts (empty parts → '')."""
    return F.array_join(
        F.transform(_uid_parts(uid), lambda p: p.cast("string")), "."
    )


def _uid_jaeger(uid: Column) -> Column:
    """getTraceID jaeger branch: %016x(uint64(part)) over parts[1:]
    (Java's two's-complement %x on long == Go's uint64 cast)."""
    parts = _uid_parts(uid)
    return F.when(F.size(parts) <= 1, F.lit("")).otherwise(
        F.array_join(
            F.transform(
                F.slice(parts, 2, F.size(parts)),
                lambda p: F.format_string("%016x", p),
            ),
            "",
        )
    )


def _uid_is_jaeger(uid: Column) -> Column:
    return F.try_element_at(_uid_parts(uid), F.lit(1)) == F.lit(JAEGER_MAGIC)


def _uid_auto(uid: Column) -> Column:
    """getTraceID: format picked by the UniqueId's OWN first part."""
    return F.when(_uid_is_jaeger(uid), _uid_jaeger(uid)).otherwise(
        _uid_original(uid)
    )


def _hex04(idc: Column) -> Column:
    """Go fmt.Sprintf("%04x", int32)[0:4]: zero-padded to width 4 (sign
    included for negatives), then the FIRST four chars (lpad truncation
    keeps leading chars, matching the [0:4] slice)."""
    pos = F.lpad(F.lower(F.hex(idc)), 4, "0")
    neg = F.concat(F.lit("-"), F.lpad(F.lower(F.hex(-idc)), 3, "0"))
    return F.when(idc < 0, neg).otherwise(pos)


def _hex08_u32(idc: Column) -> Column:
    """%08x(uint32(int32)) — Java %x on int is two's-complement unsigned."""
    return F.format_string("%08x", idc.cast("int"))


def _mapped_properties(properties: Column) -> Column:
    """Raw v2 register properties → OT-keyed entries; unknown keys dropped
    (application_cache.go:170-184 switch has no default)."""
    mapping = F.create_map(
        *[F.lit(x) for kv in V2_PROPERTY_MAPPING.items() for x in kv]
    )
    mapped = F.transform(
        F.coalesce(properties, F.expr(f"CAST(array() AS {_KV})")),
        lambda p: _ent(
            F.element_at(mapping, p.getField("key")), p.getField("value")
        ),
    )
    return F.filter(mapped, lambda e: e.getField("k").isNotNull())


@dataclass
class SkywalkingV2SegmentParser(Operator):
    """UpstreamSegment protojson in ``source_key`` → one event per span with
    the OtSpan.ToLog key set (the same 17-key contract the v3 parser emits).

    ``mode="report"`` follows trace_segment_report_handle.go (v2 protocol:
    jaeger/original id formats, no db mapping); ``mode="legacy"`` follows
    trace_segment_handle.go (always-original ids, instance id read from
    ``applicationInstanceId``, db.connection_string on Exit+Database spans).

    ``instances``: (instanceId, applicationName, uuid, properties) —
    broadcast inner join (the reference drops the whole segment on a cache
    miss and asks the agent to re-register). ``endpoints``: (endpointId,
    endpointName) — spans with operationNameId != 0 and no endpoint row drop
    (report: error reset; legacy: silent nil)."""

    source_key: str = "content"
    mode: str = "report"
    component_mapping: Mapping[int, str] = field(default_factory=dict)

    def apply(
        self,
        df: DataFrame,
        instances: DataFrame,
        endpoints: DataFrame | None = None,
    ) -> DataFrame:
        up = F.from_json(fget(self.source_key), V2_UPSTREAM_SCHEMA)
        passthrough = [c for c in df.columns if c != FIELDS]
        legacy = self.mode == "legacy"
        inst_field = "applicationInstanceId" if legacy else "serviceInstanceId"

        first_gid = F.try_element_at(F.col("__up__.globalTraceIds"), F.lit(1))
        parsed = (
            df.select(*passthrough, up.alias("__up__"))
            .where(
                F.col("__up__").isNotNull()
                & (F.size(F.coalesce(
                    F.col("__up__.globalTraceIds"),
                    F.expr(f"CAST(array() AS array<{_UID}>)"),
                )) > 0)
                & F.col("__up__.segment.spans").isNotNull()
            )
            .select(
                *passthrough,
                F.col("__up__.segment").alias("__seg__"),
                (F.lit(False) if legacy else _uid_is_jaeger(first_gid)).alias(
                    "__jaeger__"
                ),
                (_uid_original(first_gid) if legacy else _uid_auto(first_gid)).alias(
                    "__trace_id__"
                ),
                F.coalesce(
                    F.col(f"__up__.segment.{inst_field}"), F.lit(0)
                ).alias("__inst_id__"),
            )
        )
        # traceSegmentId string: rendered by ITS OWN idParts[0] format in
        # report mode (getTraceID discards only the flag, not the format)
        seg_uid = F.col("__seg__.traceSegmentId")
        parsed = parsed.select(
            "*",
            (_uid_original(seg_uid) if legacy else _uid_auto(seg_uid)).alias(
                "__seg_id__"
            ),
        )

        inst = instances.select(
            F.col("instanceId").cast("long").alias("__inst_id__"),
            F.col("applicationName").alias("__app__"),
            F.coalesce(F.col("uuid"), F.lit("")).alias("__uuid__"),
            go_map_json(_mapped_properties(F.col("properties"))).alias("__res__"),
            _last_value(_mapped_properties(F.col("properties")), "host.name").alias(
                "__host__"
            ),
        )
        joined = parsed.join(F.broadcast(inst), "__inst_id__", "inner")

        ex = joined.select(
            *passthrough,
            "__jaeger__", "__trace_id__", "__seg_id__",
            "__app__", "__res__", "__host__",
            F.explode("__seg__.spans").alias("__span__"),
        )
        sp = F.col("__span__")

        # endpoint-registry name resolution (span dropped on miss)
        op_id = F.coalesce(sp.getField("operationNameId"), F.lit(0))
        if endpoints is not None:
            ep = endpoints.select(
                F.col("endpointId").cast("long").alias("__ep_id__"),
                F.col("endpointName").alias("__ep_name__"),
            )
            ex = ex.join(
                F.broadcast(ep), op_id == F.col("__ep_id__"), "left"
            ).where((op_id == 0) | F.col("__ep_name__").isNotNull())
            name = F.when(op_id != 0, F.col("__ep_name__")).otherwise(
                F.coalesce(sp.getField("operationName"), F.lit(""))
            )
        else:
            ex = ex.where(op_id == 0)
            name = F.coalesce(sp.getField("operationName"), F.lit(""))

        jaeger, seg_id = F.col("__jaeger__"), F.col("__seg_id__")

        def gen_span_id(idc: Column) -> Column:
            # generateSpanIDByJaeger: traceSegmentID[len-12:] + %04x(id)[0:4]
            original = F.concat(seg_id, F.lit("."), idc.cast("string"))
            if legacy:
                return original
            return F.when(
                jaeger,
                F.concat(F.substring(seg_id, -12, 12), _hex04(idc)),
            ).otherwise(original)

        def gen_parent_from_ref(r: Column) -> Column:
            rpid = F.coalesce(r.getField("parentSpanId"), F.lit(0))
            original = F.concat(
                _uid_original(r.getField("parentTraceSegmentId")),
                F.lit("."),
                rpid.cast("string"),
            )
            if legacy:
                return original
            return F.when(
                jaeger,
                F.concat(
                    _hex08_u32(
                        F.coalesce(r.getField("parentServiceInstanceId"), F.lit(0))
                    ),
                    _hex08_u32(rpid),
                ),
            ).otherwise(original)

        return ex.select(
            *passthrough,
            ot_span_fields(
                sp,
                refs_t=_REF2,
                name=name,
                trace_id=F.col("__trace_id__"),
                service=F.col("__app__"),
                host=F.col("__host__"),
                resource=F.col("__res__"),
                span_id=gen_span_id,
                ref_span_id=gen_parent_from_ref,
                ref_trace_id=lambda r: F.col("__trace_id__"),
                component_mapping=self.component_mapping,
                # only the legacy handler maps db.connection_string
                # (trace_segment_handle.go:211-229)
                db_mapping=legacy,
            ).alias(FIELDS),
        )


@dataclass
class SkywalkingV2JvmMetricParser(Operator):
    """JVMMetrics protojson → skywalking_jvm_* metric logs
    (jvm_metric_handle.go:34-118). Labels: service(applicationName) /
    serviceInstance(uuid) / host — resolved via the instances lookup; a
    cache miss drops the payload (the reference logs and returns).

    GC label parity: ``labels.CloneInto(memLabels)`` aliases gcLabels to the
    re-seated base map, so gc_time is emitted with phrase=<NEW|OLD> (enum
    string) and gc_count with phrase=Young|Old — both WITHOUT the type label
    the memory loops used."""

    source_key: str = "content"

    def apply(self, df: DataFrame, instances: DataFrame) -> DataFrame:
        coll = F.from_json(fget(self.source_key), JVM2_SCHEMA)
        passthrough = [c for c in df.columns if c != FIELDS]
        inst = instances.select(
            F.col("instanceId").cast("long").alias("__inst_id__"),
            F.col("applicationName").alias("__app__"),
            F.coalesce(F.col("uuid"), F.lit("")).alias("__uuid__"),
            _last_value(_mapped_properties(F.col("properties")), "host.name").alias(
                "__host__"
            ),
        )
        ex = (
            df.select(*passthrough, coll.alias("__c__"))
            .where(F.col("__c__").isNotNull() & F.col("__c__.metrics").isNotNull())
            .select(
                *passthrough,
                F.coalesce(F.col("__c__.applicationInstanceId"), F.lit(0)).alias(
                    "__inst_id__"
                ),
                F.explode("__c__.metrics").alias("__mt__"),
            )
            .join(F.broadcast(inst), "__inst_id__", "inner")
        )
        mt = F.col("__mt__")
        # sorted label order: host < phrase < service < serviceInstance < type
        base = F.concat(
            F.lit("host#$#"), F.col("__host__"),
            F.lit("|service#$#"), F.col("__app__"),
            F.lit("|serviceInstance#$#"), F.col("__uuid__"),
        )

        def gc_rows(g: Column) -> Column:
            phrase_enum = F.coalesce(g.getField("phrase"), F.lit("NEW"))
            lb_time = F.concat(
                F.lit("host#$#"), F.col("__host__"),
                F.lit("|phrase#$#"), phrase_enum,
                F.lit("|service#$#"), F.col("__app__"),
                F.lit("|serviceInstance#$#"), F.col("__uuid__"),
            )
            lb_count = F.concat(
                F.lit("host#$#"), F.col("__host__"),
                F.lit("|phrase#$#"),
                F.when(phrase_enum == "NEW", F.lit("Young")).otherwise(F.lit("Old")),
                F.lit("|service#$#"), F.col("__app__"),
                F.lit("|serviceInstance#$#"), F.col("__uuid__"),
            )
            return F.array(
                _row("skywalking_jvm_gc_time", lb_time, F.coalesce(g.getField("time"), F.lit(0))),
                _row("skywalking_jvm_gc_count", lb_count, F.coalesce(g.getField("count"), F.lit(0))),
            )

        empty = F.expr("CAST(array() AS array<struct<name:string,labels:string,value:double>>)")
        rows = F.concat(
            F.array(
                _row(
                    "skywalking_jvm_cpu_usage",
                    base,
                    F.coalesce(mt.getField("cpu").getField("usagePercent"), F.lit(0.0)),
                )
            ),
            F.coalesce(F.flatten(F.transform(mt.getField("memory"), lambda m: jvm_memory_rows(base, m))), empty),
            F.coalesce(F.flatten(F.transform(mt.getField("memoryPool"), lambda p: jvm_pool_rows(base, p, "commited"))), empty),
            F.coalesce(F.flatten(F.transform(mt.getField("gc"), gc_rows)), empty),
        )
        return _metric_rows_to_events(
            ex, passthrough, rows, F.coalesce(mt.getField("time"), F.lit(0))
        )
