"""SkyWalking v2 conversion tests — id-format rules from
trace_segment_report_handle.go (jaeger magic 648495579, %016x/%08x/%04x
renders), legacy-handler db mapping from trace_segment_handle.go, registry
drop rules from application_cache.go, and the jvm_metric_handle.go GC
phrase quirk."""

from __future__ import annotations

import json

from loongcollector_spark.operators.base import to_events
from loongcollector_spark.operators.skywalking_v2 import (
    SkywalkingV2JvmMetricParser,
    SkywalkingV2SegmentParser,
)

JAEGER_MAGIC = 648495579


def _events(spark, payloads):
    return to_events(
        spark.createDataFrame(
            [(i, json.dumps(p)) for i, p in enumerate(payloads)],
            "doc_id long, content string",
        )
    )


def _instances(spark, rows=None):
    rows = rows if rows is not None else [
        (
            11,
            "app-a",
            "uuid-a",
            [
                {"key": "host_name", "value": "host-a"},
                {"key": "os_name", "value": "Linux"},
                {"key": "language", "value": "java"},
                {"key": "custom_key", "value": "dropped"},
            ],
        )
    ]
    return spark.createDataFrame(
        rows,
        "instanceId int, applicationName string, uuid string, "
        "properties array<struct<key:string,value:string>>",
    )


def _endpoints(spark):
    return spark.createDataFrame(
        [(7, "endpoint-7")], "endpointId int, endpointName string"
    )


def _fields(df):
    return [r["fields"] for r in df.orderBy("doc_id").collect()]


def _upstream(gids, seg_id_parts, spans, inst=11, key="serviceInstanceId"):
    return {
        "globalTraceIds": [{"idParts": p} for p in gids],
        "segment": {
            "traceSegmentId": {"idParts": seg_id_parts},
            key: inst,
            "spans": spans,
        },
    }


BASE_SPAN = {
    "spanId": 2,
    "parentSpanId": 1,
    "startTime": 1663904182000,
    "endTime": 1663904182050,
    "operationName": "op-a",
    "spanType": "Exit",
    "spanLayer": "Database",
    "peer": "10.1.2.3:3306",
    "tags": [{"key": "db.type", "value": "MySQL"}],
    "logs": [
        {
            "time": 1663904182001,
            "data": [{"key": "error.kind", "value": "SqlError"}],
        }
    ],
    "isError": True,
}


def test_report_original_format_ids(spark):
    up = _upstream([[1, 2, 3]], [4, 5, 6], [BASE_SPAN])
    out = _fields(
        SkywalkingV2SegmentParser().apply(_events(spark, [up]), _instances(spark))
    )
    assert len(out) == 1
    f = out[0]
    assert f["traceID"] == "1.2.3"
    assert f["spanID"] == "4.5.6.2"
    assert f["parentSpanID"] == "4.5.6.1"
    assert f["service"] == "app-a"
    assert f["host"] == "host-a"
    # unknown register keys are dropped; known keys OT-mapped
    assert json.loads(f["resource"]) == {
        "host.name": "host-a",
        "os.type": "Linux",
        "telemetry.sdk.language": "java",
    }
    assert f["kind"] == "client"
    assert f["statusCode"] == "ERROR"
    assert f["statusMessage"] == "SqlError"
    # the REPORT handler has no db.connection_string mapping
    attr = json.loads(f["attribute"])
    assert "db.connection_string" not in attr
    assert attr["db.system"] == "MySQL"
    assert attr["net.peer.ip"] == "10.1.2.3"
    assert attr["net.peer.port"] == "3306"
    assert f["start"] == "1663904182000000"
    assert f["duration"] == "50000"
    assert f["__ts_sec__"] == "1663904182"


def test_report_jaeger_format_ids(spark):
    # jaeger: traceID = %016x over gid parts[1:]; segment id rendered by its
    # own (non-jaeger) format; spanID = segid[-12:] + %04x(spanId)[0:4]
    up = _upstream(
        [[JAEGER_MAGIC, 255, -1]],
        [111222333444555, 666],
        [dict(BASE_SPAN, spanId=10, parentSpanId=-1)],
    )
    out = _fields(
        SkywalkingV2SegmentParser().apply(_events(spark, [up]), _instances(spark))
    )
    f = out[0]
    assert f["traceID"] == "00000000000000ff" + "f" * 16
    seg = "111222333444555.666"
    assert f["spanID"] == seg[-12:] + "000a"
    assert f["parentSpanID"] == ""


def test_report_jaeger_refs_parent_and_links(spark):
    ref = {
        "parentTraceSegmentId": {"idParts": [9, 8]},
        "parentSpanId": 3,
        "parentServiceInstanceId": 12,
    }
    up = _upstream(
        [[JAEGER_MAGIC, 1]], [1, 2], [dict(BASE_SPAN, refs=[ref])]
    )
    out = _fields(
        SkywalkingV2SegmentParser().apply(_events(spark, [up]), _instances(spark))
    )
    f = out[0]
    # jaeger parent: %08x(uint32(instId)) + %08x(uint32(spanId))
    assert f["parentSpanID"] == "0000000c00000003"
    links = json.loads(f["links"])
    assert links == [
        {
            "traceID": "0000000000000001",
            "spanID": "0000000c00000003",
            "traceState": "",
            "attributes": None,
        }
    ]
    # original-format refs in a non-jaeger segment
    up2 = _upstream([[5]], [1, 2], [dict(BASE_SPAN, refs=[ref])])
    f2 = _fields(
        SkywalkingV2SegmentParser().apply(_events(spark, [up2]), _instances(spark))
    )[0]
    assert f2["parentSpanID"] == "9.8.3"
    assert json.loads(f2["links"])[0]["traceID"] == "5"


def test_registry_drop_rules(spark):
    # instance miss → segment dropped; endpoint miss → span dropped
    ok = _upstream([[1]], [1], [dict(BASE_SPAN, operationNameId=7)])
    miss_inst = _upstream([[2]], [2], [BASE_SPAN], inst=99)
    miss_ep = _upstream([[3]], [3], [dict(BASE_SPAN, operationNameId=8)])
    no_gid = {"globalTraceIds": [], "segment": {"traceSegmentId": {"idParts": [1]}, "serviceInstanceId": 11, "spans": [BASE_SPAN]}}
    out = _fields(
        SkywalkingV2SegmentParser().apply(
            _events(spark, [ok, miss_inst, miss_ep, no_gid]),
            _instances(spark),
            endpoints=_endpoints(spark),
        )
    )
    assert len(out) == 1
    assert out[0]["name"] == "endpoint-7"


def test_mq_kind_and_messaging_system(spark):
    span = dict(
        BASE_SPAN,
        spanType="Entry",
        spanLayer="MQ",
        componentId=39,
        tags=[{"key": "mq.topic", "value": "t1"}],
        logs=[],
        isError=False,
    )
    up = _upstream([[1]], [1], [span])
    f = _fields(
        SkywalkingV2SegmentParser(component_mapping={39: "kafka"}).apply(
            _events(spark, [up]), _instances(spark)
        )
    )[0]
    assert f["kind"] == "consumer"
    attr = json.loads(f["attribute"])
    assert attr["messaging.system"] == "kafka"
    assert attr["messaging.destination"] == "t1"
    assert attr["messaging.destination_kind"] == "topic"
    assert attr["mq.topic"] == "t1"
    # unmapped component id → "MessagingSystem" fallback
    f2 = _fields(
        SkywalkingV2SegmentParser().apply(_events(spark, [up]), _instances(spark))
    )[0]
    assert json.loads(f2["attribute"])["messaging.system"] == "MessagingSystem"


def test_legacy_mode_db_mapping_and_original_ids(spark):
    up = _upstream(
        [[JAEGER_MAGIC, 255]], [4, 5], [BASE_SPAN], key="applicationInstanceId"
    )
    f = _fields(
        SkywalkingV2SegmentParser(mode="legacy").apply(
            _events(spark, [up]), _instances(spark)
        )
    )[0]
    # legacy never renders jaeger ids — magic part joins verbatim
    assert f["traceID"] == f"{JAEGER_MAGIC}.255"
    assert f["spanID"] == "4.5.2"
    # legacy DOES map db.connection_string on Exit+Database spans
    assert json.loads(f["attribute"])["db.connection_string"] == "mysql://10.1.2.3:3306"


def test_jvm_metrics_gc_phrase_quirk(spark):
    payload = {
        "applicationInstanceId": 11,
        "metrics": [
            {
                "time": 1663904182000,
                "cpu": {"usagePercent": 1.5},
                "memory": [
                    {"isHeap": True, "init": 1, "max": 2, "used": 3, "committed": 4}
                ],
                "memoryPool": [
                    {"type": "NEWGEN_USAGE", "init": 5, "max": 6, "used": 7, "commited": 8}
                ],
                "gc": [{"phrase": "OLD", "count": 9, "time": 10}],
            }
        ],
    }
    out = _fields(
        SkywalkingV2JvmMetricParser().apply(_events(spark, [payload]), _instances(spark))
    )
    by_name = {}
    for f in out:
        by_name.setdefault(f["__name__"], []).append(f)
    base = "host#$#host-a|service#$#app-a|serviceInstance#$#uuid-a"
    assert by_name["skywalking_jvm_cpu_usage"][0]["__labels__"] == base
    assert by_name["skywalking_jvm_cpu_usage"][0]["__value__"] == "1.5"
    assert by_name["skywalking_jvm_memory_used"][0]["__labels__"] == base + "|type#$#heap"
    assert by_name["skywalking_jvm_memory_pool_committed"][0]["__value__"] == "8"
    assert (
        by_name["skywalking_jvm_memory_pool_max"][0]["__labels__"]
        == base + "|type#$#NEWGEN_USAGE"
    )
    # gc_time keeps the raw enum phrase; gc_count maps NEW→Young else Old;
    # neither carries the type label (CloneInto re-seats the shared map)
    assert (
        by_name["skywalking_jvm_gc_time"][0]["__labels__"]
        == "host#$#host-a|phrase#$#OLD|service#$#app-a|serviceInstance#$#uuid-a"
    )
    assert (
        by_name["skywalking_jvm_gc_count"][0]["__labels__"]
        == "host#$#host-a|phrase#$#Old|service#$#app-a|serviceInstance#$#uuid-a"
    )
    assert by_name["skywalking_jvm_gc_time"][0]["__time_nano__"] == "1663904182000000000"
    # instance miss → payload dropped
    gone = _fields(
        SkywalkingV2JvmMetricParser().apply(
            _events(spark, [dict(payload, applicationInstanceId=99)]),
            _instances(spark),
        )
    )
    assert gone == []


def test_legacy_span_matches_v3_span(spark):
    """The v2 legacy handler and v3 render the same span to the same
    OtSpan.ToLog map: all 17 keys and __ts_sec__."""
    from loongcollector_spark.operators.skywalking import SkywalkingSegmentParser

    trace_id = "1.2.3"
    tags = [{"key": "db.type", "value": "MySQL"}, {"key": "mq.topic", "value": "t1"}]
    logs = [{"time": 1663904182001, "data": [{"key": "error.kind", "value": "E"}]}]
    mq = dict(BASE_SPAN, spanId=1, parentSpanId=0, spanType="Entry", spanLayer="MQ",
              componentId=39, tags=tags, logs=logs)
    db = dict(BASE_SPAN, spanId=2, parentSpanId=1, tags=tags, logs=logs)
    v2_ref = {"parentTraceSegmentId": {"idParts": [9, 8]}, "parentSpanId": 3,
              "parentServiceInstanceId": 12}
    v3_ref = {"traceId": trace_id, "parentTraceSegmentId": "9.8", "parentSpanId": 3}
    v2 = _upstream(
        [[1, 2, 3]], [4, 5], [dict(s, refs=[v2_ref]) for s in (mq, db)],
        key="applicationInstanceId",
    )
    v3 = {
        "traceId": trace_id,
        "traceSegmentId": "4.5",
        "service": "app-a",
        "serviceInstance": "inst-a",
        "spans": [dict(s, refs=[v3_ref]) for s in (mq, db)],
    }
    props = [("host", "host-a"), ("os", "Linux"), ("language", "java")]
    v2_keys = {"host": "host_name", "os": "os_name", "language": "language"}
    v3_keys = {"host": "hostname", "os": "OS Name", "language": "language"}
    instances = _instances(spark, [(11, "app-a", "uuid-a", [
        {"key": v2_keys[k], "value": v} for k, v in props])])
    resources = spark.createDataFrame(
        [("app-a", "inst-a", [{"key": v3_keys[k], "value": v} for k, v in props])],
        "service string, serviceInstance string, "
        "properties array<struct<key:string,value:string>>",
    )
    mapping = {39: "kafka"}
    got2 = _fields(
        SkywalkingV2SegmentParser(mode="legacy", component_mapping=mapping).apply(
            _events(spark, [v2]), instances
        )
    )
    got3 = _fields(
        SkywalkingSegmentParser(component_mapping=mapping).apply(
            _events(spark, [v3]), resources=resources
        )
    )
    by_id2 = {f["spanID"]: f for f in got2}
    by_id3 = {f["spanID"]: f for f in got3}
    assert sorted(by_id2) == sorted(by_id3) == ["4.5.1", "4.5.2"]
    for sid in by_id3:
        assert len(by_id3[sid]) == 18
        assert by_id2[sid] == by_id3[sid]
    assert json.loads(by_id3["4.5.2"]["attribute"])["db.connection_string"] == (
        "mysql://10.1.2.3:3306"
    )
    assert json.loads(by_id3["4.5.1"]["attribute"])["messaging.system"] == "kafka"
