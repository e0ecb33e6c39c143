"""OTLP trace reshaping — processor_otel_trace (Format=json).

Reference: plugins/processor/otel/processor_otel_trace.go:31-155 delegating to
pkg/protocol/decoder/opentelemetry/otlp_trace_parser.go:19-284: each span in
the OTLP payload becomes one log event with the fixed key set
(host, service, resource, otlp.name, otlp.version, traceID, spanID,
parentSpanID, kind, name, links, logs, traceState, start, end, duration,
attribute, statusCode, statusMessage).

Spark-first: ``from_json`` with the OTLP/JSON schema → three explodes
(resourceSpans → scopeSpans → spans) → field map projection. Pure Column
expressions.

Scope: Format=json (the OTLP/JSON wire text). Format=protobuf/protojson are
binary/proto wire decodes — out of scope like the other PB ingestion paths.
Divergences (documented): Go ``json.Marshal`` HTML-escapes ``<>&`` and
formats doubles with its own shortest-round-trip algorithm — attribute JSON
matches for string/int/bool values (sorted keys replicated); a zero/absent
end timestamp uses the reference's wall-clock fallback (nondeterministic
there too)."""

from __future__ import annotations

from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from .base import FIELDS, Operator
from .common import flet
from .convert import json_quote
from .gofmt import go_g

_ATTR = (
    "array<struct<key:string,value:struct<stringValue:string,intValue:string,"
    "doubleValue:double,boolValue:boolean>>>"
)
_EVENT = f"struct<timeUnixNano:string,name:string,attributes:{_ATTR}>"
_LINK = f"struct<traceId:string,spanId:string,attributes:{_ATTR}>"


def _trace_schema(protojson: bool) -> str:
    """OTLP trace from_json schema. protojson carries enums as either ints
    or names ("SPAN_KIND_SERVER"), so kind/status.code parse as strings
    there."""
    enum_t = "string" if protojson else "int"
    span = (
        "struct<traceId:string,spanId:string,parentSpanId:string,name:string,"
        f"kind:{enum_t},startTimeUnixNano:string,endTimeUnixNano:string,"
        f"traceState:string,attributes:{_ATTR},events:array<{_EVENT}>,"
        f"links:array<{_LINK}>,status:struct<code:{enum_t},message:string>>"
    )
    return (
        "struct<resourceSpans:array<struct<"
        f"resource:struct<attributes:{_ATTR}>,"
        "scopeSpans:array<struct<scope:struct<name:string,version:string>,"
        f"spans:array<{span}>>>>>>"
    )


OTLP_TRACE_SCHEMA = _trace_schema(False)

_KINDS = {1: "internal", 2: "server", 3: "client", 4: "producer", 5: "consumer"}
_KIND_ENUM = {
    1: "SPAN_KIND_INTERNAL",
    2: "SPAN_KIND_SERVER",
    3: "SPAN_KIND_CLIENT",
    4: "SPAN_KIND_PRODUCER",
    5: "SPAN_KIND_CONSUMER",
}
_HEX_ID_RX = "^([0-9a-fA-F]{2})*$"


def _attr_value_json(v: Column) -> Column:
    """OTLP any-value → the JSON text Go's marshal of AsRaw() emits
    (OTLP/JSON carries int64 as a STRING; AsRaw turns it back into a bare
    number)."""
    return (
        F.when(v.getField("stringValue").isNotNull(), json_quote(v.getField("stringValue")))
        .when(v.getField("boolValue").isNotNull(), v.getField("boolValue").cast("string"))
        .when(v.getField("intValue").isNotNull(), v.getField("intValue"))
        .when(v.getField("doubleValue").isNotNull(), v.getField("doubleValue").cast("string"))
        .otherwise(F.lit("null"))
    )


def attrs_to_json(attrs: Column, exclude: tuple[str, ...] = ()) -> Column:
    """attributes array → ``{"k":v,...}`` with SORTED keys (Go map marshal
    order)."""
    base = F.coalesce(attrs, F.expr(f"CAST(array() AS {_ATTR})"))
    if exclude:
        ex = F.array(*[F.lit(e) for e in exclude])
        base = F.filter(base, lambda e: ~F.array_contains(ex, e.getField("key")))
    rendered = F.transform(
        F.array_sort(base),
        lambda e: F.concat(
            json_quote(e.getField("key")), F.lit(":"), _attr_value_json(e.getField("value"))
        ),
    )
    return F.concat(F.lit("{"), F.array_join(rendered, ","), F.lit("}"))


def _attr_get(attrs: Column, key: str) -> Column:
    hit = F.filter(
        F.coalesce(attrs, F.expr(f"CAST(array() AS {_ATTR})")),
        lambda e: e.getField("key") == key,
    )
    # try_element_at: absent key → NULL (ANSI element_at throws on empty)
    return F.try_element_at(hit, F.lit(1)).getField("value").getField("stringValue")


def _events_json(events: Column) -> Column:
    """eventsToString: [{"attribute":{...},"name":...,"time":ns}] sorted keys."""
    base = F.coalesce(events, F.expr(f"CAST(array() AS array<{_EVENT}>)"))
    rendered = F.transform(
        base,
        lambda e: F.concat(
            F.lit('{"attribute":'),
            attrs_to_json(e.getField("attributes")),
            F.lit(',"name":'),
            json_quote(F.coalesce(e.getField("name"), F.lit(""))),
            F.lit(',"time":'),
            F.coalesce(e.getField("timeUnixNano"), F.lit("0")),
            F.lit("}"),
        ),
    )
    return F.concat(F.lit("["), F.array_join(rendered, ","), F.lit("]"))


def _links_json(links: Column) -> Column:
    """spanLinksToString: [{"attribute":{...},"spanID":...,"traceID":...}]."""
    base = F.coalesce(links, F.expr(f"CAST(array() AS array<{_LINK}>)"))
    rendered = F.transform(
        base,
        lambda l: F.concat(
            F.lit('{"attribute":'),
            attrs_to_json(l.getField("attributes")),
            F.lit(',"spanID":'),
            json_quote(F.lower(F.coalesce(l.getField("spanId"), F.lit("")))),
            F.lit(',"traceID":'),
            json_quote(F.lower(F.coalesce(l.getField("traceId"), F.lit("")))),
            F.lit("}"),
        ),
    )
    return F.concat(F.lit("["), F.array_join(rendered, ","), F.lit("]"))


@dataclass
class OtelTraceParser(Operator):
    """fields[source_key] = OTLP/JSON trace payload → one event ROW per span
    with the reference's 18-key field map; undecodable payloads are dropped
    (processor_otel_trace.go:57-66 error path).

    format="protojson" (processor_otel_trace.go:87-90 →
    otlp_trace_parser.go:291-327 ConvertResourceSpans): the payload is a
    single ResourceSpans object (wrapped into resourceSpans=[...] so the
    shared schema applies), kind/status may be enum NAMES or ints, and span
    ids follow the *NeedDecode flags — True treats the JSON string as hex
    (the reference base64-re-encodes protojson's decoded bytes, recovering
    the original string, then hex-decodes it; output = lowercased input;
    a non-hex id fails the whole payload), False hex-encodes protojson's
    base64-decoded bytes. Divergence (documented): link ids always pass
    through lowercased, and an invalid base64 id in the False path yields ""
    for that span instead of failing the payload."""

    source_key: str = "content"
    format: str = "json"
    trace_id_need_decode: bool = False
    span_id_need_decode: bool = False
    parent_span_id_need_decode: bool = False

    def apply(self, df: DataFrame) -> DataFrame:
        pj = self.format == "protojson"
        src = F.element_at(F.col(FIELDS), F.lit(self.source_key))
        if pj:
            src = F.concat(F.lit('{"resourceSpans":['), src, F.lit("]}"))
        parsed = F.from_json(src, _trace_schema(pj))
        keep = [c for c in df.columns if c != FIELDS]
        rs = (
            df.withColumn("__rs__", parsed.getField("resourceSpans"))
            .filter(F.col("__rs__").isNotNull())
        )
        if pj:
            # hex.DecodeString error drops the WHOLE payload
            # (otlp_trace_parser.go:302-320 returns err → processLog skips)
            flagged = [
                ("traceId", self.trace_id_need_decode),
                ("spanId", self.span_id_need_decode),
                ("parentSpanId", self.parent_span_id_need_decode),
            ]

            def span_ok(sp: Column) -> Column:
                ok = F.lit(True)
                for fld, need in flagged:
                    if need:
                        v = F.coalesce(sp.getField(fld), F.lit(""))
                        ok = ok & v.rlike(_HEX_ID_RX)
                return ok

            bad = F.exists(
                F.col("__rs__"),
                lambda r: F.exists(
                    r.getField("scopeSpans"),
                    lambda s: F.exists(
                        s.getField("spans"), lambda sp: ~span_ok(sp)
                    ),
                ),
            )
            rs = rs.filter(~bad)
        rs = rs.select(*keep, F.explode("__rs__").alias("__r__"))
        ss = rs.select(
            *keep,
            F.col("__r__.resource.attributes").alias("__rattrs__"),
            F.explode("__r__.scopeSpans").alias("__s__"),
        )
        spans = ss.select(
            *keep,
            "__rattrs__",
            F.col("__s__.scope").alias("__scope__"),
            F.explode("__s__.spans").alias("__sp__"),
        )

        def _id(c: Column, need_decode: bool) -> Column:
            raw = F.coalesce(c, F.lit(""))
            if not pj or need_decode:
                # json: ids are hex text already; protojson+NeedDecode: the
                # base64-reencode+hexdecode round trip recovers the input
                return F.lower(raw)
            decoded = F.try_to_binary(raw, F.lit("base64"))
            return F.lower(F.coalesce(F.hex(decoded), F.lit("")))

        def build(row: Column) -> Column:
            rattrs = row.getField("rattrs")
            scope = row.getField("scope")
            sp = row.getField("sp")
            def us(ns: Column) -> Column:
                # ns values exceed double precision (1.6e18 > 2^53): divide in
                # decimal, not the default double division
                return F.floor(ns.cast("decimal(25,0)") / 1000).cast("long")

            start_ns = F.coalesce(
                sp.getField("startTimeUnixNano").try_cast("long"), F.lit(0)
            )
            start_us = us(start_ns)
            end_ns_raw = F.coalesce(
                sp.getField("endTimeUnixNano").try_cast("long"), F.lit(0)
            )
            # endTimeNano == 0 → wall clock (otlp_trace_parser.go:133-136)
            end_ns = F.when(
                end_ns_raw == 0, F.unix_micros(F.current_timestamp()) * 1000
            ).otherwise(end_ns_raw)
            end_us = us(end_ns)
            kind = sp.getField("kind")
            kind_str = F.lit("")
            for k, v in _KINDS.items():
                hit = (
                    (kind == str(k)) | (kind == _KIND_ENUM[k])
                    if pj
                    else (kind == k)
                )
                kind_str = F.when(hit, F.lit(v)).otherwise(kind_str)
            code = sp.getField("status").getField("code")
            if pj:
                status = (
                    F.when((code == "2") | (code == "STATUS_CODE_ERROR"), "ERROR")
                    .when((code == "1") | (code == "STATUS_CODE_OK"), "OK")
                    .otherwise("UNSET")
                )
            else:
                status = (
                    F.when(code == 2, "ERROR").when(code == 1, "OK").otherwise("UNSET")
                )
            pairs = [
                ("host", F.coalesce(_attr_get(rattrs, "host.name"), F.lit(""))),
                ("service", F.coalesce(_attr_get(rattrs, "service.name"), F.lit(""))),
                ("resource", attrs_to_json(rattrs, ("host.name", "service.name"))),
                ("otlp.name", F.coalesce(scope.getField("name"), F.lit(""))),
                ("otlp.version", F.coalesce(scope.getField("version"), F.lit(""))),
                ("traceID", _id(sp.getField("traceId"), self.trace_id_need_decode)),
                ("spanID", _id(sp.getField("spanId"), self.span_id_need_decode)),
                (
                    "parentSpanID",
                    _id(sp.getField("parentSpanId"), self.parent_span_id_need_decode),
                ),
                ("kind", kind_str),
                ("name", F.coalesce(sp.getField("name"), F.lit(""))),
                ("links", _links_json(sp.getField("links"))),
                ("logs", _events_json(sp.getField("events"))),
                ("traceState", F.coalesce(sp.getField("traceState"), F.lit(""))),
                ("start", start_us.cast("string")),
                ("end", end_us.cast("string")),
                ("duration", us(end_ns - start_ns).cast("string")),
                ("attribute", attrs_to_json(sp.getField("attributes"))),
                ("statusCode", status),
                ("statusMessage", F.coalesce(sp.getField("status").getField("message"), F.lit(""))),
            ]
            args: list[Column] = []
            for k, v in pairs:
                args += [F.lit(k), v]
            return F.create_map(*args)

        bound = F.struct(
            F.col("__rattrs__").alias("rattrs"),
            F.col("__scope__").alias("scope"),
            F.col("__sp__").alias("sp"),
        )
        return spans.select(*keep, flet(bound, build).alias(FIELDS))


# --- OTLP metrics → SLS metric logs -----------------------------------------

_EXM = (
    f"struct<timeUnixNano:string,asDouble:double,asInt:string,traceId:string,"
    f"spanId:string,filteredAttributes:{_ATTR}>"
)
_MDP = (
    f"struct<attributes:{_ATTR},timeUnixNano:string,asDouble:double,asInt:string,"
    f"exemplars:array<{_EXM}>>"
)
_HDP = (
    f"struct<attributes:{_ATTR},timeUnixNano:string,count:string,sum:double,"
    "min:double,max:double,explicitBounds:array<double>,bucketCounts:array<string>,"
    f"exemplars:array<{_EXM}>>"
)
_SDP = (
    f"struct<attributes:{_ATTR},timeUnixNano:string,count:string,sum:double,"
    "quantileValues:array<struct<quantile:double,value:double>>>"
)
_BUCKETS = "struct<offset:int,bucketCounts:array<string>>"
_EDP = (
    f"struct<attributes:{_ATTR},timeUnixNano:string,count:string,sum:double,"
    f"min:double,max:double,scale:int,zeroCount:string,positive:{_BUCKETS},"
    f"negative:{_BUCKETS},exemplars:array<{_EXM}>>"
)
_METRIC = (
    f"struct<name:string,gauge:struct<dataPoints:array<{_MDP}>>,"
    f"sum:struct<dataPoints:array<{_MDP}>,isMonotonic:boolean>,"
    f"histogram:struct<dataPoints:array<{_HDP}>>,"
    f"summary:struct<dataPoints:array<{_SDP}>>,"
    f"exponentialHistogram:struct<dataPoints:array<{_EDP}>>>"
)
OTLP_METRIC_SCHEMA = (
    "struct<resourceMetrics:array<struct<"
    f"resource:struct<attributes:{_ATTR}>,"
    f"scopeMetrics:array<struct<metrics:array<{_METRIC}>>>>>>"
)

_ROW = "struct<nm:string,lb:string,t:string,v:double>"


def _attr_value_text(v: Column) -> Column:
    """anyValueToString (otlp_metric_parser.go:26-46) for the scalar kinds."""
    return (
        F.when(v.getField("stringValue").isNotNull(), v.getField("stringValue"))
        .when(v.getField("boolValue").isNotNull(), v.getField("boolValue").cast("string"))
        .when(v.getField("intValue").isNotNull(), v.getField("intValue"))
        .when(v.getField("doubleValue").isNotNull(), go_g(v.getField("doubleValue")))
        .otherwise(F.lit(""))
    )


def _label_entries(attrs: Column) -> Column:
    base = F.coalesce(attrs, F.expr(f"CAST(array() AS {_ATTR})"))
    return F.transform(
        base,
        lambda e: F.struct(
            e.getField("key").alias("k"), _attr_value_text(e.getField("value")).alias("v")
        ),
    )


def labels_str(entries: Column) -> Column:
    """MetricLabels.String() (log_helper.go:209-224): sort by key, join
    k#$#v with '|'."""
    return F.array_join(
        F.transform(
            F.array_sort(entries),
            lambda e: F.concat(e.getField("k"), F.lit("#$#"), e.getField("v")),
        ),
        "|",
    )


@dataclass
class OtelMetricParser(Operator):
    """processor_otel_metric Format=json — ConvertOtlpMetrics
    (otlp_metric_parser.go:48-246): every OTLP data point becomes SLS metric
    log rows with fields __name__ / __time_nano__ / __labels__ / __value__.

    Covered: gauge, sum (+isMonotonic label), histogram (_sum/_min/_max when
    non-zero, _count, CUMULATIVE le-bucket rows with the +Inf bound), summary
    (_sum/_count + quantile rows), exponential histogram
    (exponentialHistogram2Logs, otlp_metric_parser.go:77-138: base =
    2^(2^-scale); per-bucket le keys "(lower,upper]" / "[-upper,-lower)" plus
    the positive.offset / negative.offset / zero.count pseudo-buckets — the
    offset rows are emitted even when a side has no buckets, matching
    GetPositive()'s nil-default offset 0), and exemplar rows on
    gauge/sum/histogram/exp-histogram data points (exemplarMetricToLogs,
    go:247-266: name+_exemplars, traceId/spanId hex labels when non-empty,
    filteredAttributes appended, value asDouble|asInt|0, exemplar's own
    timestamp; the sum exemplars inherit the ismonotonic label because
    sum2Logs appends it before the exemplar loop). Float text is Go's
    strconv 'g' rendering (gofmt.go_g)."""

    source_key: str = "content"
    format: str = "json"

    def apply(self, df: DataFrame) -> DataFrame:
        src = F.element_at(F.col(FIELDS), F.lit(self.source_key))
        if self.format == "protojson":
            # processor_otel_metric.go:126-140: the protojson payload is a
            # single ResourceMetrics object → wrap so the shared schema
            # applies (no enum/bytes fields are read on the metric path:
            # isMonotonic is a bool and temporality is unused, so the json
            # schema holds verbatim)
            src = F.concat(F.lit('{"resourceMetrics":['), src, F.lit("]}"))
        parsed = F.from_json(src, OTLP_METRIC_SCHEMA)
        keep = [c for c in df.columns if c != FIELDS]
        rm = (
            df.withColumn("__rm__", parsed.getField("resourceMetrics"))
            .filter(F.col("__rm__").isNotNull())
            .select(*keep, F.explode("__rm__").alias("__r__"))
        )
        sm = rm.select(
            *keep,
            F.col("__r__.resource.attributes").alias("__rattrs__"),
            F.explode("__r__.scopeMetrics").alias("__s__"),
        )
        mt = sm.select(
            *keep, "__rattrs__", F.explode("__s__.metrics").alias("__m__")
        )

        def row(nm: Column, lb: Column, t: Column, v: Column) -> Column:
            return F.struct(nm.alias("nm"), lb.alias("lb"), t.alias("t"), v.alias("v"))

        def build_rows(b: Column) -> Column:
            rlb = _label_entries(b.getField("rattrs"))
            m = b.getField("m")
            name = m.getField("name")

            def dp_labels(dp: Column, extra: Column | None = None) -> Column:
                ents = F.concat(rlb, _label_entries(dp.getField("attributes")))
                if extra is not None:
                    ents = F.concat(ents, extra)
                return labels_str(ents)

            def num_val(dp: Column) -> Column:
                return F.coalesce(
                    dp.getField("asDouble"),
                    dp.getField("asInt").try_cast("double"),
                    F.lit(0.0),
                )

            empty = F.expr(f"CAST(array() AS array<{_ROW}>)")
            empty_ents = F.expr("CAST(array() AS array<struct<k:string,v:string>>)")

            def exemplar_rows(dp: Column, base_entries: Column) -> Column:
                exs = F.coalesce(
                    dp.getField("exemplars"), F.expr(f"CAST(array() AS array<{_EXM}>)")
                )

                def one(ex: Column) -> Column:
                    tid = F.lower(F.coalesce(ex.getField("traceId"), F.lit("")))
                    sid = F.lower(F.coalesce(ex.getField("spanId"), F.lit("")))
                    ents = F.concat(
                        base_entries,
                        F.when(
                            tid != "",
                            F.array(F.struct(F.lit("traceId").alias("k"), tid.alias("v"))),
                        ).otherwise(empty_ents),
                        F.when(
                            sid != "",
                            F.array(F.struct(F.lit("spanId").alias("k"), sid.alias("v"))),
                        ).otherwise(empty_ents),
                        _label_entries(ex.getField("filteredAttributes")),
                    )
                    val = F.coalesce(
                        ex.getField("asDouble"),
                        ex.getField("asInt").try_cast("double"),
                        F.lit(0.0),
                    )
                    return row(
                        F.concat(name, F.lit("_exemplars")),
                        labels_str(ents),
                        ex.getField("timeUnixNano"),
                        val,
                    )

                return F.transform(exs, one)

            def gauge_rows_for(dp: Column) -> Column:
                ents = F.concat(rlb, _label_entries(dp.getField("attributes")))
                return F.concat(
                    exemplar_rows(dp, ents),
                    F.array(
                        row(name, labels_str(ents), dp.getField("timeUnixNano"), num_val(dp))
                    ),
                )

            gauge_rows = F.when(
                m.getField("gauge").isNotNull(),
                F.flatten(
                    F.transform(
                        F.coalesce(m.getField("gauge").getField("dataPoints"), F.expr(f"CAST(array() AS array<{_MDP}>)")),
                        gauge_rows_for,
                    )
                ),
            ).otherwise(empty)

            mono = F.coalesce(m.getField("sum").getField("isMonotonic"), F.lit(False))
            mono_entry = F.array(
                F.struct(
                    F.lit("otlp_metric_ismonotonic").alias("k"),
                    mono.cast("string").alias("v"),
                )
            )
            def sum_rows_for(dp: Column) -> Column:
                # sum2Logs appends ismonotonic BEFORE the exemplar loop —
                # exemplar labels inherit it
                ents = F.concat(
                    rlb, _label_entries(dp.getField("attributes")), mono_entry
                )
                return F.concat(
                    exemplar_rows(dp, ents),
                    F.array(
                        row(name, labels_str(ents), dp.getField("timeUnixNano"), num_val(dp))
                    ),
                )

            sum_rows = F.when(
                m.getField("sum").isNotNull(),
                F.flatten(
                    F.transform(
                        F.coalesce(m.getField("sum").getField("dataPoints"), F.expr(f"CAST(array() AS array<{_MDP}>)")),
                        sum_rows_for,
                    )
                ),
            ).otherwise(empty)

            def hist_rows_for(dp: Column) -> Column:
                t = dp.getField("timeUnixNano")
                lb = dp_labels(dp)
                counts = F.coalesce(
                    dp.getField("bucketCounts"), F.expr("CAST(array() AS array<string>)")
                )
                bounds = F.coalesce(
                    dp.getField("explicitBounds"), F.expr("CAST(array() AS array<double>)")
                )
                n_bounds = F.size(bounds)
                n_buckets = F.least(n_bounds + 1, F.size(counts))
                idx = F.sequence(F.lit(1), n_buckets)

                def bucket_row(j: Column) -> Column:
                    cum = F.aggregate(
                        F.slice(counts, 1, j),
                        F.lit(0.0),
                        lambda acc, x: acc + F.coalesce(x.try_cast("double"), F.lit(0.0)),
                    )
                    le = F.when(
                        j <= n_bounds, go_g(F.try_element_at(bounds, j))
                    ).otherwise(F.lit("+Inf"))
                    ents = F.concat(
                        rlb,
                        _label_entries(dp.getField("attributes")),
                        F.array(F.struct(F.lit("le").alias("k"), le.alias("v"))),
                    )
                    return row(
                        F.concat(name, F.lit("_bucket")), labels_str(ents), t, cum
                    )

                base_rows = F.concat(
                    F.when(
                        F.coalesce(dp.getField("sum"), F.lit(0.0)) != 0,
                        F.array(row(F.concat(name, F.lit("_sum")), lb, t, dp.getField("sum"))),
                    ).otherwise(empty),
                    F.when(
                        F.coalesce(dp.getField("min"), F.lit(0.0)) != 0,
                        F.array(row(F.concat(name, F.lit("_min")), lb, t, dp.getField("min"))),
                    ).otherwise(empty),
                    F.when(
                        F.coalesce(dp.getField("max"), F.lit(0.0)) != 0,
                        F.array(row(F.concat(name, F.lit("_max")), lb, t, dp.getField("max"))),
                    ).otherwise(empty),
                    F.array(
                        row(
                            F.concat(name, F.lit("_count")), lb, t,
                            F.coalesce(dp.getField("count").try_cast("double"), F.lit(0.0)),
                        )
                    ),
                    exemplar_rows(
                        dp, F.concat(rlb, _label_entries(dp.getField("attributes")))
                    ),
                    F.transform(idx, bucket_row),
                )
                return base_rows

            hist_rows = F.when(
                m.getField("histogram").isNotNull(),
                F.flatten(
                    F.transform(
                        F.coalesce(m.getField("histogram").getField("dataPoints"), F.expr(f"CAST(array() AS array<{_HDP}>)")),
                        hist_rows_for,
                    )
                ),
            ).otherwise(empty)

            def exp_rows_for(dp: Column) -> Column:
                t = dp.getField("timeUnixNano")
                base_entries = F.concat(rlb, _label_entries(dp.getField("attributes")))
                lb = labels_str(base_entries)
                scale = F.coalesce(dp.getField("scale"), F.lit(0)).cast("double")
                # base = 2^(2^-scale) (otlp_metric_parser.go:101)
                base = F.pow(F.lit(2.0), F.pow(F.lit(2.0), -scale))

                def le_row(key: Column, v: Column) -> Column:
                    ents = F.concat(
                        base_entries,
                        F.array(F.struct(F.lit("le").alias("k"), key.alias("v"))),
                    )
                    return row(F.concat(name, F.lit("_bucket")), labels_str(ents), t, v)

                def side_rows(side: str, positive: bool) -> Column:
                    bk = dp.getField(side)
                    counts = F.coalesce(
                        bk.getField("bucketCounts"),
                        F.expr("CAST(array() AS array<string>)"),
                    )
                    # GetOffset() on a nil side is 0 — the offset pseudo-bucket
                    # row is emitted unconditionally
                    off = F.coalesce(bk.getField("offset"), F.lit(0))

                    def bucket_row(i: Column) -> Column:
                        lower = F.pow(base, (off + i - 1).cast("double"))
                        upper = lower * base
                        if positive:
                            key = F.concat(
                                F.lit("("), go_g(lower), F.lit(","),
                                go_g(upper), F.lit("]"),
                            )
                        else:
                            key = F.concat(
                                F.lit("["), go_g(-upper), F.lit(","),
                                go_g(-lower), F.lit(")"),
                            )
                        cnt = F.coalesce(
                            F.element_at(counts, i).try_cast("double"), F.lit(0.0)
                        )
                        return le_row(key, cnt)

                    rows = F.when(
                        F.size(counts) > 0,
                        F.transform(F.sequence(F.lit(1), F.size(counts)), bucket_row),
                    ).otherwise(empty)
                    off_key = "positive.offset" if positive else "negative.offset"
                    return F.concat(
                        rows, F.array(le_row(F.lit(off_key), off.cast("double")))
                    )

                return F.concat(
                    F.when(
                        F.coalesce(dp.getField("sum"), F.lit(0.0)) != 0,
                        F.array(row(F.concat(name, F.lit("_sum")), lb, t, dp.getField("sum"))),
                    ).otherwise(empty),
                    F.when(
                        F.coalesce(dp.getField("min"), F.lit(0.0)) != 0,
                        F.array(row(F.concat(name, F.lit("_min")), lb, t, dp.getField("min"))),
                    ).otherwise(empty),
                    F.when(
                        F.coalesce(dp.getField("max"), F.lit(0.0)) != 0,
                        F.array(row(F.concat(name, F.lit("_max")), lb, t, dp.getField("max"))),
                    ).otherwise(empty),
                    F.array(
                        row(
                            F.concat(name, F.lit("_count")), lb, t,
                            F.coalesce(dp.getField("count").try_cast("double"), F.lit(0.0)),
                        )
                    ),
                    exemplar_rows(dp, base_entries),
                    side_rows("positive", True),
                    F.array(
                        le_row(
                            F.lit("zero.count"),
                            F.coalesce(dp.getField("zeroCount").try_cast("double"), F.lit(0.0)),
                        )
                    ),
                    side_rows("negative", False),
                )

            exp_rows = F.when(
                m.getField("exponentialHistogram").isNotNull(),
                F.flatten(
                    F.transform(
                        F.coalesce(
                            m.getField("exponentialHistogram").getField("dataPoints"),
                            F.expr(f"CAST(array() AS array<{_EDP}>)"),
                        ),
                        exp_rows_for,
                    )
                ),
            ).otherwise(empty)

            def summary_rows_for(dp: Column) -> Column:
                t = dp.getField("timeUnixNano")
                lb = dp_labels(dp)
                # an absent quantile or value is the proto3 default 0
                quants = F.coalesce(
                    dp.getField("quantileValues"),
                    F.expr("CAST(array() AS array<struct<quantile:double,value:double>>)"),
                )
                q_rows = F.transform(
                    quants,
                    lambda q: row(
                        name,
                        labels_str(
                            F.concat(
                                rlb,
                                _label_entries(dp.getField("attributes")),
                                F.array(
                                    F.struct(
                                        F.lit("quantile").alias("k"),
                                        go_g(F.coalesce(q.getField("quantile"), F.lit(0.0))).alias("v"),
                                    )
                                ),
                            )
                        ),
                        t,
                        F.coalesce(q.getField("value"), F.lit(0.0)),
                    ),
                )
                return F.concat(
                    F.array(
                        row(F.concat(name, F.lit("_sum")), lb, t, F.coalesce(dp.getField("sum"), F.lit(0.0))),
                        row(
                            F.concat(name, F.lit("_count")), lb, t,
                            F.coalesce(dp.getField("count").try_cast("double"), F.lit(0.0)),
                        ),
                    ),
                    q_rows,
                )

            summary_rows = F.when(
                m.getField("summary").isNotNull(),
                F.flatten(
                    F.transform(
                        F.coalesce(m.getField("summary").getField("dataPoints"), F.expr(f"CAST(array() AS array<{_SDP}>)")),
                        summary_rows_for,
                    )
                ),
            ).otherwise(empty)

            return F.concat(gauge_rows, sum_rows, hist_rows, summary_rows, exp_rows)

        bound = F.struct(
            F.col("__rattrs__").alias("rattrs"), F.col("__m__").alias("m")
        )
        rows = mt.select(*keep, F.explode(flet(bound, build_rows)).alias("__row__"))
        fields_map = F.create_map(
            F.lit("__name__"), F.col("__row__.nm"),
            F.lit("__time_nano__"), F.coalesce(F.col("__row__.t"), F.lit("0")),
            F.lit("__labels__"), F.col("__row__.lb"),
            F.lit("__value__"), go_g(F.col("__row__.v")),
        )
        return rows.select(*keep, fields_map.alias(FIELDS))


# --- logs (service_otlp / service_http_server Format=otlp logs) --------------

_BODY = (
    "struct<stringValue:string,intValue:string,doubleValue:double,"
    "boolValue:boolean>"
)
_LOG_RECORD = (
    "struct<timeUnixNano:string,severityNumber:string,severityText:string,"
    f"body:{_BODY},attributes:{_ATTR}>"
)
OTLP_LOG_SCHEMA = (
    "struct<resourceLogs:array<struct<"
    f"resource:struct<attributes:{_ATTR}>,"
    "scopeLogs:array<struct<scope:struct<name:string,version:string>,"
    f"logRecords:array<{_LOG_RECORD}>>>>>>"
)

# plog SeverityNumber enum (logs.proto): TRACE=1..FATAL4=24; OTLP/JSON may
# carry either the int or the name.
_SEV_NAMES = {}
for _base, _num in (("TRACE", 1), ("DEBUG", 5), ("INFO", 9), ("WARN", 13), ("ERROR", 17), ("FATAL", 21)):
    _SEV_NAMES[f"SEVERITY_NUMBER_{_base}"] = _num
    for _k in (2, 3, 4):
        _SEV_NAMES[f"SEVERITY_NUMBER_{_base}{_k}"] = _num + _k - 1
_SEV_NAMES["SEVERITY_NUMBER_UNSPECIFIED"] = 0


@dataclass
class OtelLogParser(Operator):
    """OTLP logs → SLS log rows, the ConvertOtlpLogV1 shape
    (pkg/protocol/decoder/opentelemetry/otlpDataToSLSProto.go:280-338):
    per LogRecord a fields map with ``time_unix_nano`` (FormatInt of the ns
    timestamp), ``severity_number`` (int text), ``severity_text``,
    ``content`` (Body().AsString()), plus ``attributes`` / ``resources`` —
    Go-marshalled JSON with sorted keys — ONLY when the respective attribute
    map is non-empty. Event time = (ns/1e9, ns%1e9) like SetLogTimeWithNano.
    format="json" is an ExportLogsServiceRequest / LogsData JSON;
    format="protojson" is a single ResourceLogs object (wrapped like the
    trace/metric parsers). Undecodable payloads are dropped."""

    source_key: str = "content"
    format: str = "json"

    def apply(self, df: DataFrame) -> DataFrame:
        src = F.element_at(F.col(FIELDS), F.lit(self.source_key))
        if self.format == "protojson":
            src = F.concat(F.lit('{"resourceLogs":['), src, F.lit("]}"))
        parsed = F.from_json(src, OTLP_LOG_SCHEMA)
        keep = [c for c in df.columns if c != FIELDS]
        rl = (
            df.withColumn("__rl__", parsed.getField("resourceLogs"))
            .filter(F.col("__rl__").isNotNull())
            .select(*keep, F.explode("__rl__").alias("__r__"))
        )
        sl = rl.select(
            *keep,
            F.col("__r__.resource.attributes").alias("__rattrs__"),
            F.explode("__r__.scopeLogs").alias("__s__"),
        )
        recs = sl.select(
            *keep, "__rattrs__", F.explode("__s__.logRecords").alias("__lr__")
        )
        lr = F.col("__lr__")
        ts = F.coalesce(lr.getField("timeUnixNano").try_cast("long"), F.lit(0))
        sev_raw = lr.getField("severityNumber")
        sev_map = F.create_map(
            *[x for k, v in _SEV_NAMES.items() for x in (F.lit(k), F.lit(v))]
        )
        sev = F.coalesce(
            sev_raw.try_cast("int"), F.element_at(sev_map, sev_raw), F.lit(0)
        )
        body = lr.getField("body")
        content = F.when(body.isNull(), F.lit("")).otherwise(_attr_value_text(body))
        empty_map = F.expr("map()").cast("map<string,string>")
        attrs = lr.getField("attributes")
        base = F.create_map(
            F.lit("time_unix_nano"), ts.cast("string"),
            F.lit("severity_number"), sev.cast("string"),
            F.lit("severity_text"), F.coalesce(lr.getField("severityText"), F.lit("")),
            F.lit("content"), content,
        )
        with_attrs = F.when(
            F.size(F.coalesce(attrs, F.expr(f"CAST(array() AS {_ATTR})"))) > 0,
            F.create_map(F.lit("attributes"), attrs_to_json(attrs)),
        ).otherwise(empty_map)
        with_res = F.when(
            F.size(F.coalesce(F.col("__rattrs__"), F.expr(f"CAST(array() AS {_ATTR})"))) > 0,
            F.create_map(F.lit("resources"), attrs_to_json(F.col("__rattrs__"))),
        ).otherwise(empty_map)
        # exact int64 split: ns first, then (ts-ns)/1e9 (double-exact since
        # the numerator is a multiple of 1e9 and the quotient < 2^53)
        ns = ts % F.lit(1_000_000_000)
        return recs.select(
            *keep,
            F.map_concat(base, with_attrs, with_res).alias(FIELDS),
            ((ts - ns) / F.lit(1_000_000_000)).cast("long").alias("ts_sec"),
            ns.cast("long").alias("ts_ns"),
        )
