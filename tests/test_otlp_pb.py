"""OTLP protobuf wire decode goldens (Format=protobuf front end).

Field numbers from the public opentelemetry-proto schema; hand-assembled
bytes pin the decoder independently of the fixture encoders. Focus on the
wire-level edge cases the oracle queries can't reach: packed vs unpacked
repeated scalars, zigzag sint32, sfixed64 asInt, exponential-histogram
buckets, and the drop-on-garbage contract.
"""

from __future__ import annotations

import struct

from loongcollector_spark.operators.otel import OtelTraceParser
from loongcollector_spark.operators.otlp_pb import (
    OtelPbToJson,
    decode_metrics,
    decode_traces,
    encode_attr,
    encode_gauge_metric,
    encode_metrics_data,
    encode_number_dp,
    encode_span_pb,
    encode_sum_metric,
    encode_traces_data,
)
from loongcollector_spark.operators.pb import write_varint


def k(fno: int, wt: int) -> bytes:
    return write_varint(fno << 3 | wt)


def ld(fno: int, payload: bytes) -> bytes:
    return k(fno, 2) + write_varint(len(payload)) + payload


def f64(fno: int, val: int) -> bytes:
    return k(fno, 1) + struct.pack("<Q", val)


def dbl(fno: int, val: float) -> bytes:
    return k(fno, 1) + struct.pack("<d", val)


class TestTraceWire:
    def test_hand_assembled_span(self):
        span = (
            ld(1, bytes(range(16)))          # trace_id
            + ld(2, bytes(range(8)))         # span_id
            + ld(3, b"w3c=1")                # trace_state
            + ld(5, b"op")                   # name
            + k(6, 0) + b"\x03"              # kind CLIENT
            + f64(7, 1_663_904_182_000_000_000)
            + f64(8, 1_663_904_183_000_000_000)
            + ld(9, ld(1, b"rc") + ld(2, ld(1, b"ok")))  # attr rc="ok"
            + ld(15, ld(2, b"boom") + k(3, 0) + b"\x02")  # status
        )
        td = ld(1, ld(2, ld(2, span)))  # resource_spans > scope_spans > span
        d = decode_traces(td)
        sp = d["resourceSpans"][0]["scopeSpans"][0]["spans"][0]
        assert sp["traceId"] == bytes(range(16)).hex()
        assert sp["spanId"] == "0001020304050607"
        assert sp["traceState"] == "w3c=1"
        assert sp["kind"] == 3
        assert sp["startTimeUnixNano"] == "1663904182000000000"
        assert sp["status"] == {"message": "boom", "code": 2}
        assert sp["attributes"] == [{"key": "rc", "value": {"stringValue": "ok"}}]

    def test_any_value_variants(self):
        attrs = [
            encode_attr("s", "x"),
            encode_attr("b", True),
            encode_attr("i", -7),
            encode_attr("d", 1.25),
        ]
        td = encode_traces_data(attrs, "sc", "1", [encode_span_pb(b"\x01" * 16, b"\x02" * 8, "n", 1, 1, 2)])
        got = {
            a["key"]: a["value"]
            for a in decode_traces(td)["resourceSpans"][0]["resource"]["attributes"]
        }
        assert got == {
            "s": {"stringValue": "x"},
            "b": {"boolValue": True},
            "i": {"intValue": "-7"},
            "d": {"doubleValue": 1.25},
        }

    def test_garbage_none(self):
        assert decode_traces(b"\xff\xfe\xfd") is None
        assert decode_traces(b"") is None
        # valid wire but no resourceSpans
        assert decode_traces(ld(9, b"zz")) is None


class TestMetricWire:
    def test_histogram_packed_and_unpacked(self):
        packed = (
            f64(3, 5)
            + f64(4, 10)                       # count
            + dbl(5, 55.5)                     # sum
            + ld(6, struct.pack("<QQQ", 1, 2, 7))   # packed bucket_counts
            + ld(7, struct.pack("<dd", 0.5, 2.5))   # packed explicit_bounds
            + dbl(11, 0.1) + dbl(12, 9.9)
        )
        unpacked = (
            f64(3, 5)
            + f64(6, 1) + f64(6, 2) + f64(6, 7)     # unpacked counts
            + dbl(7, 0.5) + dbl(7, 2.5)
        )
        for body in (packed, unpacked):
            m = ld(1, b"h") + ld(9, ld(1, body))    # Metric{name, histogram}
            md = ld(1, ld(2, ld(2, m)))
            dp = decode_metrics(md)["resourceMetrics"][0]["scopeMetrics"][0][
                "metrics"
            ][0]["histogram"]["dataPoints"][0]
            assert dp["bucketCounts"] == ["1", "2", "7"]
            assert dp["explicitBounds"] == [0.5, 2.5]

    def test_exponential_histogram_zigzag(self):
        buckets = k(1, 0) + write_varint(7) + ld(2, write_varint(3) + write_varint(4))
        # zigzag(7) = -4 offset; packed varint counts [3, 4]
        body = (
            f64(3, 9)
            + f64(4, 7)
            + k(6, 0) + write_varint(5)   # scale zigzag(5) = -3
            + f64(7, 2)                   # zero_count
            + ld(8, buckets)
        )
        m = ld(1, b"e") + ld(10, ld(1, body))
        dp = decode_metrics(ld(1, ld(2, ld(2, m))))["resourceMetrics"][0][
            "scopeMetrics"
        ][0]["metrics"][0]["exponentialHistogram"]["dataPoints"][0]
        assert dp["scale"] == -3
        assert dp["zeroCount"] == "2"
        assert dp["positive"] == {"offset": -4, "bucketCounts": ["3", "4"]}

    def test_sfixed64_as_int_negative(self):
        dp = encode_number_dp(1, as_int=-42)
        md = encode_metrics_data([encode_gauge_metric("g", [dp])])
        got = decode_metrics(md)["resourceMetrics"][0]["scopeMetrics"][0][
            "metrics"
        ][0]["gauge"]["dataPoints"][0]
        assert got["asInt"] == "-42" and "asDouble" not in got

    def test_summary_quantiles(self):
        qv = dbl(1, 0.99) + dbl(2, 123.0)
        body = f64(3, 1) + f64(4, 10) + dbl(5, 100.0) + ld(6, qv)
        m = ld(1, b"s") + ld(11, ld(1, body))
        dp = decode_metrics(ld(1, ld(2, ld(2, m))))["resourceMetrics"][0][
            "scopeMetrics"
        ][0]["metrics"][0]["summary"]["dataPoints"][0]
        assert dp["quantileValues"] == [{"quantile": 0.99, "value": 123.0}]

    def test_null_metric_name_leaves_out_field_1(self):
        # proto3 default: an absent name decodes as ""
        dp = encode_number_dp(1, as_double=1.0)
        assert encode_gauge_metric(None, [dp]) == ld(5, ld(1, dp))
        md = encode_metrics_data([encode_gauge_metric(None, [dp])])
        m = decode_metrics(md)["resourceMetrics"][0]["scopeMetrics"][0]["metrics"][0]
        assert m["name"] == ""

    def test_sum_monotonic_flag(self):
        md = encode_metrics_data(
            [encode_sum_metric("t", [encode_number_dp(1, as_int=5)], True)]
        )
        m = decode_metrics(md)["resourceMetrics"][0]["scopeMetrics"][0]["metrics"][0]
        assert m["sum"]["isMonotonic"] is True


class TestSparkFrontEnd:
    def test_bad_payloads_dropped(self, spark):
        good = encode_traces_data(
            [], "sc", "1",
            [encode_span_pb(b"\x01" * 16, b"\x02" * 8, "n", 1, 100, 200)],
        ).hex()
        rows = [("a", {"content": good}), ("b", {"content": "zz-not-hex"}),
                ("c", {"content": "ffff"})]
        df = spark.createDataFrame(rows, "doc_id string, fields map<string,string>")
        out = OtelPbToJson("trace").apply(df).collect()
        assert [r.doc_id for r in out] == ["a"]
        assert '"spanId":"0202020202020202"' in out[0].fields["content"]
        # the decoded JSON feeds the Format=json trace parser unchanged
        spans = OtelTraceParser().apply(OtelPbToJson("trace").apply(df)).collect()
        assert [(r.doc_id, r.fields["spanID"]) for r in spans] == [("a", "02" * 8)]

    def test_base64_encoding_mode(self, spark):
        import base64

        payload = encode_traces_data(
            [], "sc", "1", [encode_span_pb(b"\x03" * 16, b"\x04" * 8, "n", 1, 1, 2)]
        )
        rows = [("a", {"content": base64.b64encode(payload).decode()})]
        df = spark.createDataFrame(rows, "doc_id string, fields map<string,string>")
        out = OtelPbToJson("trace", binary_encoding="base64").apply(df).collect()
        assert '"traceId":"' + "03" * 16 + '"' in out[0].fields["content"]
