"""OTLP/JSON metric conversion goldens (ConvertOtlpMetrics,
otlp_metric_parser.go:48-246): gauge / sum / histogram / summary data points
→ SLS metric logs (__name__/__time_nano__/__labels__/__value__)."""

import json

from loongcollector_spark.operators.base import FIELDS, to_events
from loongcollector_spark.operators.otel import OtelMetricParser


def _parse(spark, payload):
    df = to_events(
        spark.createDataFrame([(0, json.dumps(payload))], ["i", "content"])
    )
    rows = [dict(r[FIELDS]) for r in OtelMetricParser().apply(df).collect()]
    return {(r["__name__"], r["__labels__"]): r for r in rows}, rows


def _payload(metrics):
    return {
        "resourceMetrics": [
            {
                "resource": {
                    "attributes": [
                        {"key": "host.name", "value": {"stringValue": "web-1"}}
                    ]
                },
                "scopeMetrics": [{"metrics": metrics}],
            }
        ]
    }


def test_gauge_and_sum(spark):
    payload = _payload(
        [
            {
                "name": "cpu_usage",
                "gauge": {
                    "dataPoints": [
                        {
                            "attributes": [{"key": "core", "value": {"intValue": "0"}}],
                            "timeUnixNano": "1663904182348000000",
                            "asDouble": 0.75,
                        }
                    ]
                },
            },
            {
                "name": "requests_total",
                "sum": {
                    "isMonotonic": True,
                    "dataPoints": [
                        {
                            "attributes": [{"key": "code", "value": {"stringValue": "200"}}],
                            "timeUnixNano": "1663904182348000000",
                            "asInt": "1234",
                        }
                    ],
                },
            },
        ]
    )
    by_key, rows = _parse(spark, payload)
    assert len(rows) == 2
    g = by_key[("cpu_usage", "core#$#0|host.name#$#web-1")]
    assert g["__value__"] == "0.75"
    assert g["__time_nano__"] == "1663904182348000000"
    s = by_key[
        ("requests_total", "code#$#200|host.name#$#web-1|otlp_metric_ismonotonic#$#true")
    ]
    assert s["__value__"] == "1234"  # whole number renders Go-'g' style


def test_histogram_cumulative_buckets(spark):
    payload = _payload(
        [
            {
                "name": "latency",
                "histogram": {
                    "dataPoints": [
                        {
                            "attributes": [],
                            "timeUnixNano": "1000",
                            "count": "6",
                            "sum": 4.2,
                            "max": 2.5,
                            "explicitBounds": [0.5, 1.0],
                            "bucketCounts": ["1", "2", "3"],
                        }
                    ]
                },
            }
        ]
    )
    by_key, rows = _parse(spark, payload)
    base = "host.name#$#web-1"
    assert by_key[("latency_sum", base)]["__value__"] == "4.2"
    assert by_key[("latency_max", base)]["__value__"] == "2.5"
    assert by_key[("latency_count", base)]["__value__"] == "6"
    assert ("latency_min", base) not in by_key  # zero min skipped
    assert by_key[("latency_bucket", f"{base}|le#$#0.5")]["__value__"] == "1"
    assert by_key[("latency_bucket", f"{base}|le#$#1")]["__value__"] == "3"
    assert by_key[("latency_bucket", f"{base}|le#$#+Inf")]["__value__"] == "6"
    assert len(rows) == 6


def test_summary_quantiles(spark):
    payload = _payload(
        [
            {
                "name": "rt",
                "summary": {
                    "dataPoints": [
                        {
                            "attributes": [],
                            "timeUnixNano": "2000",
                            "count": "10",
                            "sum": 12.5,
                            "quantileValues": [
                                {"quantile": 0.5, "value": 1.1},
                                {"quantile": 0.99, "value": 3.3},
                                # absent fields read as the proto3 default 0
                                {"value": 2.2},
                                {"quantile": 0.9},
                            ],
                        }
                    ]
                },
            }
        ]
    )
    by_key, rows = _parse(spark, payload)
    base = "host.name#$#web-1"
    assert by_key[("rt_sum", base)]["__value__"] == "12.5"
    assert by_key[("rt_count", base)]["__value__"] == "10"
    assert by_key[("rt", f"{base}|quantile#$#0.5")]["__value__"] == "1.1"
    assert by_key[("rt", f"{base}|quantile#$#0.99")]["__value__"] == "3.3"
    assert by_key[("rt", f"{base}|quantile#$#0")]["__value__"] == "2.2"
    assert by_key[("rt", f"{base}|quantile#$#0.9")]["__value__"] == "0"
    assert len(rows) == 6


def test_exponential_histogram_golden(spark):
    """exponentialHistogram2Logs (otlp_metric_parser.go:77-138), scale=0 so
    base=2 and every bound is an exact power of two: bucket le keys
    '(lower,upper]' / '[-upper,-lower)', offset/zero pseudo-buckets emitted
    unconditionally, _min skipped when 0."""
    payload = _payload(
        [
            {
                "name": "lat",
                "exponentialHistogram": {
                    "dataPoints": [
                        {
                            "attributes": [
                                {"key": "k1", "value": {"stringValue": "v1"}}
                            ],
                            "timeUnixNano": "1700000000000000000",
                            "count": "14",
                            "sum": 10.5,
                            "min": 0.0,
                            "max": 3.25,
                            "scale": 0,
                            "zeroCount": "4",
                            "positive": {"offset": -1, "bucketCounts": ["3", "5"]},
                            "negative": {"offset": 0, "bucketCounts": ["2"]},
                            "exemplars": [
                                {
                                    "timeUnixNano": "1700000000000000007",
                                    "asInt": "7",
                                    "traceId": "0102030405060708090A0B0C0D0E0F10",
                                    "spanId": "0102030405060708",
                                    "filteredAttributes": [
                                        {"key": "exk", "value": {"stringValue": "x1"}}
                                    ],
                                }
                            ],
                        }
                    ]
                },
            }
        ]
    )
    by_key, rows = _parse(spark, payload)
    base_lb = "host.name#$#web-1|k1#$#v1"
    t = "1700000000000000000"

    assert by_key[("lat_sum", base_lb)]["__value__"] == "10.5"
    assert ("lat_min", base_lb) not in by_key  # min == 0 is skipped
    assert by_key[("lat_max", base_lb)]["__value__"] == "3.25"
    assert by_key[("lat_count", base_lb)]["__value__"] == "14"
    assert by_key[("lat_count", base_lb)]["__time_nano__"] == t

    def bucket(key):
        return by_key[("lat_bucket", f"{base_lb}|le#$#{key}")]

    # positive: offset -1 -> (2^-1, 2^0], (2^0, 2^1]
    assert bucket("(0.5,1]")["__value__"] == "3"
    assert bucket("(1,2]")["__value__"] == "5"
    assert bucket("positive.offset")["__value__"] == "-1"
    assert bucket("zero.count")["__value__"] == "4"
    # negative: offset 0 -> [-2^1, -2^0)
    assert bucket("[-2,-1)")["__value__"] == "2"
    assert bucket("negative.offset")["__value__"] == "0"

    ex = by_key[
        (
            "lat_exemplars",
            "exk#$#x1|host.name#$#web-1|k1#$#v1|"
            "spanId#$#0102030405060708|traceId#$#0102030405060708090a0b0c0d0e0f10",
        )
    ]
    assert ex["__value__"] == "7"
    assert ex["__time_nano__"] == "1700000000000000007"
    assert len(rows) == 10


def test_gauge_sum_histogram_exemplars(spark):
    """Exemplar rows ride gauge/sum/histogram data points too; the sum's
    exemplar labels inherit ismonotonic (appended before the exemplar loop,
    sum2Logs go:162-178)."""
    payload = _payload(
        [
            {
                "name": "g",
                "gauge": {
                    "dataPoints": [
                        {
                            "attributes": [],
                            "timeUnixNano": "1",
                            "asDouble": 2.5,
                            "exemplars": [
                                {"timeUnixNano": "2", "asDouble": 1.25}
                            ],
                        }
                    ]
                },
            },
            {
                "name": "s",
                "sum": {
                    "isMonotonic": True,
                    "dataPoints": [
                        {
                            "attributes": [],
                            "timeUnixNano": "3",
                            "asInt": "9",
                            "exemplars": [{"timeUnixNano": "4", "asInt": "5"}],
                        }
                    ],
                },
            },
        ]
    )
    by_key, rows = _parse(spark, payload)
    assert by_key[("g_exemplars", "host.name#$#web-1")]["__value__"] == "1.25"
    assert by_key[("g_exemplars", "host.name#$#web-1")]["__time_nano__"] == "2"
    s_ex = by_key[
        ("s_exemplars", "host.name#$#web-1|otlp_metric_ismonotonic#$#true")
    ]
    assert s_ex["__value__"] == "5" and s_ex["__time_nano__"] == "4"
    assert len(rows) == 4


def test_double_attribute_label_is_go_g(spark):
    """anyValueToString renders a double attribute with strconv 'g':
    1234567.5 is "1.2345675e+06" (exponent form from decimal exponent 6)."""
    payload = _payload(
        [
            {
                "name": "temp",
                "gauge": {
                    "dataPoints": [
                        {
                            "attributes": [
                                {"key": "ratio", "value": {"doubleValue": 1234567.5}}
                            ],
                            "timeUnixNano": "1663904182348000000",
                            "asDouble": 1.0,
                        }
                    ]
                },
            }
        ]
    )
    by_key, rows = _parse(spark, payload)
    assert len(rows) == 1
    assert ("temp", "host.name#$#web-1|ratio#$#1.2345675e+06") in by_key
