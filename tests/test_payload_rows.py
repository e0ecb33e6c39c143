"""``operators.base.payload_rows`` and ``group_rows`` — the one Arrow stage of
the per-row payload decoders and of the grouped wire packers. Every decoder
and packer on them must carry a bigint exactly when another row of the same
Arrow batch or group holds a null (a pandas stage turns such an int64 column
into float64 and rounds values above 2**53), and must reject a missing input
column when the plan is built, not inside a Python worker."""

from __future__ import annotations

import json
import re
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from loongcollector_spark.dataops.multimodal import (
    decode_media_features,
    extract_media_features,
    make_ppm,
)
from loongcollector_spark.operators.base import FIELDS, group_rows, to_events
from loongcollector_spark.operators.convert import (
    otlp_logs_sink_frames,
    otlp_metrics_sink_frames,
    otlp_traces_sink_frames,
)
from loongcollector_spark.operators.jfr import _EVENT_T, JfrChunkParser
from loongcollector_spark.operators.otlp_pb import (
    OtelPbToJson,
    decode_logs,
    decode_metrics,
    decode_traces,
    encode_span_pb,
    encode_traces_data,
)
from loongcollector_spark.operators.pb import (
    ParseFromPB,
    ParseSlsLogGroup,
    encode_event_group,
    encode_groups_df,
    encode_log_event,
    encode_sls_log,
    encode_sls_log_group,
)
from loongcollector_spark.operators.pprof_profile import (
    PprofBuilder,
    PprofProfileParser,
    extract_profile_logs,
)
from loongcollector_spark.operators.prom_rw import (
    PromRemoteWriteDecoder,
    PromRemoteWriteEncoder,
    encode_write_request,
    snappy_compress,
)
from loongcollector_spark.queries import q_prom_remote_write, q_sls_group_decode

BIG = 1_700_000_000_123_456_789  # > 2**53: float64 cannot hold it


def _pprof_payload() -> bytes:
    b = PprofBuilder()
    b.sample_type("inuse_space", "bytes")
    b.sample([b.location([b.function("alloc", "a.go")])], [100])
    return b.build()


_JFR_EVENTS = [
    ("active_setting", 0, None, "event", "cpu", None, None, None, None),
    ("execution_sample", 1, "STATE_RUNNABLE", None, None, None, None, None,
     [("A", "m")]),
]

# case -> (column DDL, column value, decoder); ``big`` is a passthrough column
# for the five decoders that take one and a carried column for the others
CASES = {
    "ParseFromPB": (
        "payload binary",
        bytearray(encode_event_group("log", [encode_log_event(10**9, {"m": "x"})])),
        lambda df: ParseFromPB("payload", passthrough=["big"]).apply(df),
    ),
    "ParseSlsLogGroup": (
        "payload binary",
        bytearray(encode_sls_log_group([encode_sls_log(1, {"m": "x"})])),
        lambda df: ParseSlsLogGroup("payload", passthrough=["big"]).apply(df),
    ),
    "PromRemoteWriteDecoder": (
        "payload binary",
        bytearray(snappy_compress(encode_write_request(
            [{"labels": [("__name__", "m")], "samples": [(1.0, 1434055562000)]}]
        ))),
        lambda df: PromRemoteWriteDecoder("payload", passthrough=["big"]).apply(df),
    ),
    "PprofProfileParser": (
        "payload binary",
        bytearray(_pprof_payload()),
        lambda df: PprofProfileParser("payload", passthrough=["big"]).apply(df),
    ),
    "JfrChunkParser": (
        f"events {_EVENT_T}",
        _JFR_EVENTS,
        lambda df: JfrChunkParser("events", passthrough=["big"]).apply(df),
    ),
    "OtelPbToJson": (
        "fields map<string,string>",
        {"content": encode_traces_data(
            [], "sc", "1", [encode_span_pb(b"\x01" * 16, b"\x02" * 8, "n", 1, 100, 200)]
        ).hex()},
        lambda df: OtelPbToJson("trace").apply(df),
    ),
    "extract_media_features": (
        "media binary", bytearray(b"abc"), extract_media_features
    ),
    "decode_media_features": (
        "media binary", bytearray(make_ppm(2, 2, 1, 2, 3)), decode_media_features
    ),
}


def _one_batch(spark, rows, ddl):
    # one partition, so both rows travel in the same Arrow batch
    return spark.createDataFrame(rows, ddl).coalesce(1)


@pytest.mark.parametrize("case", sorted(CASES))
def test_bigint_exact_next_to_a_null(spark, case):
    ddl, value, decode = CASES[case]
    df = _one_batch(spark, [(BIG, value), (None, value)], f"big long, {ddl}")
    assert sorted(r.big or 0 for r in decode(df).collect()) == [0, BIG]


def test_pprof_start_ns_exact_next_to_a_null(spark):
    payload = _pprof_payload()  # no TimeNanos: the row's start_ns is the time
    df = _one_batch(
        spark, [(1, payload, BIG), (2, payload, None)],
        "doc long, payload binary, start_ns long",
    )
    out = {r.doc: r.time_ns for r in PprofProfileParser(passthrough=["doc"]).apply(df).collect()}
    expected = extract_profile_logs(payload, start_ns=BIG)[0]["time_ns"]
    assert out[1] == expected == BIG % 1_000_000_000


@pytest.mark.parametrize(
    "decoder",
    [ParseFromPB, ParseSlsLogGroup, PromRemoteWriteDecoder, PprofProfileParser, JfrChunkParser],
    ids=lambda c: c.__name__,
)
def test_missing_payload_column_is_a_plan_time_error(spark, decoder):
    df = spark.createDataFrame([(1,)], "big long")
    with pytest.raises(ValueError, match="missing column nope"):
        decoder("nope").apply(df)


# --- grouped packers: each packs one group holding BIG next to a null and
# decodes its payload with its query's decoder; (got, want) read BIG back


def _encode_groups_df(spark, tmp_path):
    df = spark.createDataFrame([(1, BIG), (1, None)], "g int, ts long")
    payloads = encode_groups_df(df, "g", lambda r: encode_log_event(r["ts"] or 0, {"m": "x"}))
    out = ParseFromPB("payload").apply(payloads).collect()
    return sorted(r.ts_sec * 10**9 + r.ts_ns for r in out), [0, BIG]


def _prom_rw_encoder(spark, tmp_path):
    df = spark.createDataFrame(
        [("s", "m", {"h": "1"}, 1.0, BIG), ("s", "m", None, 2.0, BIG)],
        "sink string, metric_name string, tags map<string,string>, value double, ts_ns long",
    )
    enc = PromRemoteWriteEncoder(["sink"]).apply(df)
    out = PromRemoteWriteDecoder("payload", passthrough=["sink"]).apply(enc).collect()
    return [r["__time_nano__"] for r in out], [f"{BIG // 10**6}000000"] * 2


def _otlp_logs(spark, tmp_path):
    # the only int64 that leaves the packer is the group key
    df = spark.createDataFrame(
        [(BIG, 1, {"content": "a"}), (BIG, 2, None)],
        f"g long, ts_sec long, {FIELDS} map<string,string>",
    )
    enc = otlp_logs_sink_frames(df, ["g"])
    hexed = to_events(enc.select("g", F.lower(F.hex("payload")).alias("content")))
    out = OtelPbToJson("log").apply(hexed).collect()
    records = json.loads(out[0][FIELDS]["content"])["resourceLogs"][0]["scopeLogs"][0]
    return (out[0].g, len(records["logRecords"])), (BIG, 2)


def _otlp_metrics(spark, tmp_path):
    df = spark.createDataFrame(
        [("s", "m", "gauge", {"k": "v"}, 1.0, BIG), ("s", "m", "gauge", None, 2.0, BIG)],
        "sink string, metric_name string, metric_type string,"
        "tags map<string,string>, value double, ts_ns long",
    )
    payload = otlp_metrics_sink_frames(df, ["sink"]).collect()[0].payload
    metrics = decode_metrics(bytes(payload))["resourceMetrics"][0]["scopeMetrics"][0]["metrics"]
    return [m["gauge"]["dataPoints"][0]["timeUnixNano"] for m in metrics], [str(BIG)] * 2


def _otlp_traces(spark, tmp_path):
    ids = ("ab" * 16, "cd" * 8, "")
    df = spark.createDataFrame(
        [("s", 1, *ids, "op", 1, BIG, BIG + 1, {}, 0), ("s", 2, *ids, "op", 1, None, None, None, 0)],
        "sink string, i long, trace_id string, span_id string, parent_span_id string,"
        "span_name string, kind int, start_ns long, end_ns long,"
        "tags map<string,string>, status_code int",
    )
    payload = otlp_traces_sink_frames(df, ["sink"], order_col="i").collect()[0].payload
    spans = decode_traces(bytes(payload))["resourceSpans"][0]["scopeSpans"][0]["spans"]
    got = [(s["startTimeUnixNano"], s["endTimeUnixNano"]) for s in spans]
    return got, [(str(BIG), str(BIG + 1)), ("0", "0")]


def _events_dir(tmp_path, event_ids, event_types, user_ids) -> str:
    """An sf dir whose ``events`` table holds only the given rows."""
    pq.write_table(
        pa.table({
            "event_id": pa.array(event_ids, pa.int64()),
            "event_type": pa.array(event_types, pa.string()),
            "user_id": pa.array(user_ids, pa.int64()),
        }),
        tmp_path / "events.parquet",
    )
    return str(tmp_path)


def _q_prom_remote_write(spark, tmp_path):
    # one request (event_id % 16): the packer reads event_id and user_id, so
    # the null is the group's unread event_type
    sf = _events_dir(tmp_path, [BIG, BIG + 16], [None, "b"], [3, 4])
    out = q_prom_remote_write(spark, sf).collect()
    return sorted(r.time_nano for r in out), [
        f"{1434055562000 + e % 1000}000000" for e in (BIG, BIG + 16)
    ]


def _q_sls_group_decode(spark, tmp_path):
    sf = _events_dir(tmp_path, [BIG, BIG + 16], ["a", "b"], [None, 4])
    out = q_sls_group_decode(spark, sf).collect()
    got = sorted((r.time, r.time_ns, r.uid) for r in out)
    return got, [
        (1434055562 + e % 86400, e % 1000 * 1_000_000, u)
        for e, u in ((BIG, "None"), (BIG + 16, "4"))
    ]


GROUP_CASES = {
    f.__name__.lstrip("_"): f
    for f in (
        _encode_groups_df, _prom_rw_encoder, _otlp_logs, _otlp_metrics, _otlp_traces,
        _q_prom_remote_write, _q_sls_group_decode,
    )
}


@pytest.mark.parametrize("case", sorted(GROUP_CASES))
def test_grouped_bigint_exact_next_to_a_null(spark, tmp_path, case):
    got, want = GROUP_CASES[case](spark, tmp_path)
    assert got == want


# --- a null timestamp packs as the proto3 default: the field is absent and
# the decoder reads 0; the other row of the group keeps its exact time

TS_NS = 1_434_055_562_123_000_000


def _metric_rows(spark):
    return spark.createDataFrame(
        [("s", "m", "gauge", {"h": "1"}, 1.0, TS_NS), ("s", "m", "gauge", {}, 2.0, None)],
        "sink string, metric_name string, metric_type string,"
        "tags map<string,string>, value double, ts_ns long",
    )


def _prom_null_ts(spark):
    enc = PromRemoteWriteEncoder(["sink"]).apply(_metric_rows(spark))
    out = PromRemoteWriteDecoder("payload").apply(enc).collect()
    got = {r["__value__"]: r["__time_nano__"] for r in out}
    return got, {"1": str(TS_NS), "2": "0"}


def _otlp_logs_null_ts(spark):
    df = spark.createDataFrame(
        [("s", TS_NS // 10**9, {"content": "a"}), ("s", None, {"content": "b"})],
        f"sink string, ts_sec long, {FIELDS} map<string,string>",
    )
    payload = otlp_logs_sink_frames(df, ["sink"]).collect()[0].payload
    records = decode_logs(bytes(payload))["resourceLogs"][0]["scopeLogs"][0]["logRecords"]
    got = {r["body"]["stringValue"]: r["timeUnixNano"] for r in records}
    return got, {"a": str(TS_NS // 10**9 * 10**9), "b": "0"}


def _otlp_metrics_null_ts(spark):
    payload = otlp_metrics_sink_frames(_metric_rows(spark), ["sink"]).collect()[0].payload
    metrics = decode_metrics(bytes(payload))["resourceMetrics"][0]["scopeMetrics"][0]["metrics"]
    dps = [m["gauge"]["dataPoints"][0] for m in metrics]
    got = {dp["asDouble"]: dp["timeUnixNano"] for dp in dps}
    return got, {1.0: str(TS_NS), 2.0: "0"}


@pytest.mark.parametrize("pack", [_prom_null_ts, _otlp_logs_null_ts, _otlp_metrics_null_ts],
                         ids=lambda f: f.__name__.strip("_"))
def test_null_timestamp_packs_as_zero(spark, pack):
    got, want = pack(spark)
    assert got == want


# --- a null name, tag value or value packs as its proto3 default too: a
# null name or tag value reads as "" (a "" tag is dropped), a null value is
# left out and decodes as 0; the other row of the group is untouched


@pytest.mark.parametrize(
    "row, want",
    [
        (("s", None, {"h": "1"}, 1.0, TS_NS), ("", "h#$#1", "1")),
        (("s", "m", {"h": None, "k": "v"}, 1.0, TS_NS), ("m", "k#$#v", "1")),
        (("s", "m", {"h": "1"}, None, TS_NS), ("m", "h#$#1", "0")),
    ],
    ids=["null_name", "null_tag_value", "null_value"],
)
def test_prom_null_packs_as_default(spark, row, want):
    df = spark.createDataFrame(
        [("s", "ok", {}, 2.0, TS_NS), row],
        "sink string, metric_name string, tags map<string,string>, value double, ts_ns long",
    )
    enc = PromRemoteWriteEncoder(["sink"]).apply(df)
    out = PromRemoteWriteDecoder("payload").apply(enc).collect()
    got = sorted((r["__name__"], r["__labels__"], r["__value__"]) for r in out)
    assert got == sorted([("ok", "", "2"), want])


NULL_TAGS = {"h": None, "k": "v"}


def _logs_attrs(spark):
    df = spark.createDataFrame(
        [("s", 1, {"content": "a", **NULL_TAGS})],
        f"sink string, ts_sec long, {FIELDS} map<string,string>",
    )
    payload = otlp_logs_sink_frames(df, ["sink"]).collect()[0].payload
    logs = decode_logs(bytes(payload))["resourceLogs"][0]["scopeLogs"][0]
    return logs["logRecords"][0]["attributes"]


def _metrics_attrs(spark):
    df = spark.createDataFrame(
        [("s", "m", "gauge", NULL_TAGS, 1.0, TS_NS)],
        "sink string, metric_name string, metric_type string,"
        "tags map<string,string>, value double, ts_ns long",
    )
    payload = otlp_metrics_sink_frames(df, ["sink"]).collect()[0].payload
    metrics = decode_metrics(bytes(payload))["resourceMetrics"][0]["scopeMetrics"][0]["metrics"]
    return metrics[0]["gauge"]["dataPoints"][0]["attributes"]


def _traces_attrs(spark):
    df = spark.createDataFrame(
        [("s", "ab" * 16, "cd" * 8, "", "op", 1, 1, 2, NULL_TAGS, 0)],
        "sink string, trace_id string, span_id string, parent_span_id string,"
        "span_name string, kind int, start_ns long, end_ns long,"
        "tags map<string,string>, status_code int",
    )
    payload = otlp_traces_sink_frames(df, ["sink"]).collect()[0].payload
    spans = decode_traces(bytes(payload))["resourceSpans"][0]["scopeSpans"][0]["spans"]
    return spans[0]["attributes"]


@pytest.mark.parametrize("attrs", [_logs_attrs, _metrics_attrs, _traces_attrs],
                         ids=lambda f: f.__name__.strip("_"))
def test_otlp_null_tag_value_packs_as_empty(spark, attrs):
    assert [a for a in attrs(spark) if a["key"] in NULL_TAGS] == [
        {"key": "h", "value": {"stringValue": ""}},
        {"key": "k", "value": {"stringValue": "v"}},
    ]


def test_group_rows_missing_column_is_a_plan_time_error(spark):
    df = spark.createDataFrame([(1,)], "big long")
    with pytest.raises(ValueError, match="missing column nope"):
        group_rows(df, ["big"], ["nope"], [], lambda rows: [])
    with pytest.raises(ValueError, match="missing column nope"):
        group_rows(df, ["big"], ["big"], [], lambda rows: [], order="nope")


PACKAGE = Path(__file__).resolve().parent.parent / "loongcollector_spark"


def test_only_the_stateful_streaming_stages_use_pandas():
    """Every stateless Python stage is an Arrow one. pandas is left to the
    three ``applyInPandasWithState`` functions of streaming/pipeline.py:
    Spark's one Arrow stateful API, ``transformWithState``, has another
    operator model."""
    banned = re.compile(r"\bimport pandas\b|\bfrom pandas\b|applyInPandas|pandas_udf")
    hits = [
        f"{path.relative_to(PACKAGE)}:{n}: {line.strip()}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != PACKAGE / "streaming" / "pipeline.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if banned.search(line)
    ]
    assert not hits, "\n".join(hits)
