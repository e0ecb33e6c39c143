"""``operators.base.payload_rows`` — the one Arrow stage of the per-row payload
decoders. Every decoder on it must carry a bigint exactly when another row of
the same Arrow batch is null (a pandas stage turns such an int64 column into
float64 and rounds values above 2**53), and must reject a missing input column
when the plan is built, not inside a Python worker."""

from __future__ import annotations

import pytest

from loongcollector_spark.dataops.multimodal import (
    decode_media_features,
    extract_media_features,
    make_ppm,
)
from loongcollector_spark.operators.jfr import _EVENT_T, JfrChunkParser
from loongcollector_spark.operators.otlp_pb import (
    OtelPbToJson,
    encode_span_pb,
    encode_traces_data,
)
from loongcollector_spark.operators.pb import (
    ParseFromPB,
    ParseSlsLogGroup,
    encode_event_group,
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
    encode_write_request,
    snappy_compress,
)

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
