"""OTLP protobuf wire ingest — the ``Format: protobuf`` path of
processor_otel_trace / processor_otel_metric.

Reference semantics: ``plugins/processor/otel/processor_otel_trace.go:31,57-66``
accepts Format=protobuf|json|protojson; the protobuf path unmarshals OTLP
``TracesData``/``MetricsData`` wire bytes and feeds the same span/metric →
SLS-log conversion as the JSON path; undecodable payloads drop the event.

Spark-first design: decode the wire bytes to the OTLP/JSON representation
(hex-encoded ids, uint64s as strings — the standard proto3-JSON mapping used
by protojson) in ONE Arrow ``mapInArrow`` pass (``base.payload_rows``), then
reuse the EXISTING column-expression parsers (operators/otel.py
OtelTraceParser / OtelMetricParser) unchanged. The conversion and the
field-map logic live once; protobuf and JSON inputs cannot drift apart.

Field numbers transcribed from the public opentelemetry-proto schema
(trace/v1/trace.proto, metrics/v1/metrics.proto, common/v1/common.proto).
Handles packed AND unpacked encodings of repeated scalars, zigzag sint32
(exp-histogram scale / bucket offset), and the sfixed64 asInt variant.
"""

from __future__ import annotations

import json
import struct

from pyspark.sql import DataFrame

from .base import FIELDS, payload_rows
from .pb import PBError, _fields, _s, read_varint

_WT_VARINT, _WT_I64, _WT_LEN, _WT_I32 = 0, 1, 2, 5


def _zigzag(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def _sfixed64(b: bytes) -> int:
    return struct.unpack("<q", b)[0]


def _double(b: bytes) -> float:
    return struct.unpack("<d", b)[0]


def _hex(b: bytes) -> str:
    return b.hex()


def _packed_fixed64(wt: int, v: object) -> list[bytes]:
    """A repeated fixed64 field arrives packed (LEN of 8-byte chunks) or as
    individual I64 fields."""
    if wt == _WT_I64:
        return [v]  # type: ignore[list-item]
    if wt == _WT_LEN:
        b = v  # type: ignore[assignment]
        return [b[i : i + 8] for i in range(0, len(b), 8)]
    return []


def _packed_varints(wt: int, v: object) -> list[int]:
    if wt == _WT_VARINT:
        return [v]  # type: ignore[list-item]
    if wt == _WT_LEN:
        out, i = [], 0
        while i < len(v):  # type: ignore[arg-type]
            val, i = read_varint(v, i)  # type: ignore[arg-type]
            out.append(val)
        return out
    return []


# --- common.proto ----------------------------------------------------------


def _any_value(buf: bytes) -> dict:
    """AnyValue → its proto3-JSON object. oneof: last field wins."""
    out: dict = {}
    for fno, wt, v in _fields(buf):
        if fno == 1 and wt == _WT_LEN:
            out = {"stringValue": _s(v)}
        elif fno == 2 and wt == _WT_VARINT:
            out = {"boolValue": bool(v)}
        elif fno == 3 and wt == _WT_VARINT:
            # int64 on the wire is two's-complement in 64 bits
            out = {"intValue": str(v - (1 << 64) if v >= 1 << 63 else v)}
        elif fno == 4 and wt == _WT_I64:
            out = {"doubleValue": _double(v)}
        elif fno == 5 and wt == _WT_LEN:
            vals = [
                _any_value(x) for f2, w2, x in _fields(v) if f2 == 1 and w2 == _WT_LEN
            ]
            out = {"arrayValue": {"values": vals}}
        elif fno == 6 and wt == _WT_LEN:
            out = {"kvlistValue": {"values": _attrs_of(v, 1)}}
        elif fno == 7 and wt == _WT_LEN:
            out = {"bytesValue": _hex(v)}
    return out


def _attrs_of(buf: bytes, fno_attrs: int) -> list[dict]:
    out = []
    for fno, wt, v in _fields(buf):
        if fno == fno_attrs and wt == _WT_LEN:
            kv: dict = {"key": "", "value": {}}
            for f2, w2, v2 in _fields(v):
                if f2 == 1 and w2 == _WT_LEN:
                    kv["key"] = _s(v2)
                elif f2 == 2 and w2 == _WT_LEN:
                    kv["value"] = _any_value(v2)
            out.append(kv)
    return out


def _scope(buf: bytes) -> dict:
    sc = {"name": "", "version": ""}
    for fno, wt, v in _fields(buf):
        if fno == 1 and wt == _WT_LEN:
            sc["name"] = _s(v)
        elif fno == 2 and wt == _WT_LEN:
            sc["version"] = _s(v)
    return sc


# --- trace.proto -----------------------------------------------------------


def _span_event(buf: bytes) -> dict:
    ev = {"timeUnixNano": "0", "name": "", "attributes": []}
    for fno, wt, v in _fields(buf):
        if fno == 1 and wt == _WT_I64:
            ev["timeUnixNano"] = str(struct.unpack("<Q", v)[0])
        elif fno == 2 and wt == _WT_LEN:
            ev["name"] = _s(v)
    ev["attributes"] = _attrs_of(buf, 3)
    return ev


def _span_link(buf: bytes) -> dict:
    ln = {"traceId": "", "spanId": "", "attributes": []}
    for fno, wt, v in _fields(buf):
        if fno == 1 and wt == _WT_LEN:
            ln["traceId"] = _hex(v)
        elif fno == 2 and wt == _WT_LEN:
            ln["spanId"] = _hex(v)
    ln["attributes"] = _attrs_of(buf, 4)
    return ln


def _span(buf: bytes) -> dict:
    sp: dict = {
        "traceId": "",
        "spanId": "",
        "parentSpanId": "",
        "traceState": "",
        "name": "",
        "kind": 0,
        "startTimeUnixNano": "0",
        "endTimeUnixNano": "0",
        "attributes": [],
        "events": [],
        "links": [],
        "status": {},
    }
    for fno, wt, v in _fields(buf):
        if fno == 1 and wt == _WT_LEN:
            sp["traceId"] = _hex(v)
        elif fno == 2 and wt == _WT_LEN:
            sp["spanId"] = _hex(v)
        elif fno == 3 and wt == _WT_LEN:
            sp["traceState"] = _s(v)
        elif fno == 4 and wt == _WT_LEN:
            sp["parentSpanId"] = _hex(v)
        elif fno == 5 and wt == _WT_LEN:
            sp["name"] = _s(v)
        elif fno == 6 and wt == _WT_VARINT:
            sp["kind"] = v
        elif fno == 7 and wt == _WT_I64:
            sp["startTimeUnixNano"] = str(struct.unpack("<Q", v)[0])
        elif fno == 8 and wt == _WT_I64:
            sp["endTimeUnixNano"] = str(struct.unpack("<Q", v)[0])
        elif fno == 9 and wt == _WT_LEN:
            pass  # collected via _attrs_of below
        elif fno == 11 and wt == _WT_LEN:
            sp["events"].append(_span_event(v))
        elif fno == 13 and wt == _WT_LEN:
            sp["links"].append(_span_link(v))
        elif fno == 15 and wt == _WT_LEN:
            st = {}
            for f2, w2, v2 in _fields(v):
                if f2 == 2 and w2 == _WT_LEN:
                    st["message"] = _s(v2)
                elif f2 == 3 and w2 == _WT_VARINT:
                    st["code"] = v2
            sp["status"] = st
    sp["attributes"] = _attrs_of(buf, 9)
    return sp


def decode_traces(payload: bytes) -> dict | None:
    """TracesData wire bytes → the OTLP/JSON dict; None on malformed input
    (the processor drops the event, processor_otel_trace.go:57-66)."""
    try:
        rss = []
        for fno, wt, v in _fields(payload):
            if fno == 1 and wt == _WT_LEN:
                rs: dict = {"resource": {"attributes": []}, "scopeSpans": []}
                for f2, w2, v2 in _fields(v):
                    if f2 == 1 and w2 == _WT_LEN:
                        rs["resource"] = {"attributes": _attrs_of(v2, 1)}
                    elif f2 == 2 and w2 == _WT_LEN:
                        ss: dict = {"scope": {}, "spans": []}
                        for f3, w3, v3 in _fields(v2):
                            if f3 == 1 and w3 == _WT_LEN:
                                ss["scope"] = _scope(v3)
                            elif f3 == 2 and w3 == _WT_LEN:
                                ss["spans"].append(_span(v3))
                        rs["scopeSpans"].append(ss)
                rss.append(rs)
        if not rss:
            return None
        return {"resourceSpans": rss}
    except PBError:
        return None


# --- metrics.proto ---------------------------------------------------------


def _exemplar(buf: bytes) -> dict:
    ex: dict = {"timeUnixNano": "0"}
    for fno, wt, v in _fields(buf):
        if fno == 2 and wt == _WT_I64:
            ex["timeUnixNano"] = str(struct.unpack("<Q", v)[0])
        elif fno == 3 and wt == _WT_I64:
            ex.pop("asInt", None)
            ex["asDouble"] = _double(v)
        elif fno == 6 and wt == _WT_I64:
            ex.pop("asDouble", None)
            ex["asInt"] = str(_sfixed64(v))
        elif fno == 4 and wt == _WT_LEN:
            ex["spanId"] = _hex(v)
        elif fno == 5 and wt == _WT_LEN:
            ex["traceId"] = _hex(v)
    fa = _attrs_of(buf, 7)
    if fa:
        ex["filteredAttributes"] = fa
    return ex


def _number_dp(buf: bytes) -> dict:
    dp: dict = {"attributes": [], "timeUnixNano": "0"}
    for fno, wt, v in _fields(buf):
        if fno == 3 and wt == _WT_I64:
            dp["timeUnixNano"] = str(struct.unpack("<Q", v)[0])
        elif fno == 4 and wt == _WT_I64:
            dp.pop("asInt", None)
            dp["asDouble"] = _double(v)
        elif fno == 6 and wt == _WT_I64:
            dp.pop("asDouble", None)
            dp["asInt"] = str(_sfixed64(v))
        elif fno == 5 and wt == _WT_LEN:
            dp.setdefault("exemplars", []).append(_exemplar(v))
    dp["attributes"] = _attrs_of(buf, 7)
    return dp


def _hist_dp(buf: bytes) -> dict:
    dp: dict = {
        "attributes": [],
        "timeUnixNano": "0",
        "count": "0",
        "bucketCounts": [],
        "explicitBounds": [],
    }
    for fno, wt, v in _fields(buf):
        if fno == 3 and wt == _WT_I64:
            dp["timeUnixNano"] = str(struct.unpack("<Q", v)[0])
        elif fno == 4 and wt == _WT_I64:
            dp["count"] = str(struct.unpack("<Q", v)[0])
        elif fno == 5 and wt == _WT_I64:
            dp["sum"] = _double(v)
        elif fno == 6:
            dp["bucketCounts"] += [
                str(struct.unpack("<Q", c)[0]) for c in _packed_fixed64(wt, v)
            ]
        elif fno == 7:
            if wt == _WT_I64:
                dp["explicitBounds"].append(_double(v))
            elif wt == _WT_LEN:
                dp["explicitBounds"] += [
                    _double(v[i : i + 8]) for i in range(0, len(v), 8)
                ]
        elif fno == 8 and wt == _WT_LEN:
            dp.setdefault("exemplars", []).append(_exemplar(v))
        elif fno == 11 and wt == _WT_I64:
            dp["min"] = _double(v)
        elif fno == 12 and wt == _WT_I64:
            dp["max"] = _double(v)
    dp["attributes"] = _attrs_of(buf, 9)
    return dp


def _exp_buckets(buf: bytes) -> dict:
    b: dict = {"offset": 0, "bucketCounts": []}
    for fno, wt, v in _fields(buf):
        if fno == 1 and wt == _WT_VARINT:
            b["offset"] = _zigzag(v)
        elif fno == 2:
            b["bucketCounts"] += [str(x) for x in _packed_varints(wt, v)]
    return b


def _exp_dp(buf: bytes) -> dict:
    dp: dict = {"attributes": [], "timeUnixNano": "0", "count": "0", "zeroCount": "0"}
    for fno, wt, v in _fields(buf):
        if fno == 3 and wt == _WT_I64:
            dp["timeUnixNano"] = str(struct.unpack("<Q", v)[0])
        elif fno == 4 and wt == _WT_I64:
            dp["count"] = str(struct.unpack("<Q", v)[0])
        elif fno == 5 and wt == _WT_I64:
            dp["sum"] = _double(v)
        elif fno == 6 and wt == _WT_VARINT:
            dp["scale"] = _zigzag(v)
        elif fno == 7 and wt == _WT_I64:
            dp["zeroCount"] = str(struct.unpack("<Q", v)[0])
        elif fno == 8 and wt == _WT_LEN:
            dp["positive"] = _exp_buckets(v)
        elif fno == 9 and wt == _WT_LEN:
            dp["negative"] = _exp_buckets(v)
        elif fno == 11 and wt == _WT_LEN:
            dp.setdefault("exemplars", []).append(_exemplar(v))
        elif fno == 12 and wt == _WT_I64:
            dp["min"] = _double(v)
        elif fno == 13 and wt == _WT_I64:
            dp["max"] = _double(v)
    dp["attributes"] = _attrs_of(buf, 1)
    return dp


def _summary_dp(buf: bytes) -> dict:
    dp: dict = {"attributes": [], "timeUnixNano": "0", "count": "0", "quantileValues": []}
    for fno, wt, v in _fields(buf):
        if fno == 3 and wt == _WT_I64:
            dp["timeUnixNano"] = str(struct.unpack("<Q", v)[0])
        elif fno == 4 and wt == _WT_I64:
            dp["count"] = str(struct.unpack("<Q", v)[0])
        elif fno == 5 and wt == _WT_I64:
            dp["sum"] = _double(v)
        elif fno == 6 and wt == _WT_LEN:
            qv = {"quantile": 0.0, "value": 0.0}
            for f2, w2, v2 in _fields(v):
                if f2 == 1 and w2 == _WT_I64:
                    qv["quantile"] = _double(v2)
                elif f2 == 2 and w2 == _WT_I64:
                    qv["value"] = _double(v2)
            dp["quantileValues"].append(qv)
    dp["attributes"] = _attrs_of(buf, 7)
    return dp


def _metric(buf: bytes) -> dict:
    m: dict = {"name": ""}
    for fno, wt, v in _fields(buf):
        if fno == 1 and wt == _WT_LEN:
            m["name"] = _s(v)
        elif fno == 5 and wt == _WT_LEN:
            m["gauge"] = {
                "dataPoints": [
                    _number_dp(x) for f2, w2, x in _fields(v) if f2 == 1 and w2 == _WT_LEN
                ]
            }
        elif fno == 7 and wt == _WT_LEN:
            s: dict = {"dataPoints": [], "isMonotonic": False}
            for f2, w2, x in _fields(v):
                if f2 == 1 and w2 == _WT_LEN:
                    s["dataPoints"].append(_number_dp(x))
                elif f2 == 3 and w2 == _WT_VARINT:
                    s["isMonotonic"] = bool(x)
            m["sum"] = s
        elif fno == 9 and wt == _WT_LEN:
            m["histogram"] = {
                "dataPoints": [
                    _hist_dp(x) for f2, w2, x in _fields(v) if f2 == 1 and w2 == _WT_LEN
                ]
            }
        elif fno == 10 and wt == _WT_LEN:
            m["exponentialHistogram"] = {
                "dataPoints": [
                    _exp_dp(x) for f2, w2, x in _fields(v) if f2 == 1 and w2 == _WT_LEN
                ]
            }
        elif fno == 11 and wt == _WT_LEN:
            m["summary"] = {
                "dataPoints": [
                    _summary_dp(x) for f2, w2, x in _fields(v) if f2 == 1 and w2 == _WT_LEN
                ]
            }
    return m


def decode_metrics(payload: bytes) -> dict | None:
    """MetricsData wire bytes → the OTLP/JSON dict; None on malformed input."""
    try:
        rms = []
        for fno, wt, v in _fields(payload):
            if fno == 1 and wt == _WT_LEN:
                rm: dict = {"resource": {"attributes": []}, "scopeMetrics": []}
                for f2, w2, v2 in _fields(v):
                    if f2 == 1 and w2 == _WT_LEN:
                        rm["resource"] = {"attributes": _attrs_of(v2, 1)}
                    elif f2 == 2 and w2 == _WT_LEN:
                        sm: dict = {"metrics": []}
                        for f3, w3, v3 in _fields(v2):
                            if f3 == 2 and w3 == _WT_LEN:
                                sm["metrics"].append(_metric(v3))
                        rm["scopeMetrics"].append(sm)
                rms.append(rm)
        if not rms:
            return None
        return {"resourceMetrics": rms}
    except PBError:
        return None


# --- Spark operator --------------------------------------------------------


class OtelPbToJson:
    """Format=protobuf front end: rewrite ``fields[source_key]`` from OTLP
    wire bytes (hex/base64/raw — see ``binary_encoding``) to the OTLP/JSON
    string the column-expression parsers consume; undecodable rows are
    dropped. Chain as ``OtelTraceParser().apply(OtelPbToJson('trace').apply(df))``.

    ``binary_encoding``: parquet/oracle fixtures carry the wire bytes hex-
    encoded in the string field map ('hex', default); 'base64' matches OTLP/
    HTTP bodies relayed through JSON; 'latin1' reinterprets a raw-byte string.
    """

    def __init__(
        self,
        signal: str = "trace",
        source_key: str = "content",
        binary_encoding: str = "hex",
    ):
        if signal not in ("trace", "metric", "log"):
            raise ValueError("signal must be trace|metric|log")
        self.signal = signal
        self.source_key = source_key
        self.binary_encoding = binary_encoding

    def apply(self, df: DataFrame) -> DataFrame:
        import base64

        decode = {
            "trace": decode_traces,
            "metric": decode_metrics,
            "log": decode_logs,
        }[self.signal]
        src_key, enc = self.source_key, self.binary_encoding

        def rows_of(r: dict) -> list[tuple]:
            fmap = dict(r[FIELDS] or ())
            raw = fmap.get(src_key)
            if raw is None:
                return []
            try:
                if enc == "hex":
                    payload = bytes.fromhex(raw)
                elif enc == "base64":
                    payload = base64.b64decode(raw)
                else:
                    payload = raw.encode("latin1")
            except ValueError:
                return []
            d = decode(payload)
            if d is None:
                return []
            fmap[src_key] = json.dumps(d, separators=(",", ":"))
            return [(fmap,)]

        carried = [c for c in df.columns if c != FIELDS]
        out = payload_rows(df, [FIELDS], carried, [df.schema[FIELDS]], rows_of)
        return out.select(*df.columns)


# --- fixture encoders (tests + oracle queries build wire bytes with these;
# --- goldens pin them against hand-assembled bytes) ------------------------


def _k(fno: int, wt: int) -> bytes:
    from .pb import write_varint

    return write_varint(fno << 3 | wt)


def _ld(fno: int, payload: bytes) -> bytes:
    from .pb import write_varint

    return _k(fno, _WT_LEN) + write_varint(len(payload)) + payload


def _vi(fno: int, val: int) -> bytes:
    from .pb import write_varint

    return b"" if val == 0 else _k(fno, _WT_VARINT) + write_varint(val)


def _f64(fno: int, val: int) -> bytes:
    return b"" if val == 0 else _k(fno, _WT_I64) + struct.pack("<Q", val)


def _dbl(fno: int, val: float) -> bytes:
    return _k(fno, _WT_I64) + struct.pack("<d", val)


def encode_attr(key: str, value) -> bytes:
    """KeyValue; a ``None`` value (a null in a sink frame's string map)
    reads as the string ""."""
    from .pb import write_varint

    if value is None or isinstance(value, str):
        av = _ld(1, (value or "").encode())
    elif isinstance(value, bool):
        av = _k(2, 0) + bytes([int(value)])
    elif isinstance(value, int):
        av = _k(3, 0) + write_varint(value & ((1 << 64) - 1))
    else:
        av = _dbl(4, float(value))
    return _ld(1, key.encode()) + _ld(2, av)


def encode_span_pb(
    trace_id: bytes,
    span_id: bytes,
    name: str,
    kind: int,
    start_ns: int,
    end_ns: int,
    attrs: list[bytes] = (),
    status_code: int = 0,
    parent_span_id: bytes = b"",
    status_message: str = "",
) -> bytes:
    body = _ld(1, trace_id) + _ld(2, span_id)
    if parent_span_id:
        body += _ld(4, parent_span_id)
    body += _ld(5, name.encode())
    body += _vi(6, kind) + _f64(7, start_ns) + _f64(8, end_ns)
    for a in attrs:
        body += _ld(9, a)
    status = b""
    if status_message:
        status += _ld(2, status_message.encode())
    body += _ld(15, status + _vi(3, status_code))
    return body


def encode_traces_data(
    resource_attrs: list[bytes],
    scope_name: str,
    scope_version: str,
    spans: list[bytes],
) -> bytes:
    resource = b"".join(_ld(1, a) for a in resource_attrs)
    scope = _ld(1, scope_name.encode()) + _ld(2, scope_version.encode())
    ss = _ld(1, scope) + b"".join(_ld(2, s) for s in spans)
    rs = _ld(1, resource) + _ld(2, ss)
    return _ld(1, rs)


def encode_number_dp(
    time_ns: int, as_double: float | None = None, as_int: int | None = None,
    attrs: list[bytes] = (),
) -> bytes:
    body = _f64(3, time_ns)
    if as_double is not None:
        body += _dbl(4, as_double)
    if as_int is not None:
        body += _k(6, _WT_I64) + struct.pack("<q", as_int)
    for a in attrs:
        body += _ld(7, a)
    return body


def encode_metrics_data(metrics: list[bytes], resource_attrs: list[bytes] = ()) -> bytes:
    resource = b"".join(_ld(1, a) for a in resource_attrs)
    sm = b"".join(_ld(2, m) for m in metrics)
    rm = _ld(1, resource) + _ld(2, sm)
    return _ld(1, rm)


def _metric_name(name: str | None) -> bytes:
    """Metric.name=1; a null name is left out (proto3: the decoder reads "")."""
    return b"" if name is None else _ld(1, name.encode())


def encode_gauge_metric(name: str | None, dps: list[bytes]) -> bytes:
    return _metric_name(name) + _ld(5, b"".join(_ld(1, d) for d in dps))


def encode_sum_metric(
    name: str | None, dps: list[bytes], is_monotonic: bool, temporality: int | None = None
) -> bytes:
    body = b"".join(_ld(1, d) for d in dps)
    if temporality is not None:  # metrics.proto Sum.aggregation_temporality=2
        body += _vi(2, temporality)
    body += _vi(3, int(is_monotonic))
    return _metric_name(name) + _ld(7, body)


# --- logs.proto --------------------------------------------------------------


def _log_record(buf: bytes) -> dict:
    """LogRecord (logs.proto): time_unix_nano=1 fixed64, severity_number=2
    varint, severity_text=3, body=5 AnyValue, attributes=6."""
    lr: dict = {
        "timeUnixNano": "0",
        "severityNumber": 0,
        "severityText": "",
        "body": {},
        "attributes": [],
    }
    for fno, wt, v in _fields(buf):
        if fno == 1 and wt == _WT_I64:
            lr["timeUnixNano"] = str(_sfixed64(v) & ((1 << 64) - 1))
        elif fno == 2 and wt == _WT_VARINT:
            lr["severityNumber"] = int(v)
        elif fno == 3 and wt == _WT_LEN:
            lr["severityText"] = _s(v)
        elif fno == 5 and wt == _WT_LEN:
            lr["body"] = _any_value(v)
        elif fno == 6 and wt == _WT_LEN:
            lr["attributes"].extend(_attrs_of(_ld(1, bytes(v)), 1))
    return lr


def decode_logs(payload: bytes) -> dict | None:
    """LogsData / ExportLogsServiceRequest wire bytes → the OTLP/JSON dict;
    None on malformed input (the decoder fails the request —
    pkg/protocol/decoder/opentelemetry/decoder.go:49-56)."""
    try:
        rls = []
        for fno, wt, v in _fields(payload):
            if fno == 1 and wt == _WT_LEN:
                rl: dict = {"resource": {"attributes": []}, "scopeLogs": []}
                for f2, w2, v2 in _fields(v):
                    if f2 == 1 and w2 == _WT_LEN:
                        rl["resource"] = {"attributes": _attrs_of(v2, 1)}
                    elif f2 == 2 and w2 == _WT_LEN:
                        sl: dict = {"scope": {}, "logRecords": []}
                        for f3, w3, v3 in _fields(v2):
                            if f3 == 1 and w3 == _WT_LEN:
                                sl["scope"] = _scope(v3)
                            elif f3 == 2 and w3 == _WT_LEN:
                                sl["logRecords"].append(_log_record(v3))
                        rl["scopeLogs"].append(sl)
                rls.append(rl)
        if not rls:
            return None
        return {"resourceLogs": rls}
    except PBError:
        return None


def encode_log_record_pb(
    ts_ns: int,
    severity_number: int = 0,
    severity_text: str = "",
    body: str | int | float | bool | None = None,
    attrs: list[bytes] = (),
) -> bytes:
    out = _f64(1, ts_ns) + _vi(2, severity_number)
    if severity_text:
        out += _ld(3, severity_text.encode())
    if body is not None:
        if isinstance(body, str):
            av = _ld(1, body.encode())
        elif isinstance(body, bool):
            av = _k(2, 0) + bytes([int(body)])
        elif isinstance(body, int):
            from .pb import write_varint

            av = _k(3, 0) + write_varint(body & ((1 << 64) - 1))
        else:
            av = _dbl(4, float(body))
        out += _ld(5, av)
    for a in attrs:
        out += _ld(6, a)
    return out


def encode_logs_data(records: list[bytes], resource_attrs: list[bytes] = ()) -> bytes:
    scope_logs = b"".join(_ld(2, r) for r in records)
    rl = b""
    if resource_attrs:
        rl += _ld(1, b"".join(_ld(1, a) for a in resource_attrs))
    rl += _ld(2, scope_logs)
    return _ld(1, rl)
