"""LoongSuite protobuf wire decode — the ``processor_parse_from_pb_native``
analog.

Reference semantics (studied, not ported):
- ``core/plugin/processor/inner/ProcessorParseFromPBNative.cpp:34-121``:
  Protocol="LoongSuite"; each raw event's content is ONE serialized
  ``PipelineEventGroup``; a group that fails to parse or convert is discarded
  (counted), a good group fans out its events; group-level metadata of the
  carrier group is inherited.
- ``protobuf_public/models/pipeline_event_group.proto``: message
  PipelineEventGroup { map<string,bytes> Metadata = 1; map<string,bytes>
  Tags = 2; oneof PipelineEvents { LogEvents Logs = 3; MetricEvents
  Metrics = 4; SpanEvents Spans = 5; } } with LogEvents/MetricEvents/
  SpanEvents each ``repeated XxxEvent Events = 1``.
- ``protobuf_public/models/log_event.proto``: LogEvent { uint64 Timestamp=1;
  repeated Content{bytes Key=1; bytes Value=2} Contents=2; bytes Level=3;
  uint64 FileOffset=4; uint64 RawSize=5; }
- ``protobuf_public/models/metric_event.proto``: MetricEvent { uint64
  Timestamp=1; bytes Name=2; map<string,bytes> Tags=3; oneof Value {
  UntypedSingleValue{double Value=1} UntypedSingleValue=4 } }
- ``protobuf_public/models/span_event.proto``: SpanEvent with TraceID/SpanID/
  TraceState/ParentSpanID/Name (2-6), Kind enum=7, StartTime/EndTime=8/9,
  Tags=10, InnerEvent Events=11, SpanLink Links=12, Status enum=13,
  ScopeTags=14.
- ``core/protobuf/models/ProtocolConversion.cpp:9-160``: the uint64
  Timestamp is NANOSECONDS, split into (sec, ns remainder); a group whose
  chosen oneof has zero events fails; a MetricEvent without a value variant
  fails the whole group; span Kind/Status are plain enum casts.

Spark-first design: the decoder is pure Python (proto3 wire format is three
primitives — varint, fixed, length-delimited — no protobuf runtime needed)
and runs inside ONE Arrow ``mapInArrow`` pass (``base.payload_rows``) over a
binary payload column, exploding each group into typed event rows. This is an
ingestion-boundary operator: one linear decode pass, partition-parallel, no
shuffle — at 100 TB the parallelism is the payload partition count. The matching encoder feeds
fixtures and roundtrip tests; unit goldens pin BOTH directions against
hand-assembled wire bytes so encode/decode cannot drift together.
"""

from __future__ import annotations

import struct
from typing import Iterator

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from .base import group_rows, payload_rows

# ---------------------------------------------------------------------------
# proto3 wire primitives

_WT_VARINT, _WT_I64, _WT_LEN, _WT_I32 = 0, 1, 2, 5


class PBError(ValueError):
    """Malformed wire data (truncated varint/field, bad wire type)."""


def read_varint(buf: bytes, i: int) -> tuple[int, int]:
    val = shift = 0
    while True:
        if i >= len(buf):
            raise PBError("truncated varint")
        b = buf[i]
        i += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            return val, i
        shift += 7
        if shift > 63:
            raise PBError("varint too long")


def write_varint(val: int) -> bytes:
    out = bytearray()
    while True:
        b = val & 0x7F
        val >>= 7
        if val:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _fields(buf: bytes) -> Iterator[tuple[int, int, object]]:
    """Yield (field_no, wire_type, value) for every field in a message.
    Unknown fields are yielded too (callers skip them) — proto3 parsers
    must tolerate unknown fields."""
    i = 0
    n = len(buf)
    while i < n:
        key, i = read_varint(buf, i)
        fno, wt = key >> 3, key & 7
        if wt == _WT_VARINT:
            v, i = read_varint(buf, i)
        elif wt == _WT_LEN:
            ln, i = read_varint(buf, i)
            if i + ln > n:
                raise PBError("truncated length-delimited field")
            v = buf[i : i + ln]
            i += ln
        elif wt == _WT_I64:
            if i + 8 > n:
                raise PBError("truncated fixed64")
            v = buf[i : i + 8]
            i += 8
        elif wt == _WT_I32:
            if i + 4 > n:
                raise PBError("truncated fixed32")
            v = buf[i : i + 4]
            i += 4
        else:
            raise PBError(f"unsupported wire type {wt}")
        yield fno, wt, v


def _map_entry(buf: bytes) -> tuple[str, str]:
    """map<string,bytes> entry: key=1, value=2 (both length-delimited).
    proto3 map semantics: missing key/value default to empty."""
    k = v = b""
    for fno, wt, val in _fields(buf):
        if fno == 1 and wt == _WT_LEN:
            k = val
        elif fno == 2 and wt == _WT_LEN:
            v = val
    return _s(k), _s(v)


def _s(b: object) -> str:
    return b.decode("utf-8", "replace") if isinstance(b, bytes) else str(b)


def _split_ns(ts: int) -> tuple[int, int]:
    """ProtocolConversion.cpp:73-75 — the uint64 timestamp is ns; stored as
    (seconds, ns remainder)."""
    return ts // 1_000_000_000, ts % 1_000_000_000


# ---------------------------------------------------------------------------
# message decoders


def _decode_log_event(buf: bytes) -> dict:
    ev = {"ts": 0, "contents": {}, "level": "", "file_offset": 0, "raw_size": 0}
    for fno, wt, v in _fields(buf):
        if fno == 1 and wt == _WT_VARINT:
            ev["ts"] = v
        elif fno == 2 and wt == _WT_LEN:
            k = c = b""
            for f2, w2, v2 in _fields(v):
                if f2 == 1 and w2 == _WT_LEN:
                    k = v2
                elif f2 == 2 and w2 == _WT_LEN:
                    c = v2
            ev["contents"][_s(k)] = _s(c)  # SetContent: last same-key wins
        elif fno == 3 and wt == _WT_LEN:
            ev["level"] = _s(v)
        elif fno == 4 and wt == _WT_VARINT:
            ev["file_offset"] = v
        elif fno == 5 and wt == _WT_VARINT:
            ev["raw_size"] = v
    return ev


def _decode_metric_event(buf: bytes) -> dict | None:
    """None = unsupported value variant (fails the whole group, conversion
    cpp:100)."""
    ev = {"ts": 0, "name": "", "tags": {}, "value": None}
    for fno, wt, v in _fields(buf):
        if fno == 1 and wt == _WT_VARINT:
            ev["ts"] = v
        elif fno == 2 and wt == _WT_LEN:
            ev["name"] = _s(v)
        elif fno == 3 and wt == _WT_LEN:
            k, val = _map_entry(v)
            ev["tags"][k] = val
        elif fno == 4 and wt == _WT_LEN:
            val = 0.0
            for f2, w2, v2 in _fields(v):
                if f2 == 1 and w2 == _WT_I64:
                    val = struct.unpack("<d", v2)[0]
            ev["value"] = val  # oneof: last wins
    if ev["value"] is None:
        return None
    return ev


def _decode_inner_event(buf: bytes) -> dict:
    ev = {"ts": 0, "name": "", "tags": {}}
    for fno, wt, v in _fields(buf):
        if fno == 1 and wt == _WT_VARINT:
            ev["ts"] = v
        elif fno == 2 and wt == _WT_LEN:
            ev["name"] = _s(v)
        elif fno == 3 and wt == _WT_LEN:
            k, val = _map_entry(v)
            ev["tags"][k] = val
    return ev


def _decode_span_link(buf: bytes) -> dict:
    ln = {"trace_id": "", "span_id": "", "trace_state": "", "tags": {}}
    for fno, wt, v in _fields(buf):
        if fno == 1 and wt == _WT_LEN:
            ln["trace_id"] = _s(v)
        elif fno == 2 and wt == _WT_LEN:
            ln["span_id"] = _s(v)
        elif fno == 3 and wt == _WT_LEN:
            ln["trace_state"] = _s(v)
        elif fno == 4 and wt == _WT_LEN:
            k, val = _map_entry(v)
            ln["tags"][k] = val
    return ln


def _decode_span_event(buf: bytes) -> dict:
    ev = {
        "ts": 0,
        "trace_id": "",
        "span_id": "",
        "trace_state": "",
        "parent_span_id": "",
        "name": "",
        "kind": 0,
        "start_ns": 0,
        "end_ns": 0,
        "tags": {},
        "events": [],
        "links": [],
        "status": 0,
        "scope_tags": {},
    }
    for fno, wt, v in _fields(buf):
        if fno == 1 and wt == _WT_VARINT:
            ev["ts"] = v
        elif fno == 2 and wt == _WT_LEN:
            ev["trace_id"] = _s(v)
        elif fno == 3 and wt == _WT_LEN:
            ev["span_id"] = _s(v)
        elif fno == 4 and wt == _WT_LEN:
            ev["trace_state"] = _s(v)
        elif fno == 5 and wt == _WT_LEN:
            ev["parent_span_id"] = _s(v)
        elif fno == 6 and wt == _WT_LEN:
            ev["name"] = _s(v)
        elif fno == 7 and wt == _WT_VARINT:
            ev["kind"] = v
        elif fno == 8 and wt == _WT_VARINT:
            ev["start_ns"] = v
        elif fno == 9 and wt == _WT_VARINT:
            ev["end_ns"] = v
        elif fno == 10 and wt == _WT_LEN:
            k, val = _map_entry(v)
            ev["tags"][k] = val
        elif fno == 11 and wt == _WT_LEN:
            ev["events"].append(_decode_inner_event(v))
        elif fno == 12 and wt == _WT_LEN:
            ev["links"].append(_decode_span_link(v))
        elif fno == 13 and wt == _WT_VARINT:
            ev["status"] = v
        elif fno == 14 and wt == _WT_LEN:
            k, val = _map_entry(v)
            ev["scope_tags"][k] = val
    return ev


def decode_event_group(payload: bytes) -> dict | None:
    """Decode one serialized PipelineEventGroup; None on any failure the
    reference discards the group for (parse error, empty/absent event list,
    unsupported metric value variant)."""
    tags: dict[str, str] = {}
    metadata: dict[str, str] = {}
    case = None  # oneof PipelineEvents: LAST field on the wire wins
    events_buf: bytes | None = None
    try:
        for fno, wt, v in _fields(payload):
            if fno == 1 and wt == _WT_LEN:
                k, val = _map_entry(v)
                metadata[k] = val
            elif fno == 2 and wt == _WT_LEN:
                k, val = _map_entry(v)
                tags[k] = val
            elif fno in (3, 4, 5) and wt == _WT_LEN:
                case, events_buf = fno, v
        if case is None:
            return None  # PipelineEvents_case NOT_SET -> "unsupported event type"
        raw_events = [
            v for fno, wt, v in _fields(events_buf) if fno == 1 and wt == _WT_LEN
        ]
        if not raw_events:
            return None  # "no log/metric/span events"
        if case == 3:
            events: list[dict] = [_decode_log_event(b) for b in raw_events]
            etype = "log"
        elif case == 4:
            decoded = [_decode_metric_event(b) for b in raw_events]
            if any(e is None for e in decoded):
                return None  # one bad metric fails the whole group
            events = decoded  # type: ignore[assignment]
            etype = "metric"
        else:
            events = [_decode_span_event(b) for b in raw_events]
            etype = "trace"
    except PBError:
        return None
    return {"type": etype, "tags": tags, "metadata": metadata, "events": events}


# ---------------------------------------------------------------------------
# encoder (fixtures + roundtrip tests; mirrors TransferPipelineEventGroupToPB)


def _len_field(fno: int, payload: bytes) -> bytes:
    return write_varint(fno << 3 | _WT_LEN) + write_varint(len(payload)) + payload


def _varint_field(fno: int, val: int) -> bytes:
    # proto3 scalar default elision: zero is not written
    return b"" if val == 0 else write_varint(fno << 3 | _WT_VARINT) + write_varint(val)


def _map_field(fno: int, entries: dict[str, str]) -> bytes:
    out = b""
    for k, v in entries.items():
        entry = _len_field(1, k.encode()) + _len_field(2, v.encode())
        out += _len_field(fno, entry)
    return out


def encode_log_event(
    ts: int, contents: dict[str, str], level: str = "", file_offset: int = 0, raw_size: int = 0
) -> bytes:
    body = _varint_field(1, ts)
    for k, v in contents.items():
        body += _len_field(2, _len_field(1, k.encode()) + _len_field(2, v.encode()))
    if level:
        body += _len_field(3, level.encode())
    body += _varint_field(4, file_offset) + _varint_field(5, raw_size)
    return body


def encode_metric_event(ts: int, name: str, value: float, tags: dict[str, str]) -> bytes:
    body = _varint_field(1, ts)
    if name:
        body += _len_field(2, name.encode())
    body += _map_field(3, tags)
    # oneof member IS written even when 0.0 (presence = the set case)
    inner = write_varint(1 << 3 | _WT_I64) + struct.pack("<d", value)
    body += _len_field(4, inner)
    return body


def encode_span_event(
    ts: int,
    trace_id: str,
    span_id: str,
    name: str,
    kind: int = 0,
    start_ns: int = 0,
    end_ns: int = 0,
    tags: dict[str, str] | None = None,
    status: int = 0,
    parent_span_id: str = "",
    scope_tags: dict[str, str] | None = None,
) -> bytes:
    body = _varint_field(1, ts)
    for fno, s in ((2, trace_id), (3, span_id), (5, parent_span_id), (6, name)):
        if s:
            body += _len_field(fno, s.encode())
    body += _varint_field(7, kind)
    body += _varint_field(8, start_ns) + _varint_field(9, end_ns)
    body += _map_field(10, tags or {})
    body += _varint_field(13, status)
    body += _map_field(14, scope_tags or {})
    return body


def encode_event_group(
    etype: str,
    event_bodies: list[bytes],
    tags: dict[str, str] | None = None,
    metadata: dict[str, str] | None = None,
) -> bytes:
    fno = {"log": 3, "metric": 4, "trace": 5}[etype]
    out = _map_field(1, metadata or {}) + _map_field(2, tags or {})
    inner = b"".join(_len_field(1, b) for b in event_bodies)
    out += _len_field(fno, inner)
    return out


# ---------------------------------------------------------------------------
# Spark operator

# One wide relational schema for the mixed-type fan-out, following models.py's
# convention (typed frames union by name, missing columns null, __event_type__
# routes). Nested span events/links stay arrays-of-structs.
_TAGMAP = MapType(StringType(), StringType())
GROUP_EVENT_SCHEMA = StructType(
    [
        StructField("__event_type__", StringType()),
        StructField("group_tags", _TAGMAP),
        StructField("ts_sec", LongType()),
        StructField("ts_ns", LongType()),
        # log
        StructField("contents", _TAGMAP),
        StructField("level", StringType()),
        StructField("file_offset", LongType()),
        StructField("raw_size", LongType()),
        # metric
        StructField("metric_name", StringType()),
        StructField("value", DoubleType()),
        StructField("metric_tags", _TAGMAP),
        # span
        StructField("trace_id", StringType()),
        StructField("span_id", StringType()),
        StructField("parent_span_id", StringType()),
        StructField("span_name", StringType()),
        StructField("kind", LongType()),
        StructField("start_ns", LongType()),
        StructField("end_ns", LongType()),
        StructField("span_tags", _TAGMAP),
        StructField(
            "span_events",
            ArrayType(
                StructType(
                    [
                        StructField("ts", LongType()),
                        StructField("name", StringType()),
                        StructField("tags", _TAGMAP),
                    ]
                )
            ),
        ),
        StructField(
            "span_links",
            ArrayType(
                StructType(
                    [
                        StructField("trace_id", StringType()),
                        StructField("span_id", StringType()),
                        StructField("trace_state", StringType()),
                        StructField("tags", _TAGMAP),
                    ]
                )
            ),
        ),
        StructField("status", LongType()),
        StructField("scope_tags", _TAGMAP),
    ]
)


class ParseFromPB:
    """processor_parse_from_pb_native: decode a binary payload column of
    serialized PipelineEventGroups into typed event rows.

    Rows whose payload fails to decode are DROPPED (the reference discards
    the group and counts it — ProcessorParseFromPBNative.cpp:96-104).
    Passthrough columns are repeated onto every fanned-out event row (the
    metadata-inheritance analog)."""

    def __init__(self, payload_col: str = "payload", passthrough: list[str] | None = None):
        self.payload_col = payload_col
        self.passthrough = passthrough or []

    def apply(self, df: DataFrame) -> DataFrame:
        payload_col = self.payload_col

        def rows_of(r: dict) -> list[tuple]:
            raw = r[payload_col]
            g = decode_event_group(raw) if raw is not None else None
            if g is None:  # NULL/garbage payload: drop the line
                return []
            rows = []
            for ev in g["events"]:
                sec, ns = _split_ns(ev["ts"])
                if g["type"] == "log":
                    rows.append(
                        ("log", g["tags"], sec, ns, ev["contents"],
                         ev["level"], ev["file_offset"], ev["raw_size"])
                        + (None,) * 15
                    )
                elif g["type"] == "metric":
                    rows.append(
                        ("metric", g["tags"], sec, ns)
                        + (None,) * 4
                        + (ev["name"], ev["value"], ev["tags"])
                        + (None,) * 12
                    )
                else:
                    rows.append(
                        ("trace", g["tags"], sec, ns)
                        + (None,) * 7
                        + (
                            ev["trace_id"], ev["span_id"],
                            ev["parent_span_id"], ev["name"], ev["kind"],
                            ev["start_ns"], ev["end_ns"], ev["tags"],
                            [(e["ts"], e["name"], e["tags"]) for e in ev["events"]],
                            [
                                (l["trace_id"], l["span_id"], l["trace_state"], l["tags"])
                                for l in ev["links"]
                            ],
                            ev["status"], ev["scope_tags"],
                        )
                    )
            return rows

        return payload_rows(
            df, [payload_col], self.passthrough, GROUP_EVENT_SCHEMA.fields, rows_of
        )


def encode_groups_df(
    df: DataFrame,
    group_col: str,
    build_event,
    etype: str = "log",
    tag_cols: dict[str, str] | None = None,
) -> DataFrame:
    """Fixture helper: pack rows into one PipelineEventGroup payload per
    ``group_col`` value (``base.group_rows``). ``build_event(row) -> bytes`` is
    one of the encode_*_event builders partially applied, over the row as a
    dict of ``df``'s columns; ``tag_cols`` maps tag name -> column whose
    (constant-within-group) value becomes the tag."""
    tag_cols = tag_cols or {}

    def pack(rows: list[dict]) -> list[tuple]:
        tags = {k: str(rows[0][c]) for k, c in tag_cols.items()}
        return [(encode_event_group(etype, [build_event(r) for r in rows], tags),)]

    payload = [StructField("payload", BinaryType())]
    return group_rows(df, [group_col], df.columns, payload, pack)


# --- sls_logs.proto (service_http_server Format=sls) -------------------------
#
# pkg/protocol/decoder/sls/decoder.go:30-36 — the HTTP body is ONE serialized
# ``protocol.LogGroup`` (pkg/protocol/proto/sls_logs.proto): proto2 with
# REQUIRED fields, so a Log missing Time or a Content missing Key/Value fails
# Unmarshal and the whole request is rejected (here: the row yields None).
# Log { required uint32 Time=1; Contents=2 { required Key=1; required
# Value=2 }; fixed32 Time_ns=4 }; LogGroup { Logs=1, Category=2, Topic=3,
# Source=4, MachineUUID=5, LogTags=6 {Key=1,Value=2} }.


def decode_sls_log_group(payload: bytes) -> dict | None:
    try:
        group: dict = {
            "logs": [],
            "category": "",
            "topic": "",
            "source": "",
            "machine_uuid": "",
            "tags": {},
        }
        seen_any = False
        for fno, wt, v in _fields(payload):
            seen_any = True
            if fno == 1 and wt == 2:
                log: dict = {"time": None, "time_ns": None, "contents": {}}
                for f2, w2, v2 in _fields(bytes(v)):
                    if f2 == 1 and w2 == 0:
                        log["time"] = int(v2)
                    elif f2 == 2 and w2 == 2:
                        k = val = None
                        for f3, w3, v3 in _fields(bytes(v2)):
                            if f3 == 1 and w3 == 2:
                                k = _s(v3)
                            elif f3 == 2 and w3 == 2:
                                val = _s(v3)
                        if k is None or val is None:
                            return None  # required Key/Value missing
                        log["contents"][k] = val
                    elif f2 == 4 and w2 == 5:
                        log["time_ns"] = int.from_bytes(v2, "little")
                if log["time"] is None:
                    return None  # required Time missing
                group["logs"].append(log)
            elif fno == 2 and wt == 2:
                group["category"] = _s(v)
            elif fno == 3 and wt == 2:
                group["topic"] = _s(v)
            elif fno == 4 and wt == 2:
                group["source"] = _s(v)
            elif fno == 5 and wt == 2:
                group["machine_uuid"] = _s(v)
            elif fno == 6 and wt == 2:
                k = val = None
                for f3, w3, v3 in _fields(bytes(v)):
                    if f3 == 1 and w3 == 2:
                        k = _s(v3)
                    elif f3 == 2 and w3 == 2:
                        val = _s(v3)
                if k is None or val is None:
                    return None
                group["tags"][k] = val
        if not seen_any:
            return None
        return group
    except PBError:
        return None


def encode_sls_log(time_sec: int, contents: dict[str, str], time_ns: int | None = None) -> bytes:
    out = write_varint(1 << 3) + write_varint(time_sec)
    for k, v in contents.items():
        c = _len_field(1, k.encode()) + _len_field(2, v.encode())
        out += _len_field(2, c)
    if time_ns is not None:
        out += write_varint((4 << 3) | 5) + time_ns.to_bytes(4, "little")
    return out


def encode_sls_log_group(
    logs: list[bytes],
    category: str = "",
    topic: str = "",
    source: str = "",
    tags: dict[str, str] | None = None,
) -> bytes:
    out = b"".join(_len_field(1, lg) for lg in logs)
    if category:
        out += _len_field(2, category.encode())
    if topic:
        out += _len_field(3, topic.encode())
    if source:
        out += _len_field(4, source.encode())
    for k, v in (tags or {}).items():
        out += _len_field(6, _len_field(1, k.encode()) + _len_field(2, v.encode()))
    return out


_SLS_FIELDS = [
    StructField("time", LongType()),
    StructField("time_ns", LongType()),
    StructField("contents", _TAGMAP),
    StructField("category", StringType()),
    StructField("topic", StringType()),
    StructField("source", StringType()),
    StructField("group_tags", _TAGMAP),
]


class ParseSlsLogGroup:
    """Explode a binary LogGroup payload column into log rows (time, time_ns,
    contents map + group topic/source/category/tags). A payload failing
    Unmarshal yields no rows (the decoder rejects the request)."""

    def __init__(self, payload_col: str = "payload", passthrough: list[str] | None = None):
        self.payload_col = payload_col
        self.passthrough = passthrough or []

    def apply(self, df: DataFrame) -> DataFrame:
        payload_col = self.payload_col

        def rows_of(r: dict) -> list[tuple]:
            raw = r[payload_col]
            g = decode_sls_log_group(raw) if raw is not None else None
            if g is None:  # NULL/garbage payload: drop the line
                return []
            return [
                (log["time"], log["time_ns"], log["contents"], g["category"],
                 g["topic"], g["source"], g["tags"])
                for log in g["logs"]
            ]

        return payload_rows(df, [payload_col], self.passthrough, _SLS_FIELDS, rows_of)
