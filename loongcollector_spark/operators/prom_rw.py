"""Prometheus remote-write ingestion (service_http_server Format=prometheus):
snappy-compressed protobuf ``prompb.WriteRequest`` → metric-log rows.

Reference semantics (studied, not ported):

- ``pkg/protocol/decoder/prometheus/decoder.go:71-77``: Content-Encoding
  ``snappy`` + Content-Type ``application/x-protobuf`` selects the
  remote-write path (everything else falls to the text exposition parser —
  ``operators/prom_text.py`` here);
- ``decoder.go:120-152`` decodeInRemoteWriteFormat: per TimeSeries, the
  ``__name__`` label becomes the metric name, the rest become the sorted
  ``k#$#v|…`` label string; every Sample fans out one metric log; an
  unparseable body fails the whole request (here: the row yields no events);
- ``pkg/helper/log_helper.go:258-290`` NewMetricLog[StringVal]: value is
  ``strconv.FormatFloat(v,'g',-1,64)`` with the signaling StaleNaN bit
  pattern (0x7ff0000000000002) rendered ``__STALE_NAN__``;
  ``__time_nano__`` normalizes the sample timestamp by DIGIT COUNT — 13
  digits (ms) appends six zeros, 19 digits (ns) passes through, anything
  else is scaled by 10^(19-len);
- ``prompb/types.proto`` (public Prometheus repo): WriteRequest{repeated
  TimeSeries timeseries=1}; TimeSeries{repeated Label labels=1, repeated
  Sample samples=2}; Label{name=1,value=2}; Sample{double value=1, int64
  timestamp=2}. Exemplars/native histograms (fields 3/4) are skipped like
  any unknown field.

The snappy codec here is a from-scratch implementation of the PUBLIC snappy
block format (google/snappy format_description.txt): uvarint uncompressed
length, then literal (tag&3==0) and copy (1/2/4-byte offset) elements.
``snappy_compress`` emits a valid literal-only stream — enough to build
fixtures without the C library; ``snappy_decompress`` handles the full
format including overlapping copies.

Spark-first: decode runs in ONE Arrow ``mapInArrow`` pass (``base.payload_rows``)
over the binary payload column — an ingestion-boundary operator, linear and
partition-parallel, no shuffle; downstream everything is Column expressions.
"""

from __future__ import annotations

import math
import struct

from pyspark.sql import DataFrame
from pyspark.sql.types import BinaryType, IntegerType, LongType, StringType, StructField

from .base import group_rows, payload_rows
from .gofmt import fmt_go_g  # exact strconv.FormatFloat(v,'g',-1,64)
from .pb import PBError, _fields, _len_field, read_varint, write_varint

STALE_NAN_BITS = 0x7FF0000000000002


# ---------------------------------------------------------------------------
# snappy block format
# ---------------------------------------------------------------------------


class SnappyError(ValueError):
    pass


def snappy_decompress(data: bytes) -> bytes:
    """Decode one snappy block-format stream (format_description.txt)."""
    try:
        n, i = read_varint(data, 0)
    except PBError as e:
        raise SnappyError(str(e)) from e
    out = bytearray()
    ln = len(data)
    while i < ln:
        tag = data[i]
        i += 1
        kind = tag & 3
        if kind == 0:  # literal
            v = tag >> 2
            if v < 60:
                length = v + 1
            else:
                nb = v - 59
                if i + nb > ln:
                    raise SnappyError("truncated literal length")
                length = int.from_bytes(data[i : i + nb], "little") + 1
                i += nb
            if i + length > ln:
                raise SnappyError("truncated literal")
            out += data[i : i + length]
            i += length
            continue
        if kind == 1:  # copy, 1-byte offset
            if i >= ln:
                raise SnappyError("truncated copy-1")
            length = ((tag >> 2) & 0x7) + 4
            offset = ((tag >> 5) << 8) | data[i]
            i += 1
        elif kind == 2:  # copy, 2-byte offset
            if i + 2 > ln:
                raise SnappyError("truncated copy-2")
            length = (tag >> 2) + 1
            offset = int.from_bytes(data[i : i + 2], "little")
            i += 2
        else:  # copy, 4-byte offset
            if i + 4 > ln:
                raise SnappyError("truncated copy-4")
            length = (tag >> 2) + 1
            offset = int.from_bytes(data[i : i + 4], "little")
            i += 4
        if offset == 0 or offset > len(out):
            raise SnappyError("copy offset out of range")
        if offset >= length:
            start = len(out) - offset
            out += out[start : start + length]
        else:  # overlapping copy: byte-wise repeat of the trailing pattern
            start = len(out) - offset
            for k in range(length):
                out.append(out[start + k])
    if len(out) != n:
        raise SnappyError(f"length mismatch: got {len(out)}, want {n}")
    return bytes(out)


def snappy_compress(data: bytes) -> bytes:
    """Literal-only snappy block stream (valid per the format spec; fixture
    generator — real compressors would add copy elements)."""
    out = bytearray(write_varint(len(data)))
    i = 0
    while i < len(data):
        chunk = data[i : i + 65536]
        ln = len(chunk) - 1
        if ln < 60:
            out.append(ln << 2)
        elif ln < (1 << 8):
            out.append(60 << 2)
            out += ln.to_bytes(1, "little")
        elif ln < (1 << 16):
            out.append(61 << 2)
            out += ln.to_bytes(2, "little")
        else:
            out.append(62 << 2)
            out += ln.to_bytes(3, "little")
        out += chunk
        i += len(chunk)
    return bytes(out)


# ---------------------------------------------------------------------------
# prompb.WriteRequest
# ---------------------------------------------------------------------------


def _decode_label(buf: bytes) -> tuple[str, str]:
    name = val = ""
    for fno, wt, v in _fields(buf):
        if fno == 1 and wt == 2:
            name = bytes(v).decode("utf-8", "replace")
        elif fno == 2 and wt == 2:
            val = bytes(v).decode("utf-8", "replace")
    return name, val


def _decode_sample(buf: bytes) -> tuple[float, int]:
    value, ts = 0.0, 0
    for fno, wt, v in _fields(buf):
        if fno == 1 and wt == 1:
            value = struct.unpack("<d", v)[0]
        elif fno == 2 and wt == 0:
            ts = v if v < (1 << 63) else v - (1 << 64)  # int64
    return value, ts


def decode_write_request(payload: bytes) -> list[dict]:
    """→ [{name, labels: [(k,v)...], samples: [(value, ts_ms)...]}]"""
    series = []
    for fno, wt, v in _fields(payload):
        if fno != 1 or wt != 2:
            continue
        labels: list[tuple[str, str]] = []
        samples: list[tuple[float, int]] = []
        for f2, w2, v2 in _fields(bytes(v)):
            if f2 == 1 and w2 == 2:
                labels.append(_decode_label(bytes(v2)))
            elif f2 == 2 and w2 == 2:
                samples.append(_decode_sample(bytes(v2)))
        series.append({"labels": labels, "samples": samples})
    return series


def encode_write_request(series: list[dict]) -> bytes:
    """Fixture encoder for the same message shape; a ``None`` sample value
    or timestamp is left out (proto3: the decoder reads 0)."""
    out = bytearray()
    for s in series:
        ts_buf = bytearray()
        for k, v in s["labels"]:
            lab = _len_field(1, k.encode()) + _len_field(2, v.encode())
            ts_buf += _len_field(1, lab)
        for value, ts in s["samples"]:
            samp = b""
            if value is not None:
                samp += write_varint((1 << 3) | 1) + struct.pack("<d", value)
            if ts is not None:
                samp += write_varint(2 << 3) + write_varint(ts & ((1 << 64) - 1))
            ts_buf += _len_field(2, samp)
        out += _len_field(1, bytes(ts_buf))
    return bytes(out)


# ---------------------------------------------------------------------------
# metric-log mapping (NewMetricLogStringVal parity)
# ---------------------------------------------------------------------------


def normalize_time_nano(ts: int) -> tuple[str, int, int]:
    """NewMetricLogStringVal (log_helper.go:270-283): digit-count-based
    normalization → (__time_nano__ text, sec, ns)."""
    s = str(ts)
    if len(s) == 13:
        return s + "000000", ts // 1000, (ts * 1_000_000) % 1_000_000_000
    if len(s) == 19:
        return s, ts // 1_000_000_000, ts % 1_000_000_000
    t = int(float(ts) * math.pow(10, 19 - len(s)))
    return str(t), t // 1_000_000_000, t % 1_000_000_000


def remote_write_to_rows(payload: bytes) -> list[tuple[str, str, str, str]]:
    """One decompressed+decoded request → [(name, labels, time_nano, value)].
    Label string per MetricLabels.String(): name-sorted ``k#$#v|…``."""
    rows = []
    for ts_entry in decode_write_request(snappy_decompress(payload)):
        name = ""
        labels = []
        for k, v in ts_entry["labels"]:
            if k == "__name__":
                name = v
            else:
                labels.append((k, v))
        labels.sort(key=lambda kv: kv[0])
        lbl = "|".join(f"{k}#$#{v}" for k, v in labels)
        for value, ts in ts_entry["samples"]:
            bits = struct.unpack("<Q", struct.pack("<d", value))[0]
            val = "__STALE_NAN__" if bits == STALE_NAN_BITS else fmt_go_g(value)
            tn, _sec, _ns = normalize_time_nano(ts)
            rows.append((name, lbl, tn, val))
    return rows


_OUT_FIELDS = [
    StructField("__name__", StringType()),
    StructField("__labels__", StringType()),
    StructField("__time_nano__", StringType()),
    StructField("__value__", StringType()),
    StructField("ts_sec", LongType()),
]


class PromRemoteWriteDecoder:
    """Explode a binary remote-write payload column into metric-log rows.
    A payload that fails snappy or protobuf decode yields no rows (the
    reference fails the HTTP request — decoder.go:121-126); passthrough
    columns repeat onto every fanned-out row."""

    def __init__(self, payload_col: str = "payload", passthrough: list[str] | None = None):
        self.payload_col = payload_col
        self.passthrough = passthrough or []

    def apply(self, df: DataFrame) -> DataFrame:
        payload_col = self.payload_col

        def rows_of(r: dict) -> list[tuple]:
            raw = r[payload_col]
            if raw is None:  # NULL payload: fail the line, not the job
                return []
            try:
                evs = remote_write_to_rows(raw)
            except (SnappyError, PBError, ValueError, TypeError):
                return []
            return [
                (name, lbl, tn, val, int(tn[:10]) if len(tn) == 19 else 0)
                for name, lbl, tn, val in evs
            ]

        return payload_rows(df, [payload_col], self.passthrough, _OUT_FIELDS, rows_of)


# ---------------------------------------------------------------------------
# flusher_prometheus: the ENCODE direction
# ---------------------------------------------------------------------------


def metrics_to_write_requests(
    events: list[tuple[str, dict, float, int]], series_limit: int = 1000
) -> list[bytes]:
    """pkg/protocol/encoder/prometheus (encoder_prometheus.go:63-103,
    utils.go:44-100): each metric event becomes one TimeSeries whose labels
    are the tag map plus ``__name__``, lexicographically sorted, EMPTY names/
    values dropped (remote-write spec); the sample timestamp converts ns→ms;
    series batch into WriteRequests capped at ``series_limit``. Nulls read
    as the proto3 defaults: a null name or tag value as "" (so a null tag
    drops with the empty ones), a null value or timestamp is left out of
    the sample and decodes as 0. Returns the snappy-compressed marshaled
    payloads (the HTTP flusher adds headers)."""
    out: list[bytes] = []
    batch: list[dict] = []
    for name, tags, value, ts_ns in events:
        labels = [(k, v) for k, v in tags.items() if k and v]
        labels.append(("__name__", name or ""))
        labels.sort(key=lambda kv: kv[0])
        ts_ms = None if ts_ns is None else ts_ns // 1_000_000
        batch.append({"labels": labels, "samples": [(value, ts_ms)]})
        if len(batch) >= series_limit:
            out.append(snappy_compress(encode_write_request(batch)))
            batch = []
    if batch:
        out.append(snappy_compress(encode_write_request(batch)))
    return out


class PromRemoteWriteEncoder:
    """flusher_prometheus sink stage: a metric frame → one row per emitted
    remote-write payload, grouped by ``group_cols`` (the per-sink batch key
    — at scale this is the ONE shuffle of the sink write, and SeriesLimit
    chunking happens inside each group partition-locally)."""

    def __init__(
        self,
        group_cols: list[str],
        name_col: str = "metric_name",
        tags_col: str = "tags",
        value_col: str = "value",
        ts_ns_col: str = "ts_ns",
        order_col: str | None = None,
        series_limit: int = 1000,
    ):
        self.group_cols = group_cols
        self.name_col, self.tags_col = name_col, tags_col
        self.value_col, self.ts_ns_col = value_col, ts_ns_col
        self.order_col = order_col
        self.series_limit = series_limit

    def apply(self, df: DataFrame) -> DataFrame:
        cols = [self.name_col, self.tags_col, self.value_col, self.ts_ns_col]
        limit = self.series_limit

        def pack(rows: list[dict]) -> list[tuple]:
            name, tags, value, ts_ns = cols
            evs = [(r[name], dict(r[tags] or ()), r[value], r[ts_ns]) for r in rows]
            return list(enumerate(metrics_to_write_requests(evs, limit)))

        out = [StructField("batch_no", IntegerType()), StructField("payload", BinaryType())]
        return group_rows(df, self.group_cols, cols, out, pack, order=self.order_col)
