"""JFR profile ingestion — parsed Java Flight Recorder chunk events →
per-stack profile logs.

Reference semantics (studied, not ported):
pkg/helper/profile/pyroscope/jfr/ (jfr.go + parser.go) — the pyroscope
HTTP Format=jfr path. The JFR *binary chunk* wire decode is the external
``pyroscope-io/jfr-parser`` library (self-describing TLV + constant
pools) — agent/external machinery, same scope boundary as the beats
wineventlog API; the table model here starts from PARSED chunk events
(one chunk per row, events as an array column). Everything the reference
adds on top of that library is implemented:

- parseChunk (parser.go:64-166): events grouped by ContextId, the five
  event kinds' tree inserts (ExecutionSample → cpu when STATE_RUNNABLE +
  wall always; TLAB/outside-TLAB allocation objects+bytes; monitor-enter /
  thread-park lock samples+duration), the ActiveSetting 'event' gate (wall
  trees only emit when event == "wall", the cpu slot's name comes from
  getName :167-181), units per sample type (:183-204), samples→ns scaling
  by 1e9/SampleRate, xxhash64 stack IDs, labels via the LabelsSnapshot
  string table (buildKey :206-232 — missing snapshot entries are SKIPPED,
  present-but-empty kept, unlike the pprof buildKey), and the exemplar
  step (profile_id label → tree merged into the cut-label baseline).
- frames (parser.go:279-293): reversed StackTrace.Frames, frames missing
  type/method dropped, rendered "<Type.Name>.<Method.Name>"; a nil
  StackTrace skips the event.
- processSymbols + mergeJVMGeneratedClasses (parser.go:295-325): the five
  published symbol-normalization regexes applied at symbol level
  (GeneratedMethodAccessorNN, $$Lambda$NN.0x…, zstd-jni / Corretto /
  asyncProfiler hashed .so names).
- LabelsSnapshot protobuf decode (jfr_labels.proto — map<int64,Context>,
  map<int64,string>) from the multipart 'labels' field, with pb.py's wire
  primitives.
- extractProfileV1 (jfr.go:60-146): identical row shape to the pprof path
  (name/stack/stackID/language/dataType/durationNs/profileID/labels +
  units/type/valueTypes/aggTypes/val per value index), aggTypes always the
  request AggregationType, times always the request meta times.

Documented divergences:
- Go iterates the cache maps in random order → val/type sequence order per
  stack id is pinned here (sample-type 1..8, then label-set insertion).
- SampleRate 0 would panic the reference (division by zero); here the
  samples scaling is skipped.
- An empty (but present) frames list inserts at the tree root in the
  reference, whose self values never surface through IterateStacks logs;
  dropped here.
- profileID falls back to a deterministic md5-of-chunk uuid instead of
  uuid4 (same policy as the pprof/groups decoders).

Execution shape: ONE Arrow ``mapInArrow`` pass (``base.payload_rows``), one
chunk per row, zero shuffle.
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import DataFrame

from .base import payload_rows
from .pb import PBError, _fields, _len_field, _varint_field, read_varint
from .pprof_profile import (
    MASK64,
    PROFILE_LOG_FIELDS,
    detect_profile_kind,
    fmt_position_and_name,
    marshal_labels,
)
from .xxh import xxh64

# parser.go:40-48
S_CPU, S_WALL = 1, 2
S_IN_TLAB_OBJ, S_IN_TLAB_BYTES = 3, 4
S_OUT_TLAB_OBJ, S_OUT_TLAB_BYTES = 5, 6
S_LOCK_SAMPLES, S_LOCK_DURATION = 7, 8

_NAMES = {
    S_WALL: "wall",
    S_IN_TLAB_OBJ: "alloc_in_new_tlab_objects",
    S_IN_TLAB_BYTES: "alloc_in_new_tlab_bytes",
    S_OUT_TLAB_OBJ: "alloc_outside_tlab_objects",
    S_OUT_TLAB_BYTES: "alloc_outside_tlab_bytes",
    S_LOCK_SAMPLES: "lock_count",
    S_LOCK_DURATION: "lock_duration",
}

_UNITS = {
    S_CPU: "samples",
    S_WALL: "samples",
    S_IN_TLAB_OBJ: "objects",
    S_IN_TLAB_BYTES: "bytes",
    S_OUT_TLAB_OBJ: "objects",
    S_OUT_TLAB_BYTES: "bytes",
    S_LOCK_SAMPLES: "lock_samples",
    S_LOCK_DURATION: "lock_nanoseconds",
}

# parser.go:295-311 — published symbol-normalization patterns
_GEN_METHOD_ACCESSOR = re.compile(r"^(jdk/internal/reflect/GeneratedMethodAccessor)(\d+)$")
_LAMBDA_ENCLOSING = re.compile(r"^(.+\$\$Lambda\$)\d+[./](0x[\da-f]+|\d+)$")
_ZSTD_JNI = re.compile(r"^(\.?/tmp/)?(libzstd-jni-\d+\.\d+\.\d+-)(\d+)(\.so)( \(deleted\))?$")
_CORRETTO = re.compile(
    r"^(\.?/tmp/)?(libamazonCorrettoCryptoProvider)([0-9a-f]{16})(\.so)( \(deleted\))?$"
)
_ASYNC_PROFILER = re.compile(
    r"^(\.?/tmp/)?(libasyncProfiler)-(linux-arm64|linux-musl-x64|linux-x64|macos)"
    r"-(17b9a1d8156277a98ccc871afa9a8f69215f92)(\.so)( \(deleted\))?$"
)


from functools import lru_cache


@lru_cache(maxsize=65536)
def merge_jvm_generated_classes(sym: str) -> str:
    """Memoized like the reference, which normalizes each CONSTANT-POOL
    symbol once (processSymbols) rather than every frame occurrence —
    symbols repeat across thousands of stack frames per chunk. Cheap
    prefilters skip the five regexes for the common no-match case."""
    if "GeneratedMethodAccessor" in sym:
        sym = _GEN_METHOD_ACCESSOR.sub(r"\g<1>_", sym)
    if "$$Lambda$" in sym:
        sym = _LAMBDA_ENCLOSING.sub(r"\g<1>_", sym)
    if ".so" in sym:
        sym = _ZSTD_JNI.sub("libzstd-jni-_.so", sym)
        sym = _CORRETTO.sub("libamazonCorrettoCryptoProvider_.so", sym)
        sym = _ASYNC_PROFILER.sub("libasyncProfiler-_.so", sym)
    return sym


def decode_labels_snapshot(payload: bytes) -> dict:
    """jfr_labels.proto: LabelsSnapshot{map<int64,Context> contexts=1,
    map<int64,string> strings=2}, Context{map<int64,int64> labels=1}."""
    contexts: dict[int, dict[int, int]] = {}
    strings: dict[int, str] = {}
    for fno, wt, v in _fields(payload):
        if fno == 1 and wt == 2:
            ck, cv = 0, {}
            for f2, w2, v2 in _fields(v):
                if f2 == 1 and w2 == 0:
                    ck = int(v2)
                elif f2 == 2 and w2 == 2:
                    for f3, w3, v3 in _fields(v2):
                        if f3 == 1 and w3 == 2:  # Context.labels map entries
                            lk = lv = 0
                            for f4, w4, v4 in _fields(v3):
                                if f4 == 1 and w4 == 0:
                                    lk = int(v4)
                                elif f4 == 2 and w4 == 0:
                                    lv = int(v4)
                            cv[lk] = lv
            contexts[ck] = cv
        elif fno == 2 and wt == 2:
            sk, sv = 0, ""
            for f2, w2, v2 in _fields(v):
                if f2 == 1 and w2 == 0:
                    sk = int(v2)
                elif f2 == 2 and w2 == 2:
                    sv = bytes(v2).decode("utf-8", "replace")
            strings[sk] = sv
    return {"contexts": contexts, "strings": strings}


def encode_labels_snapshot(contexts: dict, strings: dict) -> bytes:
    """Fixture/parity encoder for LabelsSnapshot."""
    out = b""
    for ck, labels in contexts.items():
        body = b""
        for lk, lv in labels.items():
            body += _len_field(1, _varint_field(1, lk) + _varint_field(2, lv))
        out += _len_field(1, _varint_field(1, ck) + _len_field(2, body))
    for sk, sv in strings.items():
        out += _len_field(2, _varint_field(1, sk) + _len_field(2, sv.encode("utf-8")))
    return out


def _frames(ev: dict) -> list[str] | None:
    """frames() (parser.go:279-293): None when the stack trace is absent;
    reversed order; type/method-less frames skipped; symbols normalized."""
    fr = ev.get("frames")
    if fr is None:
        return None
    out = []
    for f in reversed(fr):
        t, m = f.get("type"), f.get("method")
        if t is None or m is None:
            continue
        out.append(f"{merge_jvm_generated_classes(t)}.{merge_jvm_generated_classes(m)}")
    return out


def jfr_chunk_logs(
    events: list[dict],
    labels_snapshot: dict | None = None,
    spy_name: str = "javaspy",
    meta_tags: dict | None = None,
    extra_tags: dict | None = None,
    sample_rate: int = 0,
    start_ns: int = 0,
    end_ns: int = 0,
    agg_type: str = "sum",
) -> list[dict]:
    """parseChunk + extractProfileV1 for one chunk's parsed events."""
    snap = labels_snapshot or {"contexts": {}, "strings": {}}
    meta_tags = dict(meta_tags or {})
    if sample_rate > 0:
        meta_tags["_sample_rate_"] = str(sample_rate)

    event_setting = ""
    for ev in events:
        if ev.get("kind") == "active_setting" and ev.get("name") == "event":
            event_setting = ev.get("value") or ""

    # cache[(sample_type, labels key)] -> {stack tuple: value}; labels key =
    # tuple of (key id, str id) in context order
    cache: dict[tuple, dict] = {}
    lab_seen: dict[int, tuple] = {}

    def ctx_labels(cid: int) -> tuple:
        if cid in lab_seen:
            return lab_seen[cid]
        ctx = snap["contexts"].get(cid) if cid else None
        t = tuple(ctx.items()) if ctx else ()
        lab_seen[cid] = t
        return t

    def insert(st: int, lab: tuple, stack: list[str], v: int) -> None:
        g = cache.setdefault((st, lab), {})
        k = tuple(stack)
        g[k] = (g.get(k, 0) + (v & MASK64)) & MASK64

    for ev in events:
        kind = ev.get("kind")
        if kind == "execution_sample":
            fs = _frames(ev)
            if fs is not None:
                lab = ctx_labels(ev.get("context_id") or 0)
                if ev.get("state") == "STATE_RUNNABLE":
                    insert(S_CPU, lab, fs, 1)
                insert(S_WALL, lab, fs, 1)
        elif kind == "alloc_in_new_tlab":
            fs = _frames(ev)
            if fs is not None:
                lab = ctx_labels(ev.get("context_id") or 0)
                insert(S_IN_TLAB_OBJ, lab, fs, 1)
                insert(S_IN_TLAB_BYTES, lab, fs, int(ev.get("tlab_size") or 0))
        elif kind == "alloc_outside_tlab":
            fs = _frames(ev)
            if fs is not None:
                lab = ctx_labels(ev.get("context_id") or 0)
                insert(S_OUT_TLAB_OBJ, lab, fs, 1)
                insert(S_OUT_TLAB_BYTES, lab, fs, int(ev.get("alloc_size") or 0))
        elif kind in ("java_monitor_enter", "thread_park"):
            fs = _frames(ev)
            if fs is not None:
                lab = ctx_labels(ev.get("context_id") or 0)
                insert(S_LOCK_SAMPLES, lab, fs, 1)
                insert(S_LOCK_DURATION, lab, fs, int(ev.get("duration") or 0))

    # exemplar step (parser.go:117-124): profile_id label → merge into the
    # cut-label baseline tree
    strings = snap["strings"]
    for (st, lab) in list(cache.keys()):
        idx = next(
            (i for i, (k, _v) in enumerate(lab) if strings.get(k) == "profile_id"), -1
        )
        if idx < 0:
            continue
        cut = lab[:idx] + lab[idx + 1:]
        base = cache.setdefault((st, cut), {})
        for k, v in cache[(st, lab)].items():
            base[k] = (base.get(k, 0) + v) & MASK64

    def get_name(st: int) -> str:
        if st == S_CPU:
            if event_setting in ("cpu", "itimer", "wall"):
                return "cpu" if event_setting == "wall" else event_setting
            return "unknown"
        return _NAMES.get(st, "unknown")

    profile_id = meta_tags.get("profile_id")
    if profile_id is None:
        d = hashlib.md5(repr(sorted(cache.keys())).encode()).hexdigest()
        profile_id = f"{d[:8]}-{d[8:12]}-{d[12:16]}-{d[16:20]}-{d[20:32]}"

    entries: dict[int, dict] = {}
    for st in range(1, 9):
        for (cst, lab), stacks in cache.items():
            if cst != st:
                continue
            if st == S_WALL and event_setting != "wall":
                continue
            name_t = get_name(st)
            unit0 = _UNITS[st]
            labels = dict(meta_tags)
            for k, v in lab:
                ks = strings.get(k)
                if ks is None:
                    continue
                vs = strings.get(v)
                if vs is None:
                    continue
                labels[ks] = vs
            labels.update(extra_tags or {})
            for stack_t, self_v in stacks.items():
                if not stack_t:
                    continue
                rev = list(stack_t[::-1])
                sid = xxh64("".join(rev).encode("utf-8"))
                unit, v = unit0, self_v
                if unit0 == "samples" and sample_rate > 0:
                    unit = "nanoseconds"
                    v = (v * (1_000_000_000 // sample_rate)) & MASK64
                e = entries.get(sid)
                if e is None:
                    e = {
                        "name": fmt_position_and_name(rev[0], spy_name),
                        "stack": "\n".join(
                            fmt_position_and_name(x, spy_name) for x in rev[1:]
                        ),
                        "stackID": format(sid, "x"),
                        "vals": [],
                        "types": [],
                        "units": [],
                        "aggs": [],
                    }
                    entries[sid] = e
                e["vals"].append(v)
                e["types"].append(name_t)
                e["units"].append(unit)
                e["aggs"].append(agg_type)
                e["labels"] = marshal_labels(labels)

    rows: list[dict] = []
    for e in entries.values():
        for i, v in enumerate(e["vals"]):
            rows.append(
                {
                    "time_sec": (start_ns // 1_000_000_000) & 0xFFFFFFFF,
                    "time_ns": start_ns % 1_000_000_000,
                    "name": e["name"],
                    "stack": e["stack"],
                    "stackID": e["stackID"],
                    "language": spy_name,
                    "dataType": "CallStack",
                    "durationNs": end_ns - start_ns,
                    "profileID": profile_id,
                    "labels": e["labels"],
                    "units": e["units"][i],
                    "valueTypes": e["types"][i],
                    "aggTypes": e["aggs"][i],
                    "type": detect_profile_kind(e["types"][i]),
                    "val": f"{float(v):.2f}",
                }
            )
    return rows


_EVENT_T = (
    "array<struct<kind:string,context_id:long,state:string,name:string,"
    "value:string,tlab_size:long,alloc_size:long,duration:long,"
    "frames:array<struct<type:string,method:string>>>>"
)



class JfrChunkParser:
    """Format=jfr ingestion over parsed chunks: one chunk per row with an
    ``events`` array column (schema ``_EVENT_T``), an optional binary
    ``labels_pb`` LabelsSnapshot column and optional ``spy_name``/
    ``sample_rate``/``start_ns``/``end_ns``/``meta_tags``/``extra_tags``
    meta columns. One ``mapInArrow`` pass; a chunk whose labels snapshot fails
    to decode drops that row, never the job."""

    def __init__(self, events_col: str = "events", passthrough: list[str] | None = None):
        self.events_col = events_col
        self.passthrough = passthrough or []

    def apply(self, df: DataFrame) -> DataFrame:
        events_col = self.events_col
        opt = [
            c
            for c in (
                "labels_pb", "spy_name", "sample_rate", "start_ns", "end_ns",
                "meta_tags", "extra_tags",
            )
            if c in df.columns
        ]

        def rows_of(r: dict) -> list[tuple]:
            evs = r[events_col]
            if evs is None:
                return []
            kw = {}
            if r.get("spy_name") is not None:
                kw["spy_name"] = r["spy_name"]
            for c in ("extra_tags", "meta_tags"):
                if r.get(c) is not None:
                    kw[c] = dict(r[c])
            for c in ("sample_rate", "start_ns", "end_ns"):
                if r.get(c) is not None:
                    kw[c] = int(r[c])
            try:
                if r.get("labels_pb") is not None:
                    kw["labels_snapshot"] = decode_labels_snapshot(r["labels_pb"])
                logs = jfr_chunk_logs(evs, **kw)
            except (PBError, ValueError, TypeError, KeyError):
                return []  # fail the line, never the job
            return [tuple(log[f.name] for f in PROFILE_LOG_FIELDS) for log in logs]

        return payload_rows(df, [events_col] + opt, self.passthrough, PROFILE_LOG_FIELDS, rows_of)
