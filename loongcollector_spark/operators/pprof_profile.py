"""pprof profile ingestion — binary pprof payloads → per-stack profile logs.

Reference semantics (studied, not ported):
pkg/helper/profile/pyroscope/pprof/pprof.go + pyroscope.go — the pprof
branch of the profile ingestion used by service_go_profile
(plugins/input/goprofile) and the pyroscope HTTP endpoint's
Format=pprof path. The CONTENTFUL parts:

- DefaultSampleTypeMapping (pprof.go:44-80) — the known sample types with
  display names, units, avg/sum aggregation, Sampled (cpu) and Cumulative
  (alloc_*/contentions/delay) flags;
- readTrees (pyroscope.go:106-166): per sample, the stack resolves root→
  leaf (LocationId reversed, inlined Line entries reversed), frames render
  "<fn.Name> <fn.Filename>" (Formatter, pyroscope.go:34-39), unresolvable
  locations/functions and empty names are skipped; per kept sample type a
  zero value skips, a `profile_id` label contributes the value to BOTH the
  exemplar's label set and the baseline set with the label cut;
- extractLogs (pprof.go:197-263): aggregation per (sample type, label set,
  stack path) — the pyroscope tree's node self values — emitted leaf-first;
  stackID = xxhash64 (seed 0) of the leaf→root frame concatenation, hex
  unpadded; `samples` values scale by Period×PeriodType ns (sampleRate,
  pprof.go:178-192) and the unit flips to nanoseconds; times come from the
  profile's TimeNanos/DurationNanos with the request meta as fallback;
- extractProfileV1 (pprof.go:265-341): one log per (stack, value index)
  with the name/stack/stackID/language/dataType/durationNs/profileID/
  labels + units/valueTypes/aggTypes/type/val contents — type =
  DetectProfileType(display name).Kind (pkg/helper/profile/meta.go:104-120),
  labels = Go json.Marshal of meta.Tags ∪ pprof labels ∪ config tags
  (buildKey pprof.go:343-359, callback merge), val = FormatFloat(v,'f',2).

The pprof wire schema is the PUBLIC profile.proto of github.com/google/pprof
(transcribed field numbers below); payloads may be gzipped.

Cumulative types (alloc_objects/alloc_space/contentions/delay): with no
previous profile they emit nothing (pprof.go:225-230 keeps the first tree
in cache and returns) — true of the reference's first scrape too. With a
``prev_payload`` (the push path's ``prev_profile`` multipart field or the
goprofile pull pair), the sample-type filter flips to cumulative-only
(pprof.go:151-160) and each stack emits its positive delta vs the previous
tree (prev.Diff) — validated against the reference's own
``decoder_test.go`` TestDecoder_DecodePprofCumulative golden
(test/dump_pprof_mem_data: 4 logs, vals 1.00/924248.00/1820.00/524432.00).
``parse_push_body`` implements the multipart extract (extractProfileRaw,
pprof.go:343-382: profile / prev_profile / sample_type_config fields).

Documented divergences:
- The reference's prev-tree cache keys are string-table INDEXES of the
  current profile looked up against entries seeded from the previous
  profile's own table (pprof.go:100-106 + 225) — correct only because Go's
  pprof writer emits both with identical tables; here the keys are the
  resolved type names / label strings, which is equivalent under that
  assumption and robust without it.
- Go iterates the type/label cache maps in random order, so when one stack
  appears under several types the per-log val/type sequence order (and the
  winning labels entry) is nondeterministic in the reference; here the
  order is pinned: sample-type index order, then label-set first-insertion.
- getAggregationType (pyroscope.go:63-76) compares the config against
  metadata.AverageAggregationType ("average")/"sum" — the "avg" strings in
  DefaultSampleTypeMapping match neither, so built-in avg types fall back
  to the request default; mirrored faithfully.
- profileID is uuid4 when meta.Tags lacks ``profile_id``
  (meta.go:121-130, nondeterministic) → a deterministic md5-derived uuid
  of the payload here.
- A payload that fails gunzip/decode drops that row, never the job.

Execution shape: ONE Arrow ``mapInArrow`` pass (``base.payload_rows``;
decode + aggregate per row are local to the row), zero shuffle.
"""

from __future__ import annotations

import gzip
import hashlib
import json

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField

from .base import payload_rows
from .pb import PBError, _fields, _len_field, _varint_field, read_varint
from .xxh import xxh64

MASK64 = (1 << 64) - 1

# pprof.go:44-80
DEFAULT_SAMPLE_TYPE_MAPPING: dict[str, dict] = {
    "samples": {"units": "samples", "display_name": "cpu", "sampled": True},
    "inuse_objects": {"units": "objects", "aggregation": "avg"},
    "alloc_objects": {"units": "objects", "cumulative": True},
    "inuse_space": {"units": "bytes", "aggregation": "avg"},
    "alloc_space": {"units": "bytes", "cumulative": True},
    "goroutine": {"display_name": "goroutines", "units": "goroutines", "aggregation": "avg"},
    "contentions": {"display_name": "mutex_count", "units": "lock_samples", "cumulative": True},
    "delay": {"display_name": "mutex_duration", "units": "lock_nanoseconds", "cumulative": True},
}

# meta.go:104-120
_TYPE_KIND = {
    **{t: "profile_mem" for t in (
        "inuse_space", "inuse_objects", "alloc_space", "alloc_objects",
        "alloc-size", "alloc-samples", "alloc_in_new_tlab_objects",
        "alloc_in_new_tlab_bytes", "alloc_outside_tlab_objects",
        "alloc_outside_tlab_bytes")},
    **{t: "profile_cpu" for t in (
        "samples", "cpu", "itimer", "lock_count", "lock_duration", "wall")},
    **{t: "profile_mutex" for t in (
        "mutex_count", "mutex_duration", "block_duration", "block_count",
        "contentions", "delay", "lock-time", "lock-count")},
    "goroutines": "profile_goroutines",
    "goroutine": "profile_goroutines",
    "exception": "profile_exception",
}

# meta.go:143-160 sequenceMapping: fn = FunctionFirst, pos = PosFirst
_SEQ_FN = {"node", "go", "dotnet", "java", "ebpf", "unknown"}
_SEQ_POS = {"rs", "rb", "py", "php"}


def detect_profile_kind(val_type: str) -> str:
    return _TYPE_KIND.get(val_type, "profile_unknown")


def fmt_position_and_name(s: str, spy: str) -> str:
    """FormatPositionAndName (meta.go:178-204): Python tier of the Column
    implementation in pyroscope.py (the pprof decode is already in Python)."""
    s = s.strip()
    i = s.find(" ")
    if i < 0:
        return s
    name = s[:i]
    pos = s[s.rfind(" ") + 1:]
    if spy in _SEQ_POS:
        return f"{pos} {name}"
    if spy in _SEQ_FN:
        return f"{name} {pos}"
    return s


def marshal_labels(labels: dict) -> str:
    """Go json.Marshal of map[string]string: sorted keys, HTML escaping."""
    s = json.dumps(labels, sort_keys=True, separators=(",", ":"), ensure_ascii=False)
    return s.replace("&", "\\u0026").replace("<", "\\u003c").replace(">", "\\u003e")


# ---------------------------------------------------------------------------
# pprof wire decode — public profile.proto (github.com/google/pprof):
#   Profile:  sample_type=1 sample=2 location=4 function=5 string_table=6
#             time_nanos=9 duration_nanos=10 period_type=11 period=12
#   ValueType: type=1 unit=2           Sample: location_id=1 value=2 label=3
#   Label:     key=1 str=2             Location: id=1 line=4
#   Line:      function_id=1           Function: id=1 name=2 filename=4
# ---------------------------------------------------------------------------


def _ints(wt: int, v: object) -> list[int]:
    """A varint field or a packed run of varints."""
    if wt == 0:
        return [int(v)]
    if wt != 2:
        raise PBError("unexpected wire type for int field")
    out: list[int] = []
    buf, i = bytes(v), 0
    while i < len(buf):
        x, i = read_varint(buf, i)
        out.append(x)
    return out


def _signed(x: int) -> int:
    return x - (1 << 64) if x >= (1 << 63) else x


def _value_type(buf: bytes) -> tuple[int, int]:
    t = u = 0
    for fno, wt, v in _fields(buf):
        if fno == 1 and wt == 0:
            t = int(v)
        elif fno == 2 and wt == 0:
            u = int(v)
    return t, u


def decode_pprof(payload: bytes) -> dict:
    if payload[:2] == b"\x1f\x8b":
        payload = gzip.decompress(payload)
    sample_type: list[tuple[int, int]] = []
    samples: list[tuple[list[int], list[int], list[tuple[int, int]]]] = []
    locations: dict[int, list[int]] = {}
    functions: dict[int, tuple[int, int]] = {}
    strtab: list[str] = []
    time_nanos = duration_nanos = period = 0
    period_type: tuple[int, int] | None = None
    for fno, wt, v in _fields(payload):
        if fno == 1 and wt == 2:
            sample_type.append(_value_type(v))
        elif fno == 2 and wt == 2:
            loc_ids: list[int] = []
            values: list[int] = []
            labels: list[tuple[int, int]] = []
            for f2, w2, v2 in _fields(v):
                if f2 == 1:
                    loc_ids.extend(_ints(w2, v2))
                elif f2 == 2:
                    values.extend(_signed(x) for x in _ints(w2, v2))
                elif f2 == 3 and w2 == 2:
                    k = s = 0
                    for f3, w3, v3 in _fields(v2):
                        if f3 == 1 and w3 == 0:
                            k = int(v3)
                        elif f3 == 2 and w3 == 0:
                            s = int(v3)
                    labels.append((k, s))
            samples.append((loc_ids, values, labels))
        elif fno == 4 and wt == 2:
            lid = 0
            fn_ids: list[int] = []
            for f2, w2, v2 in _fields(v):
                if f2 == 1 and w2 == 0:
                    lid = int(v2)
                elif f2 == 4 and w2 == 2:
                    fid = 0
                    for f3, w3, v3 in _fields(v2):
                        if f3 == 1 and w3 == 0:
                            fid = int(v3)
                    fn_ids.append(fid)
            locations[lid] = fn_ids
        elif fno == 5 and wt == 2:
            fid = name_i = file_i = 0
            for f2, w2, v2 in _fields(v):
                if f2 == 1 and w2 == 0:
                    fid = int(v2)
                elif f2 == 2 and w2 == 0:
                    name_i = int(v2)
                elif f2 == 4 and w2 == 0:
                    file_i = int(v2)
            functions[fid] = (name_i, file_i)
        elif fno == 6 and wt == 2:
            strtab.append(bytes(v).decode("utf-8", "replace"))
        elif fno == 9 and wt == 0:
            time_nanos = _signed(int(v))
        elif fno == 10 and wt == 0:
            duration_nanos = _signed(int(v))
        elif fno == 11 and wt == 2:
            period_type = _value_type(v)
        elif fno == 12 and wt == 0:
            period = _signed(int(v))
    return {
        "sample_type": sample_type,
        "samples": samples,
        "locations": locations,
        "functions": functions,
        "strtab": strtab,
        "time_nanos": time_nanos,
        "duration_nanos": duration_nanos,
        "period": period,
        "period_type": period_type,
    }


def _sample_rate_ns(prof: dict) -> int:
    """sampleRate (pprof.go:178-192): Period × PeriodType unit in ns."""
    if prof["period"] <= 0 or prof["period_type"] is None:
        return 0
    st = prof["strtab"]
    _, unit_i = prof["period_type"]
    unit = st[unit_i] if 0 <= unit_i < len(st) else ""
    mult = {"microseconds": 1_000, "milliseconds": 1_000_000, "seconds": 1_000_000_000}.get(
        unit, 1
    )
    return prof["period"] * mult


def _read_groups(prof: dict, mapping: dict, cumulative_only: bool):
    """readTrees (pyroscope.go:106-166): per kept sample type, aggregate
    sample values by (resolved label set, stack path). Returns
    (kept=[(index, type name, unit name)], groups[index][labels][stack])."""
    st = prof["strtab"]

    def s(i: int) -> str:
        return st[i] if 0 <= i < len(st) else ""

    kept = [
        (i, s(t), s(u))
        for i, (t, u) in enumerate(prof["sample_type"])
        if s(t) in mapping and (not cumulative_only or mapping[s(t)].get("cumulative"))
    ]
    groups: dict[int, dict] = {i: {} for i, _, _ in kept}
    for loc_ids, values, labels in prof["samples"]:
        stack: list[str] = []
        for lid in reversed(loc_ids):
            fn_ids = prof["locations"].get(lid)
            if fn_ids is None:
                continue
            for fid in reversed(fn_ids):
                fn = prof["functions"].get(fid)
                if fn is None or s(fn[0]) == "":
                    continue
                stack.append(f"{s(fn[0])} {s(fn[1])}")
        stack_t = tuple(stack)
        lab_t = tuple((s(k), s(v)) for k, v in labels)
        pid_j = next((j for j, (k, _v) in enumerate(lab_t) if k == "profile_id"), -1)
        for i, _stype, _u in kept:
            v = (values[i] if i < len(values) else 0) & MASK64
            if v == 0:
                continue
            g = groups[i]
            if pid_j >= 0:  # exemplar → baseline too, with the label cut
                cut = lab_t[:pid_j] + lab_t[pid_j + 1:]
                g.setdefault(cut, {})
                g[cut][stack_t] = (g[cut].get(stack_t, 0) + v) & MASK64
            g.setdefault(lab_t, {})
            g[lab_t][stack_t] = (g[lab_t].get(stack_t, 0) + v) & MASK64
    return kept, groups


def parse_push_body(raw: bytes, content_type: str = "") -> tuple[bytes, bytes | None, dict | None]:
    """extractProfileRaw (pprof.go:343-382): a plain body IS the profile;
    a multipart/form-data body carries profile / prev_profile /
    sample_type_config (JSON, keys per tree.SampleTypeConfig: units /
    aggregation / display-name / sampled / cumulative)."""
    import json as _json
    import re as _re

    if "multipart/form-data" not in (content_type or ""):
        return raw, None, None
    m = _re.search(r'boundary="?([^";,\s]+)"?', content_type)
    if not m:
        raise ValueError("no multipart boundary")
    fields: dict[str, bytes] = {}
    for part in raw.split(b"--" + m.group(1).encode()):
        head, sep, content = part.partition(b"\r\n\r\n")
        if not sep:
            continue
        nm = _re.search(rb'name="([^"]+)"', head)
        if nm:
            fields[nm.group(1).decode()] = content.rstrip(b"\r\n")
    if "profile" not in fields:
        raise ValueError("profile field is required")
    cfg = None
    if fields.get("sample_type_config"):
        cfg = {
            k: {
                "units": v.get("units", ""),
                "aggregation": v.get("aggregation", ""),
                "display_name": v.get("display-name", ""),
                "sampled": bool(v.get("sampled")),
                "cumulative": bool(v.get("cumulative")),
            }
            for k, v in _json.loads(fields["sample_type_config"]).items()
        }
    return fields["profile"], fields.get("prev_profile"), cfg


def extract_profile_logs(
    payload: bytes,
    spy_name: str = "go",
    meta_tags: dict | None = None,
    extra_tags: dict | None = None,
    sample_rate: int = 0,
    start_ns: int = 0,
    end_ns: int = 0,
    agg_default: str = "sum",
    sample_types: dict | None = None,
    prev_payload: bytes | None = None,
) -> list[dict]:
    """doParse + extractLogs + extractProfileV1 for one payload (+ the
    cumulative-diff path when a previous profile is supplied)."""
    prof = decode_pprof(payload)
    mapping = sample_types if sample_types is not None else DEFAULT_SAMPLE_TYPE_MAPPING

    meta_tags = dict(meta_tags or {})
    if sample_rate > 0:  # doParse: meta.Tags["_sample_rate_"]
        meta_tags["_sample_rate_"] = str(sample_rate)

    # with a previous profile the filter flips to cumulative-only
    # (pprof.go:151-160)
    cumulative_only = prev_payload is not None and len(prev_payload) > 0
    kept, groups = _read_groups(prof, mapping, cumulative_only)
    if not kept:
        return []
    prev_map: dict[tuple, dict] = {}
    if cumulative_only:
        pprof_prev = decode_pprof(prev_payload)
        pkept, pgroups = _read_groups(pprof_prev, mapping, True)
        for i, stype, _u in pkept:
            for lab_t, stacks in pgroups[i].items():
                prev_map[(stype, lab_t)] = stacks

    if prof["time_nanos"] != 0:
        t0, t1 = prof["time_nanos"], prof["time_nanos"] + prof["duration_nanos"]
    else:
        t0, t1 = start_ns, end_ns

    profile_id = meta_tags.get("profile_id")
    if profile_id is None:
        d = hashlib.md5(payload).hexdigest()
        profile_id = f"{d[:8]}-{d[8:12]}-{d[12:16]}-{d[16:20]}-{d[20:32]}"

    entries: dict[int, dict] = {}
    for i, stype, base_unit in kept:
        cfg = mapping[stype]
        cumulative = bool(cfg.get("cumulative"))
        if cumulative and not cumulative_only:
            continue  # first/single profile: tree cached, nothing emitted
        duration = _sample_rate_ns(prof) if cfg.get("sampled") else 0
        display = cfg.get("display_name") or stype
        agg = {"average": "avg", "sum": "sum"}.get(cfg.get("aggregation", ""), agg_default)
        for lab_t, stacks in groups[i].items():
            if cumulative:
                pstacks = prev_map.get((stype, lab_t))
                if pstacks is None:
                    continue  # no previous tree: cache-seed only
                # prev.Diff(t): per-path positive delta vs the previous tree
                stacks = {
                    k: (v - pstacks.get(k, 0))
                    for k, v in stacks.items()
                    if v > pstacks.get(k, 0)
                }
            # buildKey: meta tags, overwritten by non-empty pprof labels
            labels = dict(meta_tags)
            for ks, vs in lab_t:
                if ks == "" or vs == "":
                    continue
                labels[ks] = vs
            labels.update(extra_tags or {})
            for stack_t, self_v in stacks.items():
                if not stack_t:
                    continue  # root node: empty name is skipped
                rev = list(stack_t[::-1])  # leaf first
                sid = xxh64("".join(rev).encode("utf-8"))
                unit, v = base_unit, self_v
                if cfg.get("sampled") and duration and stype == "samples":
                    unit = "nanoseconds"
                    v = (v * duration) & MASK64
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
                e["types"].append(display)
                e["units"].append(unit)
                e["aggs"].append(agg)
                e["labels"] = marshal_labels(labels)

    rows: list[dict] = []
    for e in entries.values():
        for i, v in enumerate(e["vals"]):
            rows.append(
                {
                    "time_sec": (t0 // 1_000_000_000) & 0xFFFFFFFF,
                    "time_ns": t0 % 1_000_000_000,
                    "name": e["name"],
                    "stack": e["stack"],
                    "stackID": e["stackID"],
                    "language": spy_name,
                    "dataType": "CallStack",
                    "durationNs": t1 - t0,
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


# the profile-log row both profile decoders emit (pprof here, jfr.JfrChunkParser)
PROFILE_LOG_FIELDS = [
    StructField("time_sec", LongType()),
    StructField("time_ns", LongType()),
    StructField("name", StringType()),
    StructField("stack", StringType()),
    StructField("stackID", StringType()),
    StructField("language", StringType()),
    StructField("dataType", StringType()),
    StructField("durationNs", LongType()),
    StructField("profileID", StringType()),
    StructField("labels", StringType()),
    StructField("units", StringType()),
    StructField("valueTypes", StringType()),
    StructField("aggTypes", StringType()),
    StructField("type", StringType()),
    StructField("val", StringType()),
]


class PprofProfileParser:
    """Format=pprof ingestion as one ``mapInArrow`` pass. Input columns:
    ``payload`` (binary, optionally gzipped), optional ``spy_name``,
    ``sample_rate``, ``start_ns``, ``end_ns``, ``meta_tags``/``extra_tags``
    (map<string,string>); missing columns take the reference defaults.
    Passthrough columns repeat onto every emitted profile log."""

    def __init__(self, payload_col: str = "payload", passthrough: list[str] | None = None):
        self.payload_col = payload_col
        self.passthrough = passthrough or []

    def apply(self, df: DataFrame) -> DataFrame:
        payload_col = self.payload_col
        opt = [
            c
            for c in ("spy_name", "sample_rate", "start_ns", "end_ns", "meta_tags",
                      "extra_tags", "prev_payload", "content_type")
            if c in df.columns
        ]

        def rows_of(r: dict) -> list[tuple]:
            payload = r[payload_col]
            if payload is None:
                return []
            kw = {}
            if r.get("spy_name") is not None:
                kw["spy_name"] = r["spy_name"]
            for c in ("sample_rate", "start_ns", "end_ns"):
                if r.get(c) is not None:
                    kw[c] = int(r[c])
            for c in ("meta_tags", "extra_tags"):
                if r.get(c) is not None:
                    kw[c] = dict(r[c])
            if r.get("prev_payload") is not None:
                kw["prev_payload"] = r["prev_payload"]
            try:
                if r.get("content_type"):
                    payload, prev, cfg = parse_push_body(payload, r["content_type"])
                    if prev is not None:
                        kw["prev_payload"] = prev
                    if cfg is not None:
                        kw["sample_types"] = cfg
                logs = extract_profile_logs(payload, **kw)
            except (PBError, ValueError, OSError, TypeError, EOFError):
                return []  # fail the line, never the job
            return [tuple(log[f.name] for f in PROFILE_LOG_FIELDS) for log in logs]

        return payload_rows(df, [payload_col] + opt, self.passthrough, PROFILE_LOG_FIELDS, rows_of)


# ---------------------------------------------------------------------------
# wire ENCODER — fixture/parity tier (the analog of otlp_pb's encoders):
# builds valid profile.proto payloads for tests and oracle queries.
# ---------------------------------------------------------------------------


class PprofBuilder:
    def __init__(self) -> None:
        self._strings: dict[str, int] = {"": 0}
        self._functions: list[bytes] = []
        self._locations: list[bytes] = []
        self._samples: list[bytes] = []
        self._sample_types: list[bytes] = []

    def s(self, v: str) -> int:
        if v not in self._strings:
            self._strings[v] = len(self._strings)
        return self._strings[v]

    def sample_type(self, typ: str, unit: str) -> None:
        self._sample_types.append(
            _len_field(1, _varint_field(1, self.s(typ)) + _varint_field(2, self.s(unit)))
        )

    def function(self, name: str, filename: str) -> int:
        fid = len(self._functions) + 1
        self._functions.append(
            _len_field(
                5,
                _varint_field(1, fid)
                + _varint_field(2, self.s(name))
                + _varint_field(4, self.s(filename)),
            )
        )
        return fid

    def location(self, fn_ids: list[int]) -> int:
        lid = len(self._locations) + 1
        body = _varint_field(1, lid)
        for fid in fn_ids:
            body += _len_field(4, _varint_field(1, fid))
        self._locations.append(_len_field(4, body))
        return lid

    def sample(
        self, loc_ids: list[int], values: list[int], labels: list[tuple[str, str]] = ()
    ) -> None:
        body = b""
        for lid in loc_ids:
            body += _varint_field(1, lid)
        for v in values:
            body += _varint_field(2, v & MASK64)
        for k, v in labels:
            body += _len_field(
                3, _varint_field(1, self.s(k)) + _varint_field(2, self.s(v))
            )
        self._samples.append(_len_field(2, body))

    def build(
        self,
        time_nanos: int = 0,
        duration_nanos: int = 0,
        period: int = 0,
        period_type: tuple[str, str] | None = None,
        gzipped: bool = False,
    ) -> bytes:
        tail = b""
        if time_nanos:
            tail += _varint_field(9, time_nanos)
        if duration_nanos:
            tail += _varint_field(10, duration_nanos)
        if period_type is not None:
            tail += _len_field(
                11,
                _varint_field(1, self.s(period_type[0]))
                + _varint_field(2, self.s(period_type[1])),
            )
        if period:
            tail += _varint_field(12, period)
        strs = b"".join(
            _len_field(6, k.encode("utf-8"))
            for k, _ in sorted(self._strings.items(), key=lambda kv: kv[1])
        )
        return (gzip.compress if gzipped else bytes)(
            b"".join(self._sample_types)
            + b"".join(self._samples)
            + b"".join(self._locations)
            + b"".join(self._functions)
            + strs
            + tail
        )
