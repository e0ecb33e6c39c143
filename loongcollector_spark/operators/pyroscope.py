"""Pyroscope profile-ingestion decoder — the Format=groups ("collapsed"/
folded stacks) path of the reference's pyroscope HTTP endpoint
(pkg/protocol/decoder/pyroscope/decoder.go:48-88 → FormatGroups branch of
pkg/helper/profile/pyroscope/raw/profile.go:56-85).

Input model: one DataFrame row per ingestion request — the HTTP query params
as plain columns plus the request body (newline-separated ``stack;frames N``
lines) in ``fields[body_key]``. Output: one row per stack line, the 13
content keys the reference emits (raw/profile.go:100-160) promoted to
top-level columns (decoder convention, same as influx/statsd — fixed schema
⇒ Catalyst pruning):

  name stack stackID language type units valueTypes aggTypes dataType
  durationNs profileID labels val

plus a top-level ``log_time_sec`` (= StartTime.Unix(), the protocol.Log
time header).

Semantics kept (file:line cites into the reference):
- app-key parse ``app{k=v,...}`` → labels incl. ``__name__``; a ``.cpu``
  suffix is stripped into ``__name__`` (decoder.go:104-110); config ``tags``
  overwrite the key labels (raw/profile.go:89-91); labels render as Go
  ``json.Marshal`` of the map → key-sorted, HTML-escaped (``<>&``→``\\u00XX``).
- a line without a space is skipped; a line whose count token fails
  ``strconv.Atoi`` aborts the WHOLE request (doParse returns err →
  decoder.go:53 returns no logs) — here: the request's rows are dropped.
- ``units=samples`` → value × ``int64(1e9)/int64(sampleRate)`` (integer
  division), units becomes ``nanoseconds`` (raw/profile.go:97-101);
  ``val`` rendered ``%.2f`` (FormatFloat 'f' 2).
- valueTypes = ``Units.DetectValueType()`` of the ORIGINAL units and
  type = ``DetectProfileType(valueTypes).Kind`` (meta.go:104-121, 214-225) —
  note the reference quirk: bytes/objects → valueTypes ``mem`` but
  DetectProfileType("mem") is unmatched → ``profile_unknown``; faithfully
  mirrored.
- spyName: trim prefix ``pyroscope-`` + suffix ``spy`` (decoder.go:131-137);
  frame rendering per language: ``name pos`` / ``pos name`` reorder around the
  first/last space (meta.go:144-212 sequenceMapping); unmapped spies leave
  the frame untouched (Go map zero-value → switch default).
- stack = frames minus the leaf, formatted, REVERSED, '\n'-joined; a lone
  frame yields an empty stack (raw/profile.go:164-176); one trailing empty
  frame (``a;b;``) is stripped.
- stackID = xxhash64 of the raw stacktrace bytes, lowercase hex unpadded
  (raw/profile.go:95). Default tier: Spark's builtin ``xxhash64`` — same
  public algorithm, seed 42 instead of Go's 0 (the builtin pins its seed), so
  IDs are stable-but-not-byte-equal. ``exact_stack_id=True`` switches to an
  Arrow-batched Python xxh64(seed=0) — byte-equal to the Go agent, Python in
  the row path (a parity tier: Spark's builtin cannot take seed 0).

Documented divergences (all malformed-input, "fail the line, never the job"):
- Go int64 multiply overflow wraps silently; here the line is dropped
  (try_multiply → null).
- ``sampleRate=0`` (or values whose uint32 cast is 0) panics the Go agent
  with a divide-by-zero; here it falls back to the 100 default.
- a line whose stacktrace is empty/whitespace (`` 5``) panics the Go agent
  (slice[-1] after stripping); here it is dropped.
- missing ``from``/``until`` use ``time.Now()`` in the reference
  (nondeterministic) → the pinned ``default_now_sec`` here. (The reference's
  ``until`` fallback re-tests StartTime — decoder.go:118-121 copy-paste bug —
  we take the intended meaning.)
- profileID is uuid4 when no ``profile_id`` label exists (meta.go:131-139,
  nondeterministic) → deterministic md5-derived uuid of
  (name, from, until) here.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Mapping

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from .base import FIELDS, Operator
from .common import flet

# spy → frame sequence (meta.go:144-160). Values: 'fn' = FunctionFirst,
# 'pos' = PosFirst; any other spy falls through unchanged ('asis').
_SEQ_FN = ("node", "go", "dotnet", "java", "ebpf", "unknown")
_SEQ_POS = ("rs", "rb", "py", "php")

_INT_RX = r"^[+-]?[0-9]{1,19}$"  # strconv.Atoi grammar (magnitude via try_cast)


def _json_escape(v: Column) -> Column:
    """Go json.Marshal string escaping: backslash/quote, control chars we can
    meet in log params (\\n \\r \\t), and the HTML set < > & → \\u00XX."""
    v = F.regexp_replace(v, r"\\", r"\\\\")
    v = F.regexp_replace(v, '"', '\\\\"')
    v = F.regexp_replace(v, "\n", r"\\n")
    v = F.regexp_replace(v, "\r", r"\\r")
    v = F.regexp_replace(v, "\t", r"\\t")
    v = F.regexp_replace(v, "<", r"\\u003c")
    v = F.regexp_replace(v, ">", r"\\u003e")
    v = F.regexp_replace(v, "&", r"\\u0026")
    return v


def _marshal_labels(m: Column) -> Column:
    """json.Marshal(map[string]string): keys sorted bytewise."""
    entries = F.array_sort(F.map_entries(m))
    return F.concat(
        F.lit("{"),
        F.concat_ws(
            ",",
            F.transform(
                entries,
                lambda e: F.concat(
                    F.lit('"'),
                    _json_escape(e.getField("key")),
                    F.lit('":"'),
                    _json_escape(e.getField("value")),
                    F.lit('"'),
                ),
            ),
        ),
        F.lit("}"),
    )


def _fmt_frame(t: Column, seq: Column) -> Column:
    """FormatPositionAndName (meta.go:178-204): trim; no space → as-is; else
    name = before FIRST space, pos = after LAST space, joined per sequence."""
    t = F.regexp_replace(t, r"^\s+|\s+$", "")
    sp = F.instr(t, " ")
    name = F.substring(t, F.lit(1), sp - 1)
    pos = F.substring_index(t, " ", -1)
    reordered = (
        F.when(seq == "fn", F.concat(name, F.lit(" "), pos))
        .when(seq == "pos", F.concat(pos, F.lit(" "), name))
        .otherwise(t)
    )
    return F.when(sp > 0, reordered).otherwise(t)


@dataclass
class PyroscopeGroupsDecoder(Operator):
    """Collapsed-stack profile requests → per-stack profile-log events."""

    tags: Mapping[str, str] = field(default_factory=dict)
    body_key: str = "content"
    name_col: str = "name_param"
    from_col: str = "from_sec"
    until_col: str = "until_sec"
    rate_col: str = "sample_rate"
    spy_col: str = "spy_name"
    units_col: str = "units_param"
    agg_col: str = "agg_type"
    default_now_sec: int = 0
    exact_stack_id: bool = False  # Arrow parity tier: Go-seed xxhash64

    def apply(self, df: DataFrame) -> DataFrame:
        body = F.element_at(F.col(FIELDS), F.lit(self.body_key))

        # ---- request-level: app key → labels --------------------------------
        nm = F.regexp_replace(F.col(self.name_col), r"^\s+|\s+$", "")
        brace = F.regexp_extract(nm, r"\{([^{}]*)\}\s*$", 1)
        has_brace = nm.rlike(r"\{[^{}]*\}\s*$")
        app0 = F.regexp_replace(
            F.when(has_brace, F.regexp_extract(nm, r"^([^{}]*)\{", 1)).otherwise(nm),
            r"\s+$",
            "",
        )
        pairs = F.filter(
            F.transform(F.split(brace, ",", -1), lambda p: F.trim(p)),
            lambda p: F.length(p) > 0,
        )
        pairs_ok = F.forall(
            pairs, lambda p: p.rlike("^[^=]+=") & ~p.startswith("=")
        )
        name_ok = (
            (F.length(app0) > 0)
            & nm.rlike(r"^[^{}]*(\{[^{}]*\}\s*)?$")
            & F.coalesce(pairs_ok, F.lit(True))
        )
        label_map = F.map_from_arrays(
            F.concat(
                F.array(F.lit("__name__")),
                F.transform(pairs, lambda p: F.trim(F.substring_index(p, "=", 1))),
            ),
            F.concat(
                F.array(app0),
                F.transform(
                    pairs,
                    lambda p: F.trim(
                        F.substring(p, F.instr(p, "=") + 1, F.length(p))
                    ),
                ),
            ),
        )
        app = F.element_at(label_map, F.lit("__name__"))
        label_map = F.when(
            app.endswith(".cpu"),
            F.map_concat(
                label_map,
                F.create_map(
                    F.lit("__name__"),
                    F.substring(app, F.lit(1), F.length(app) - 4),
                ),
            ),
        ).otherwise(label_map)
        profile_id_tag = F.element_at(label_map, F.lit("profile_id"))
        if self.tags:
            tag_args: list[Column] = []
            for k, v in sorted(self.tags.items()):
                tag_args += [F.lit(k), F.lit(v)]
            label_map = F.map_concat(label_map, F.create_map(*tag_args))

        # ---- request-level: meta params -------------------------------------
        def _param(col: str) -> Column:
            return F.when(F.length(F.col(col)) > 0, F.col(col))

        units = F.coalesce(_param(self.units_col), F.lit("samples"))
        units_out = F.when(units == "samples", F.lit("nanoseconds")).otherwise(units)
        value_types = (
            F.when(units.isin("samples", "nanoseconds"), F.lit("cpu"))
            .when(units.isin("bytes", "objects"), F.lit("mem"))
            .when(units == "goroutines", F.lit("goroutines"))
            .when(units.isin("lock_samples", "lock_nanoseconds"), F.lit("mutex"))
            .otherwise(F.lit("unknown"))
        )
        ptype = (
            F.when(value_types == "cpu", F.lit("profile_cpu"))
            .when(value_types == "goroutines", F.lit("profile_goroutines"))
            .otherwise(F.lit("profile_unknown"))
        )
        agg = F.coalesce(_param(self.agg_col), F.lit("sum"))
        spy_raw = _param(self.spy_col)
        spy_trim = F.regexp_replace(
            F.regexp_replace(spy_raw, "^pyroscope-", ""), "spy$", ""
        )
        spy = F.coalesce(spy_trim, F.lit("unknown"))
        seq = (
            F.when(spy.isin(*_SEQ_FN), F.lit("fn"))
            .when(spy.isin(*_SEQ_POS), F.lit("pos"))
            .otherwise(F.lit("asis"))
        )
        # uint32(Atoi(rate)); parse failure keeps 100 (decoder.go:124-130);
        # a 0 result would panic Go's 1e9/rate — pinned to 100 here.
        rate_i = F.when(
            F.col(self.rate_col).rlike(_INT_RX), F.col(self.rate_col)
        ).try_cast("long")
        rate_u32 = rate_i.bitwiseAND(F.lit(0xFFFFFFFF))
        rate = F.coalesce(
            F.when(rate_u32 > 0, rate_u32), F.lit(100)
        )
        scale = F.when(
            units == "samples", (F.lit(1000000000) / rate).cast("long")
        ).otherwise(F.lit(1))
        from_sec = F.coalesce(
            F.col(self.from_col).try_cast("long"), F.lit(self.default_now_sec)
        )
        until_sec = F.coalesce(
            F.col(self.until_col).try_cast("long"), F.lit(self.default_now_sec)
        )
        duration_ns = (
            F.try_subtract(until_sec, from_sec).cast("decimal(29,0)") * 1000000000
        ).cast("decimal(29,0)").cast("string")
        profile_id = F.coalesce(
            profile_id_tag,
            flet(
                F.md5(
                    F.concat_ws(
                        ":", nm, from_sec.cast("string"), until_sec.cast("string")
                    )
                ),
                lambda h: F.concat_ws(
                    "-",
                    h.substr(1, 8),
                    h.substr(9, 4),
                    h.substr(13, 4),
                    h.substr(17, 4),
                    h.substr(21, 12),
                ),
            ),
        )

        # ---- request validity: any bad count token kills the request --------
        lines = F.transform(
            F.split(F.coalesce(body, F.lit("")), "\n", -1),
            lambda l: F.regexp_replace(l, "\r$", ""),
        )
        def _count_tok(l: Column) -> Column:
            return F.substring_index(l, " ", -1)

        req_ok = name_ok & ~F.exists(
            lines,
            lambda l: (F.instr(l, " ") > 0)
            & (
                ~_count_tok(l).rlike(_INT_RX)
                | _count_tok(l).try_cast("long").isNull()
            ),
        )

        keep = [c for c in df.columns if c != FIELDS]
        req = (
            df.withColumn("__req_ok__", req_ok)
            .filter(F.col("__req_ok__"))
            .select(
                *keep,
                _marshal_labels(label_map).alias("__labels__"),
                units_out.alias("__units__"),
                value_types.alias("__vt__"),
                ptype.alias("__type__"),
                agg.alias("__agg__"),
                spy.alias("__spy__"),
                seq.alias("__seq__"),
                scale.alias("__scale__"),
                from_sec.alias("__from__"),
                duration_ns.alias("__dur__"),
                profile_id.alias("__pid__"),
                F.explode(lines).alias("__line__"),
            )
        )

        # ---- per line --------------------------------------------------------
        l = F.col("__line__")
        has_sp = F.instr(l, " ") > 0
        stacktrace = F.substring(
            l, F.lit(1), F.length(l) - F.length(F.substring_index(l, " ", -1)) - 1
        )
        cnt = F.substring_index(l, " ", -1).try_cast("long")
        val = F.try_multiply(cnt, F.col("__scale__"))

        arr0 = F.split(stacktrace, ";", -1)
        arr = F.when(
            (F.size(arr0) > 0) & (F.element_at(arr0, -1) == ""),
            F.slice(arr0, 1, F.size(arr0) - 1),
        ).otherwise(arr0)

        def _build(arr: Column) -> Column:
            seqc = F.col("__seq__")
            leaf = _fmt_frame(F.element_at(arr, -1), seqc)
            stack = F.when(F.size(arr) <= 1, F.lit("")).otherwise(
                F.concat_ws(
                    "\n",
                    F.reverse(
                        F.transform(
                            F.slice(arr, 1, F.size(arr) - 1),
                            lambda fr: _fmt_frame(fr, seqc),
                        )
                    ),
                )
            )
            return F.struct(leaf.alias("name"), stack.alias("stack"))

        built = flet(arr, _build)

        if self.exact_stack_id:
            stack_id = _xxh64_go_udf(stacktrace)
        else:
            stack_id = F.lower(F.hex(F.xxhash64(stacktrace)))

        return (
            req.filter(has_sp & val.isNotNull() & (F.size(arr) > 0))
            .select(
                *keep,
                F.col("__from__").alias("log_time_sec"),
                built.getField("name").alias("name"),
                built.getField("stack").alias("stack"),
                stack_id.alias("stackID"),
                F.col("__spy__").alias("language"),
                F.col("__type__").alias("type"),
                F.col("__units__").alias("units"),
                F.col("__vt__").alias("valueTypes"),
                F.col("__agg__").alias("aggTypes"),
                F.lit("CallStack").alias("dataType"),
                F.col("__dur__").alias("durationNs"),
                F.col("__pid__").alias("profileID"),
                F.col("__labels__").alias("labels"),
                F.format_string("%.2f", val.cast("double")).alias("val"),
            )
        )


def _xxh64_go_udf(col: Column) -> Column:
    """Arrow-batched parity tier: canonical xxHash64 seed 0 (= cespare/xxhash,
    raw/profile.go:95) of the UTF-8 stacktrace bytes, hex lowercase. Python in
    the row path — parity/golden use only."""
    from pyspark.sql.functions import arrow_udf

    from .xxh import xxh64_hex

    def _h(s):  # no type hints: an untyped arrow_udf is a scalar one
        import pyarrow as pa

        return pa.array(
            [None if x is None else xxh64_hex(x.encode("utf-8")) for x in s.to_pylist()],
            pa.string(),
        )

    return arrow_udf(_h, "string")(col)
