"""Enrichment / field transforms (SURVEY.md §2.4) — pure Column expressions
over the ``fields`` map. All run JVM-side under whole-stage codegen.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Mapping, Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from .base import FIELDS, Operator, fget, fhas, fremove
from .common import flet, parsed_map


@dataclass
class AddFields(Operator):
    """processor_add_fields (plugins/processor/addfields/processor_add_fields.go:26-103):
    add constant fields; IgnoreIfExist keeps pre-existing values."""

    fields_to_add: Mapping[str, str]
    ignore_if_exist: bool = False

    def apply(self, df: DataFrame) -> DataFrame:
        new = parsed_map({k: F.lit(v) for k, v in self.fields_to_add.items()})
        if self.ignore_if_exist:
            merged = F.map_concat(new, F.col(FIELDS))  # existing wins (LAST_WIN)
        else:
            merged = F.map_concat(F.col(FIELDS), new)
        return df.withColumn(FIELDS, merged)


@dataclass
class Rename(Operator):
    """processor_rename (plugins/processor/rename/processor_rename.go:26-157)."""

    mapping: Mapping[str, str]  # source_key -> dest_key

    def apply(self, df: DataFrame) -> DataFrame:
        renamed = parsed_map(
            {dst: fget(src) for src, dst in self.mapping.items()}
        )
        renamed = F.map_filter(renamed, lambda k, v: v.isNotNull())
        base = fremove(self.mapping.keys())
        return df.withColumn(FIELDS, F.map_concat(base, renamed))


@dataclass
class Drop(Operator):
    """processor_drop (plugins/processor/drop/processor_drop.go:24-70)."""

    drop_keys: Sequence[str]

    def apply(self, df: DataFrame) -> DataFrame:
        return df.withColumn(FIELDS, fremove(self.drop_keys))


@dataclass
class PickKey(Operator):
    """processor_pick_key (plugins/processor/pickkey/processor_pick_key.go:26-117):
    Include whitelist wins over Exclude blacklist."""

    include: Sequence[str] = ()
    exclude: Sequence[str] = ()

    def apply(self, df: DataFrame) -> DataFrame:
        if self.include:
            arr = F.array(*[F.lit(k) for k in self.include])
            m = F.map_filter(F.col(FIELDS), lambda k, v: F.array_contains(arr, k))
        elif self.exclude:
            m = fremove(self.exclude)
        else:
            m = F.col(FIELDS)
        return df.withColumn(FIELDS, m)


@dataclass
class DropLastKey(Operator):
    """processor_drop_last_key (plugins/processor/droplastkey/processor_drop_last_key.go:26-95):
    drop ``drop_key`` only when every ``include`` key is present (i.e. parse
    succeeded) — used to drop raw content after a successful parse."""

    drop_key: str
    include: Sequence[str]

    def apply(self, df: DataFrame) -> DataFrame:
        cond = F.lit(True)
        for k in self.include:
            cond = cond & fhas(k)
        dropped = fremove([self.drop_key])
        return df.withColumn(
            FIELDS, F.when(cond, dropped).otherwise(F.col(FIELDS))
        )


@dataclass
class StringReplace(Operator):
    """processor_string_replace (plugins/processor/stringreplace/processor_string_replace.go:41-146).
    method: 'regex' | 'const' | 'unquote'."""

    source_key: str
    method: str = "regex"
    match: str = ""
    replace_string: str = ""
    dest_key: str | None = None

    def apply(self, df: DataFrame) -> DataFrame:
        src = fget(self.source_key)
        if self.method == "regex":
            out = F.regexp_replace(src, self.match, self.replace_string)
        elif self.method == "const":
            out = F.replace(src, F.lit(self.match), F.lit(self.replace_string))
        elif self.method == "unquote":
            # strconv.Unquote semantics (processor_string_replace.go:116-121):
            # a "..."-wrapped value is unquoted directly; anything else is
            # wrapped with its raw '"' escaped, so escape SEQUENCES decode in
            # both cases (\x22, \uXXXX, \n, \\ ...). JVM route: normalize Go
            # escapes to JSON ones, then a from_json string decode; any
            # invalid escape → decode null → original kept (the error path).
            # Divergence (documented): Go octal \377 escapes are not decoded.
            sent = "\x02"
            quoted = src.startswith('"') & src.endswith('"') & (F.length(src) >= 2)
            inner = F.when(
                quoted, src.substr(F.lit(2), F.length(src) - 2)
            ).otherwise(F.replace(src, F.lit('"'), F.lit("\\x22")))

            def normalize(c: Column) -> Column:
                c = F.replace(c, F.lit("\\\\"), F.lit(sent))  # hide escaped \
                c = F.regexp_replace(c, r"\\x([0-9a-fA-F]{2})", r"\\u00$1")
                c = F.replace(c, F.lit("\\a"), F.lit("\\u0007"))
                c = F.replace(c, F.lit("\\v"), F.lit("\\u000b"))
                return F.replace(c, F.lit(sent), F.lit("\\\\"))

            decoded = F.from_json(
                F.concat(F.lit('{"v":"'), normalize(inner), F.lit('"}')),
                "struct<v:string>",
            ).getField("v")
            out = F.coalesce(decoded, src)
        else:
            raise ValueError(f"unknown method {self.method}")
        dest = self.dest_key or self.source_key
        merged = F.map_concat(
            F.col(FIELDS),
            F.when(src.isNotNull(), F.create_map(F.lit(dest), out)).otherwise(F.expr("map()")),
        )
        return df.withColumn(FIELDS, merged)


@dataclass
class Desensitize(Operator):
    """processor_desensitize_native (core/plugin/processor/ProcessorDesensitizeNative.cpp:28-255):
    regex = "(" + prefix_pattern + ")" + content_pattern; CONST replaces the
    matched content with ``$1<replacing_string>``; MD5 replaces it with the
    UPPERCASE MD5 hex of the matched content (sdk/Common.cpp ToMd5 golden:
    TestCastSensWordMD5 expects 91F6CFCF...). ``replacing_all`` masks every
    match, otherwise only the first.

    regexp_replace cannot call md5 per match, so the text is rebuilt from its
    pieces: the unmatched stretches (``split``), each full match and its
    prefix group (``regexp_extract_all``), one masked match after each
    stretch."""

    source_key: str
    method: str = "const"  # 'const' | 'md5'
    content_pattern: str = ""  # ReplacedContentPattern
    prefix_pattern: str = ""  # ContentPatternBeforeReplacedString
    replacing_string: str = "********"
    replacing_all: bool = True

    def apply(self, df: DataFrame) -> DataFrame:
        if self.method not in ("const", "md5"):
            raise ValueError(f"unknown method {self.method}")
        src = fget(self.source_key)
        rx = f"({self.prefix_pattern})(?:{self.content_pattern})"

        def mask(full: Column, pre: Column) -> Column:
            if self.method == "md5":
                content = full.substr(F.length(pre) + 1, F.length(full))
                return F.concat(pre, F.upper(F.md5(content)))
            return F.concat(pre, F.lit(self.replacing_string))

        def rebuild(b: Column) -> Column:
            fulls, pres = b.getField("full"), b.getField("pre")

            def piece(p: Column, i: Column) -> Column:
                full, pre = F.get(fulls, i), F.get(pres, i)
                masked = mask(full, pre)
                if not self.replacing_all:
                    masked = F.when(i == 0, masked).otherwise(full)
                # the last stretch has no match after it (get → NULL)
                return F.concat(p, F.coalesce(masked, F.lit("")))

            return F.array_join(F.transform(b.getField("pieces"), piece), "")

        # let-bound: the match arrays are read once per stretch
        bound = F.struct(
            F.split(src, rx, -1).alias("pieces"),
            F.regexp_extract_all(src, F.lit(rx), 0).alias("full"),
            F.regexp_extract_all(src, F.lit(rx), 1).alias("pre"),
        )
        merged = F.map_concat(
            F.col(FIELDS),
            F.when(
                src.isNotNull(), F.create_map(F.lit(self.source_key), flet(bound, rebuild))
            ).otherwise(F.expr("map()")),
        )
        return df.withColumn(FIELDS, merged)


@dataclass
class Base64Encode(Operator):
    """processor_base64_encoding (plugins/processor/base64/encoding:25-74)."""

    source_key: str
    new_key: str

    def apply(self, df: DataFrame) -> DataFrame:
        src = fget(self.source_key)
        out = F.base64(src.cast("binary"))
        merged = F.map_concat(
            F.col(FIELDS),
            F.when(src.isNotNull(), F.create_map(F.lit(self.new_key), out)).otherwise(F.expr("map()")),
        )
        return df.withColumn(FIELDS, merged)


@dataclass
class Base64Decode(Operator):
    """processor_base64_decoding (plugins/processor/base64/decoding:25-74)."""

    source_key: str
    new_key: str

    def apply(self, df: DataFrame) -> DataFrame:
        src = fget(self.source_key)
        out = F.unbase64(src).cast("string")
        merged = F.map_concat(
            F.col(FIELDS),
            F.when(src.isNotNull(), F.create_map(F.lit(self.new_key), out)).otherwise(F.expr("map()")),
        )
        return df.withColumn(FIELDS, merged)


@dataclass
class Md5(Operator):
    """processor_md5 (plugins/processor/md5/processor_md5.go:26-70)."""

    source_key: str
    new_key: str

    def apply(self, df: DataFrame) -> DataFrame:
        src = fget(self.source_key)
        merged = F.map_concat(
            F.col(FIELDS),
            F.when(src.isNotNull(), F.create_map(F.lit(self.new_key), F.md5(src))).otherwise(
                F.expr("map()")
            ),
        )
        return df.withColumn(FIELDS, merged)


@dataclass
class PackJson(Operator):
    """processor_packjson (plugins/processor/packjson/processor_packjson.go:26-104):
    pack source_keys into one JSON object string under dest_key."""

    source_keys: Sequence[str]
    dest_key: str
    keep: bool = True  # Keep: retain the packed source fields

    def apply(self, df: DataFrame) -> DataFrame:
        packed = F.to_json(
            F.struct(*[F.coalesce(fget(k), F.lit("")).alias(k) for k in self.source_keys])
        )
        out = F.map_concat(F.col(FIELDS), F.create_map(F.lit(self.dest_key), packed))
        df = df.withColumn(FIELDS, out)
        if not self.keep:
            df = df.withColumn(FIELDS, fremove(self.source_keys))
        return df


@dataclass
class KeyValueSplitter(Operator):
    """processor_split_key_value
    (plugins/processor/split/keyvalue/key_value_splitter.go:26-212): split
    fields[source_key] into pairs by ``delimiter``, each pair at the FIRST
    ``separator``; pairs without a separator get ``no_separator_key_prefix``.

    With ``quote`` (key_value_splitter.go:95-180), a quoted stretch may hold
    the delimiter and a doubled quote escapes one; an unclosed quote runs to
    the end of the line. Pairs are the ``regexp_extract_all`` matches of that
    grammar; each is unquoted before its split at the separator."""

    source_key: str = "content"
    delimiter: str = "\t"
    separator: str = ":"
    quote: str | None = None
    keep_source: bool = False
    empty_key_prefix: str = "empty_key_"
    no_separator_key_prefix: str = "no_separator_key_"
    discard_when_separator_not_found: bool = False

    def _pairs(self, src: Column) -> Column:
        d = re.escape(self.delimiter)
        if not self.quote:
            return F.split(src, d, -1)
        q = re.escape(self.quote)
        plain = f"[^{q}{d}]++" if len(self.delimiter) == 1 else f"(?:(?!{d})[^{q}])++"
        # for where pairs end, an escaped quote inside quotes acts like a
        # close and a reopen, so a quoted stretch is simply quote to quote;
        # prepending the delimiter makes every pair exactly one match,
        # including an empty first or last pair
        pairs = F.regexp_extract_all(
            F.concat(F.lit(self.delimiter), src),
            F.lit(f"{d}((?:{plain}|{q}[^{q}]*+{q}?)*+)"),
            1,
        )
        # unquoting does tell them apart: strip each quoted stretch's outer
        # quotes, then every doubled quote left is an escape (unquoted
        # stretches hold no quote char)
        return F.transform(
            pairs,
            lambda p: F.replace(
                F.regexp_replace(p, f"{q}((?:[^{q}]++|{q}{q})*+){q}?", "$1"),
                F.lit(self.quote * 2),
                F.lit(self.quote),
            ),
        )

    def apply(self, df: DataFrame) -> DataFrame:
        src = fget(self.source_key)
        pairs = self._pairs(src)
        sep = self.separator

        def kv(p: Column) -> Column:
            pos = F.instr(p, sep)
            key = F.when(pos > 0, F.substring_index(p, sep, 1)).otherwise(F.lit(""))
            # value = everything after the FIRST separator occurrence
            val = F.when(pos > 0, p.substr(pos + len(sep), F.length(p))).otherwise(p)
            return F.struct(key.alias("k"), val.alias("v"), (pos > 0).alias("had_sep"))

        def build(structs: Column) -> Column:
            # anomaly keys use 0-based OCCURRENCE counters, not pair positions
            # (key_value_splitter.go:99-100,118,127: emptyKeyIndex /
            # noSeparatorKeyIndex increment only when used)
            with_sep = F.filter(structs, lambda s: s.getField("had_sep"))
            named = F.filter(with_sep, lambda s: s.getField("k") != "")
            empty_key = F.filter(with_sep, lambda s: s.getField("k") == "")
            empty_keyed = F.transform(
                empty_key,
                lambda s, i: F.struct(
                    F.concat(F.lit(self.empty_key_prefix), i.cast("string")).alias("k"),
                    s.getField("v").alias("v"),
                ),
            )
            no_sep = F.filter(structs, lambda s: ~s.getField("had_sep"))
            if self.discard_when_separator_not_found:
                no_sep = F.array().cast("array<struct<k:string,v:string,had_sep:boolean>>")
            no_sep_keyed = F.transform(
                no_sep,
                lambda s, i: F.struct(
                    F.concat(F.lit(self.no_separator_key_prefix), i.cast("string")).alias("k"),
                    s.getField("v").alias("v"),
                ),
            )
            all_entries = F.concat(
                F.transform(
                    named,
                    lambda s: F.struct(s.getField("k").alias("k"), s.getField("v").alias("v")),
                ),
                empty_keyed,
                no_sep_keyed,
            )
            return flet(
                all_entries,
                lambda ae: F.map_from_arrays(
                    F.transform(ae, lambda s: s.getField("k")),
                    F.transform(ae, lambda s: s.getField("v")),
                ),
            )

        # let-bound: the structs array (split + per-pair kv parse) is
        # referenced by three filters — unbound it would be rebuilt per branch
        new_map = flet(F.transform(pairs, kv), build)
        new_map = F.when(src.isNotNull(), new_map).otherwise(F.expr("map()"))
        base = F.col(FIELDS) if self.keep_source else fremove([self.source_key])
        return df.withColumn(FIELDS, F.map_concat(base, new_map))


@dataclass
class Anchor(Operator):
    """processor_anchor (plugins/processor/anchor/anchor.go:36-231): extract the
    substring between ``start`` and ``stop`` anchors into ``field_name``."""

    source_key: str
    start: str
    stop: str
    field_name: str
    keep_source: bool = True

    def apply(self, df: DataFrame) -> DataFrame:
        src = fget(self.source_key)
        after = F.when(
            F.instr(src, self.start) > 0,
            src.substr(F.instr(src, self.start) + len(self.start), F.length(src)),
        )
        val = F.when(
            after.isNotNull() & (F.instr(after, self.stop) > 0),
            F.substring_index(after, self.stop, 1),
        )
        merged = F.map_concat(
            F.col(FIELDS),
            F.when(val.isNotNull(), F.create_map(F.lit(self.field_name), val)).otherwise(
                F.expr("map()")
            ),
        )
        df = df.withColumn(FIELDS, merged)
        if not self.keep_source:
            df = df.withColumn(FIELDS, fremove([self.source_key]))
        return df


@dataclass
class FieldsWithCondition(Operator):
    """processor_fields_with_condition
    (plugins/processor/fieldswithcondition/processor_fields_with_condition.go:43-299):
    switch-case — first matching case's actions apply; optionally drop
    no-match rows. Case relations: equals / regexp / contains / startwith."""

    cases: Sequence[dict]  # [{"when": {key: (op, value), ...}, "add": {k: v}, "drop": [k]}]
    drop_if_not_match: bool = False

    @staticmethod
    def _cond(spec: Mapping[str, tuple[str, str]]) -> Column:
        c = F.lit(True)
        for key, (op, val) in spec.items():
            v = fget(key)
            if op == "equals":
                c = c & (v == val)
            elif op == "regexp":
                c = c & v.rlike(val)
            elif op == "contains":
                c = c & v.contains(val)
            elif op == "startwith":
                c = c & v.startswith(val)
            else:
                raise ValueError(f"unknown relation {op}")
        return c

    def apply(self, df: DataFrame) -> DataFrame:
        conds = [self._cond(case.get("when", {})) for case in self.cases]
        # build reversed when-chain: first case wins
        expr = F.col(FIELDS)
        for case, cond in zip(reversed(self.cases), reversed(conds)):
            m = F.col(FIELDS)
            drop = case.get("drop", [])
            if drop:
                m = fremove(drop)
            add = case.get("add", {})
            if add:
                m = F.map_concat(m, parsed_map({k: F.lit(v) for k, v in add.items()}))
            expr = F.when(cond, m).otherwise(expr)
        out = df.withColumn(FIELDS, expr)
        if self.drop_if_not_match:
            matched = F.lit(False)
            for cond in conds:
                matched = matched | cond
            out = out.filter(matched)
        return out


@dataclass
class Appender(Operator):
    """processor_appender (plugins/processor/appender/processor_appender.go:31-199):
    append ``value`` to the existing ``key`` field (creates it when absent);
    ``{{env_name}}``-style platform vars are resolved driver-side by the caller
    before construction (we take the already-expanded string). ``sort_labels``
    re-sorts a comma-separated ``k=v`` label string after the append."""

    key: str
    value: str
    delimiter: str = ""
    sort_labels: bool = False

    def apply(self, df: DataFrame) -> DataFrame:
        cur = fget(self.key)
        appended = F.when(
            cur.isNotNull(), F.concat(cur, F.lit(self.delimiter + self.value))
        ).otherwise(F.lit(self.value))
        if self.sort_labels:
            appended = F.array_join(
                F.array_sort(F.split(appended, ",", -1)), ","
            )
        return df.withColumn(
            FIELDS,
            F.map_concat(F.col(FIELDS), F.create_map(F.lit(self.key), appended)),
        )


@dataclass
class Encrypt(Operator):
    """processor_encrypt (plugins/processor/encrypt/processor_encrypt.go:41-214):
    AES-CBC encrypt each source key's value, output hex. Spark-native
    ``aes_encrypt(expr, key, 'CBC', 'PKCS', iv)`` + ``hex()`` — fully JVM-side.
    Key/IV are hex strings as in the reference config."""

    source_keys: Sequence[str]
    key_hex: str
    iv_hex: str
    keep_source_value_if_error: bool = False

    def apply(self, df: DataFrame) -> DataFrame:
        out = F.col(FIELDS)
        for sk in self.source_keys:
            src = fget(sk)
            enc = F.lower(
                F.hex(
                    F.expr(
                        f"aes_encrypt(element_at({FIELDS}, '{sk}'), "
                        f"unhex('{self.key_hex}'), 'CBC', 'PKCS', unhex('{self.iv_hex}'))"
                    )
                )
            )
            val = F.when(src.isNotNull(), enc)
            if self.keep_source_value_if_error:
                val = F.coalesce(val, src)
            out = F.map_concat(
                out,
                F.when(val.isNotNull(), F.create_map(F.lit(sk), val)).otherwise(
                    F.expr("map()")
                ),
            )
        return df.withColumn(FIELDS, out)


@dataclass
class LogToMetric(Operator):
    """processor_log_to_sls_metric
    (plugins/processor/logtoslsmetric/processor_log_to_sls_metric.go:32-381):
    reshape log rows into metric rows — label fields validated against
    ``^[a-zA-Z_][a-zA-Z0-9_]*$``, sorted by name and joined as
    ``k1#$#v1|k2#$#v2`` into ``__labels__``; each (name,value) metric pair
    becomes a row with numeric-validated ``__value__``; invalid rows dropped."""

    metric_labels: Sequence[str]
    metric_values: Mapping[str, str]  # name_key -> value_key ... but static names here
    time_col: str | None = None

    _NUM_RX = r"^-?\d+(\.\d+)?$"

    def apply(self, df: DataFrame) -> DataFrame:
        label_pairs = sorted(self.metric_labels)
        labels = F.concat_ws(
            "|",
            *[
                F.concat(F.lit(k), F.lit("#$#"), F.coalesce(fget(k), F.lit("")))
                for k in label_pairs
            ],
        )
        metrics = F.array(
            *[
                F.struct(
                    F.lit(name).alias("__name__"), fget(vkey).alias("__value__")
                )
                for name, vkey in self.metric_values.items()
            ]
        )
        keep = [c for c in df.columns if c != FIELDS]
        out = df.select(
            *keep, labels.alias("__labels__"), F.explode(metrics).alias("__m__")
        ).select(
            *keep,
            "__labels__",
            F.col("__m__").getField("__name__").alias("__name__"),
            F.col("__m__").getField("__value__").alias("__value__"),
        )
        return out.filter(F.col("__value__").rlike(self._NUM_RX)).withColumn(
            "__value__", F.col("__value__").cast("double")
        )


_GO_LAYOUT_TOKENS = [
    ("2006", "yyyy"),
    ("January", "MMMM"),
    ("Jan", "MMM"),
    ("Monday", "EEEE"),
    ("Mon", "EEE"),
    (".000000000", ".SSSSSSSSS"),  # ns — handled by the GoTime special case
    (".000000", ".SSSSSS"),
    (".000", ".SSS"),
    ("Z07:00", "XXX"),
    ("-07:00", "xxx"),
    ("-0700", "xx"),
    ("MST", "zz"),
    ("15", "HH"),
    ("06", "yy"),
    ("01", "MM"),
    ("02", "dd"),
    ("03", "hh"),
    ("04", "mm"),
    ("05", "ss"),
    ("PM", "a"),
]


def go_layout_to_spark(layout: str) -> str:
    """Go reference-time layout → Spark datetime pattern (single-pass token
    substitution so outputs are never re-matched); bare 'T'/'Z' literals are
    quoted. Covers the documented layout subset (no '_2'/ordinal tokens)."""
    import re as _re

    alt = "|".join(_re.escape(k) for k, _ in _GO_LAYOUT_TOKENS)
    mapping = dict(_GO_LAYOUT_TOKENS)
    out = _re.sub(alt, lambda m: mapping[m.group(0)], layout)
    return _re.sub(r"(?<!')([TZ])(?!')", r"'\1'", out)


_GOTIME_EPOCH_FORMATS = ("seconds", "milliseconds", "microseconds", "nanoseconds")


@dataclass
class GoTime(Operator):
    """processor_gotime (plugins/processor/gotime/processor_gotime.go:27-160):
    parse fields[source_key] by a Go layout (or fixed epoch
    seconds/milliseconds/microseconds/nanoseconds), emit it re-formatted by
    ``dest_format`` in the dest timezone under ``dest_key``; SetTime also
    stamps ``event_time``; KeepSource=false consumes the source key.
    ``source_location``/``dest_location`` are UTC offsets in hours (the
    reference's machine-timezone default is pinned to UTC here — driver/
    executor-local timezones are not a thing a distributed job should depend
    on)."""

    source_key: str
    source_format: str
    dest_key: str
    dest_format: str
    source_location: int = 0  # hours east of UTC
    dest_location: int = 0
    set_time: bool = False
    keep_source: bool = True
    out_time_col: str = "event_time"

    def apply(self, df: DataFrame) -> DataFrame:
        src = fget(self.source_key)
        ns_rem = None
        if self.source_format in _GOTIME_EPOCH_FORMATS:
            iv = src.try_cast("long")
            # magnitude guards: timestamp_seconds/millis scale to µs
            # internally, so an |iv| past the timestamp range would
            # ANSI-overflow the job; out-of-range → null → record fails
            if self.source_format == "seconds":
                ts = F.timestamp_seconds(F.when(F.abs(iv) < F.lit(10**11), iv))
            elif self.source_format == "milliseconds":
                ts = F.timestamp_millis(F.when(F.abs(iv) < F.lit(10**14), iv))
            elif self.source_format == "microseconds":
                ts = F.timestamp_micros(iv)
            else:  # nanoseconds — Spark timestamps are µs; keep the ns tail
                ts = F.timestamp_micros(F.floor(iv.cast("decimal(25,0)") / 1000).cast("long"))
                ns_rem = (iv.cast("decimal(25,0)") % 1000000000).cast("long")
        else:
            fmt = go_layout_to_spark(self.source_format)
            # try_: Go time.Parse errors fail the record, never the job
            naive = F.try_to_timestamp(src, F.lit(fmt))
            ts = (
                F.to_utc_timestamp(naive, f"GMT{self.source_location:+03d}:00")
                if self.source_location
                else naive
            )
        dest_ts = (
            F.from_utc_timestamp(ts, f"GMT{self.dest_location:+03d}:00")
            if self.dest_location
            else ts
        )
        dfmt = self.dest_format
        if ns_rem is not None and dfmt.endswith(".000000000"):
            base = F.date_format(dest_ts, go_layout_to_spark(dfmt[: -len(".000000000")]))
            rendered = F.concat(base, F.lit("."), F.lpad(ns_rem.cast("string"), 9, "0"))
        else:
            rendered = F.date_format(dest_ts, go_layout_to_spark(dfmt))

        ok = ts.isNotNull()
        base_map = (
            F.col(FIELDS)
            if self.keep_source
            else F.map_filter(F.col(FIELDS), lambda k, v: k != F.lit(self.source_key))
        )
        merged = F.when(
            ok, F.map_concat(base_map, F.create_map(F.lit(self.dest_key), rendered))
        ).otherwise(F.col(FIELDS))
        out = df
        if self.set_time:
            # stamp BEFORE the fields rewrite — ts reads the source key,
            # which keep_source=False removes from the map
            out = out.withColumn(self.out_time_col, F.when(ok, ts))
        return out.withColumn(FIELDS, merged)
