"""Field-extraction parsers (SURVEY.md §2.1), all JVM-side Column expressions.

Each parser consumes ``fields[source_key]`` and merges extracted keys back into
the ``fields`` map under CommonParserOptions keep/discard semantics.

- RegexParser       ≙ processor_parse_regex_native
  (core/plugin/processor/ProcessorParseRegexNative.cpp:29-253) and the Go
  processor_regex (plugins/processor/regex/regex.go:32-139)
- DelimiterParser   ≙ processor_parse_delimiter_native
  (core/plugin/processor/ProcessorParseDelimiterNative.cpp:30-425)
- JsonParser        ≙ processor_parse_json_native
  (core/plugin/processor/ProcessorParseJsonNative.cpp:44-483)
- TimestampParser   ≙ processor_parse_timestamp_native
  (core/plugin/processor/ProcessorParseTimestampNative.cpp:29-247)
- GrokParser        ≙ processor_grok (plugins/processor/grok/processor_grok.go:41-449)
"""

from __future__ import annotations

import dataclasses
import re
from dataclasses import dataclass, field
from typing import Sequence

import pyarrow as pa
import pyarrow.compute as pc
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from .base import FIELDS, Operator
from .common import ParserOptions, flet, full_match, parsed_map
from .grok_patterns import DEFAULT_PATTERNS, load_pattern_dir


def _src(options: ParserOptions) -> Column:
    return F.element_at(F.col(FIELDS), F.lit(options.source_key))


# java.util.regex's \s set (RE2's \s lacks \x0B) and its `.`, which excludes
# every line terminator (RE2's `.` excludes only \n)
_JAVA_SPACE = r"\t\n\x0B\f\r "
_JAVA_DOT = r"[^\n\r\x{85}\x{2028}\x{2029}]"
_QUANTIFIER = re.compile(r"[*+?]|\{\d+(?:,\d*)?\}")
_GROUP_NAME = re.compile(r"[A-Za-z_]\w*")


def re2_pattern(java_rx: str, names: Sequence[str] | None = None) -> str:
    """``java_rx`` for RE2, full-match anchored as ``^(?:…)\\z``: the same
    lines match and the groups capture the same text, since RE2 picks
    submatches in a backtracking engine's priority order. With ``names``, the
    capture groups become ``(?P<name>…)`` in order, the form
    ``pyarrow.compute.extract_regex`` reads; there must be one per group.

    Only a subset of java.util.regex is accepted: literals, escaped
    punctuation, ``\\d \\D \\w \\W \\s \\S \\t \\n \\r \\f``, ``.``, classes
    (``\\d \\w \\s`` inside them), capturing and ``(?:`` groups, alternation,
    greedy and lazy quantifiers. Three constructs are rewritten: ``\\s`` and
    ``\\S`` spell out Java's set, which holds ``\\x0B``, and ``.`` excludes
    Java's line terminators. Anything else raises ``ValueError``:
    backreferences, lookaround, possessive quantifiers, atomic groups, inline
    flags, ``\\S \\D \\W`` inside a class, POSIX or Unicode classes, nested
    classes, anchors and the other escapes."""
    out: list[str] = []
    groups = 0
    i, n = 0, len(java_rx)

    def reject(what: str) -> ValueError:
        return ValueError(f"re2_pattern: {what} at offset {i} of {java_rx!r}")

    def escape(ch: str, in_class: bool) -> str:
        if ch in "sS" and not (in_class and ch == "S"):
            return _JAVA_SPACE if in_class else f"[{'^' if ch == 'S' else ''}{_JAVA_SPACE}]"
        if ch in "dw" or (ch in "DW" and not in_class) or ch in "tnrf":
            return "\\" + ch
        if ch in "SDW":
            raise reject(f"negated shorthand \\{ch} inside a class")
        if ch.isdigit() or ch == "k":
            raise reject("backreference")
        if ch in "pP":
            raise reject("Unicode or POSIX class")
        if ch.isascii() and not ch.isalnum():
            return "\\" + ch
        raise reject(f"unsupported escape \\{ch}")

    while i < n:
        c = java_rx[i]
        if c == "\\" and i + 1 < n:
            out.append(escape(java_rx[i + 1], in_class=False))
            i += 2
            continue
        if c == "[":
            j = i + 1 + (java_rx[i + 1 : i + 2] == "^")
            body = [java_rx[i:j]]
            if java_rx[j : j + 1] == "]":
                raise reject("class opening with ']'")
            while j < n and java_rx[j] != "]":
                if java_rx[j] == "\\" and j + 1 < n:
                    body.append(escape(java_rx[j + 1], in_class=True))
                    shorthand = java_rx[j + 1] in "dws"
                    if shorthand and (
                        (len(body) > 3 and body[-2] == "-")
                        or (java_rx[j + 2 : j + 3] == "-" and java_rx[j + 3 : j + 4] != "]")
                    ):
                        raise reject("range bound that is a shorthand class")
                    j += 2
                    continue
                if java_rx[j] == "[":
                    raise reject("nested or POSIX class")
                if java_rx.startswith("&&", j):
                    raise reject("class intersection")
                body.append(java_rx[j])
                j += 1
            if j == n:
                raise reject("unclosed class")
            out.append("".join(body) + "]")
            i = j + 1
            continue
        if c == "(":
            if java_rx.startswith("(?:", i):
                out.append("(?:")
                i += 3
                continue
            if java_rx.startswith(("(?=", "(?!", "(?<=", "(?<!"), i):
                raise reject("lookaround")
            if java_rx.startswith("(?>", i):
                raise reject("atomic group")
            if java_rx.startswith("(?<", i):
                raise reject("named group")
            if java_rx.startswith("(?", i):
                raise reject("inline flags")
            if names is not None:
                if groups >= len(names):
                    raise reject(f"more groups than the {len(names)} names")
                if not _GROUP_NAME.fullmatch(names[groups]):
                    raise reject(f"group name {names[groups]!r} is not an identifier")
                out.append(f"(?P<{names[groups]}>")
            else:
                out.append("(")
            groups += 1
            i += 1
            continue
        m = _QUANTIFIER.match(java_rx, i)
        if m:
            out.append(m.group())
            i = m.end()
            if java_rx[i : i + 1] == "+":
                raise reject("possessive quantifier")
            if java_rx[i : i + 1] == "?":
                out.append("?")
                i += 1
            continue
        if c in "^$":
            raise reject(f"anchor {c!r}")
        if c == "{":
            raise reject("'{' outside a quantifier")
        out.append(_JAVA_DOT if c == "." else c)
        i += 1
    if names is not None and groups != len(names):
        raise ValueError(f"re2_pattern: {groups} groups for {len(names)} names in {java_rx!r}")
    pattern = f"^(?:{''.join(out)})\\z"
    try:
        pc.match_substring_regex(pa.array([""], pa.string()), pattern)
    except pa.ArrowInvalid as e:
        raise ValueError(f"re2_pattern: RE2 rejects {pattern!r}: {e}") from None
    return pattern


@dataclass
class RegexParser(Operator):
    """Full-match regex → capture groups under ``keys``.

    The reference full-matches (boost::regex_match); we anchor with
    ``^(?:...)$`` (group indices unchanged). Whole-line fast path when the
    pattern is ``(.*)`` (ProcessorParseRegexNative.cpp:147-151).

    Performance: N ``regexp_extract`` calls would run the matcher N times per
    row — and worse, when the source column is itself an expensive expression
    (e.g. the token decode), Catalyst's CollapseProject inlines that
    expression into every call and lambda-bearing subtrees defeat codegen CSE.
    Instead we run the regex ONCE via ``regexp_replace`` emitting all groups
    joined by the separator ``\\x01``, then split — one matcher pass + one
    split per row regardless of key count. A row whose source holds the
    separator itself takes per-group extraction instead."""

    regex: str
    keys: Sequence[str]
    options: ParserOptions = field(default_factory=ParserOptions)
    full_match: bool = True

    def apply(self, df: DataFrame) -> DataFrame:
        src = _src(self.options)
        return self.options.finalize(df, *self.parse(src), src)

    def parse(self, src: Column) -> tuple[Column, Column]:
        """(success, parsed map) of the regex over the source value ``src``."""
        if self.regex == "(.*)" and len(self.keys) == 1:
            # whole-line fast path: constant-fold to a rename
            return src.isNotNull(), parsed_map({self.keys[0]: src})
        rx = full_match(self.regex) if self.full_match else self.regex
        success = src.isNotNull() & src.rlike(rx)
        per_group = parsed_map(
            {k: F.regexp_extract(src, rx, i + 1) for i, k in enumerate(self.keys)}
        )
        # the single-matcher-pass trick rewrites the WHOLE string through the
        # anchored pattern — valid only in full-match mode (a partial match
        # would leave the unmatched prefix/suffix around the groups)
        if not self.full_match:
            return success, per_group
        sep = "\x01"
        repl = sep.join(f"${i + 1}" for i in range(len(self.keys)))
        arr = F.split(F.regexp_replace(src, rx, repl), sep, -1)
        # let-bind the split: element_at references would otherwise
        # re-inline the whole regexp_replace per key (k regex runs/row)
        one_pass = flet(
            arr,
            lambda a: parsed_map(
                {k: F.element_at(a, i + 1) for i, k in enumerate(self.keys)}
            ),
        )
        # a group holding the separator would be split apart
        return success, F.when(src.contains(sep), per_group).otherwise(one_pass)


class OverflowTreatment:
    EXTEND = "extend"  # extra cols → __column{i}__ (ProcessorParseDelimiterNative.cpp:340)
    KEEP = "keep"  # extra cols re-joined into the last key
    DISCARD = "discard"  # extra cols dropped


@dataclass
class DelimiterParser(Operator):
    """Split by a (multi-char) separator. With ``quote`` and a single-char
    separator, fields follow the reference's strict quote FSM
    (ProcessorParseDelimiterNative.cpp:254-319): a field is either fully
    quoted (a doubled quote escapes one; the closing quote must be followed
    by the separator or end-of-line) or holds no quote char at all; any other
    quote placement fails the parse (TestProcessDoubleQuote golden).

    The FSM's language is regular, so it runs as java.util.regex: one
    full-match test for success and one ``regexp_extract_all`` for the
    fields. The field pattern uses possessive quantifiers, so a long quoted
    field cannot overflow the matcher's stack.

    AllowingShortenedFields / OverflowedFieldsTreatment per
    ProcessorParseDelimiterNative.cpp:206-364."""

    separator: str
    keys: Sequence[str]
    options: ParserOptions = field(default_factory=ParserOptions)
    allow_shortened: bool = False
    overflow: str = OverflowTreatment.EXTEND
    quote: str | None = None

    def apply(self, df: DataFrame) -> DataFrame:
        src = _src(self.options)
        return self.options.finalize(df, *self.parse(src), src)

    def _fields(self, src: Column) -> tuple[Column, Column]:
        """(well-formed, field array) of the source value ``src``."""
        sep = re.escape(self.separator)
        if not (self.quote and len(self.separator) == 1):
            return src.isNotNull(), F.split(src, sep, -1)
        q, qq = re.escape(self.quote), self.quote * 2
        fld = f"{q}(?:[^{q}]++|{q}{q})*+{q}|[^{q}{sep}]*+"
        well_formed = src.rlike(full_match(f"(?:{fld})(?:{sep}(?:{fld}))*+"))
        # prepending the separator makes every field exactly one match,
        # including an empty first or last field
        raw = F.regexp_extract_all(
            F.concat(F.lit(self.separator), src), F.lit(f"{sep}({fld})"), 1
        )
        unquoted = F.transform(
            raw,
            lambda x: F.when(
                x.startswith(self.quote),
                F.replace(x.substr(F.lit(2), F.length(x) - 2), F.lit(qq), F.lit(self.quote)),
            ).otherwise(x),
        )
        return well_formed, unquoted

    def parse(self, src: Column) -> tuple[Column, Column]:
        """(success, parsed map) of the split of the source value ``src``."""
        n = len(self.keys)
        well_formed, arr = self._fields(src)
        size = F.size(arr)
        success = well_formed & (
            (size >= n) if not self.allow_shortened else (size >= F.lit(1))
        )

        def build_map(a: Column) -> Column:
            """Whole parsed-map construction over the LET-BOUND array `a`
            (element_at/size references on the raw split expression would
            each re-inline it — one split per key per row)."""
            sz = F.size(a)
            rest = F.slice(a, n + 1, F.greatest(sz - n, F.lit(0)))
            pairs: dict[str, Column] = {}
            for i, k in enumerate(self.keys):
                v = F.element_at(a, i + 1)
                if self.allow_shortened:
                    v = F.when(sz >= i + 1, v)  # missing trailing keys absent, not null
                pairs[k] = v
            if self.overflow == OverflowTreatment.KEEP:
                # KEEP: the raw remainder — INCLUDING its leading separator —
                # lands in __column{n}__ (TestExtend 'not Extend' golden:
                # '123@@456@@1@@2@@3' keys a,b,c → __column3__ = '@@2@@3')
                tail = F.concat(F.lit(self.separator), F.array_join(rest, self.separator))
                pairs[f"__column{n}__"] = F.when(sz > n, tail)
            if self.overflow == OverflowTreatment.DISCARD:
                # ExtractingPartialFields: keys named "_" are skipped
                # (ProcessorParseDelimiterNative.cpp:328-331)
                pairs = {k: v for k, v in pairs.items() if k != "_"}
            new_map = parsed_map(pairs)
            if self.allow_shortened or self.overflow == OverflowTreatment.KEEP:
                # drop NULL-valued entries (short rows / absent KEEP tail)
                new_map = F.map_filter(new_map, lambda k, v: v.isNotNull())
            if self.overflow == OverflowTreatment.EXTEND:
                # every column past the keys → __column{i}__ (0-based i)
                ext = F.map_from_arrays(
                    F.transform(
                        rest,
                        lambda x, i: F.concat(
                            F.lit("__column"), (i + n).cast("string"), F.lit("__")
                        ),
                    ),
                    rest,
                )
                new_map = F.map_concat(new_map, ext)
            return new_map

        return success, flet(arr, build_map)


@dataclass
class JsonParser(Operator):
    """One-level JSON-object parse; every member stringified exactly like
    RapidjsonValueToString (ProcessorParseJsonNative.cpp:379-403): string →
    its text, int → decimal digits, double → C++ std::to_string (SIX fixed
    decimals: 3.14159 → "3.141590"), bool → true/false, null → "",
    object/array → compact JSON text.

    ``from_json`` to map<string,string> gives all of these (nested text and
    key order kept) except two: null (NULL → coalesce "") and doubles, which
    Jackson renders as Java text (3.14159, 100000.0). A value whose text looks
    like a float is re-rendered with ``%.6f`` when a variant parse of the
    same object types it as a number, not a string; the variant map is parsed
    only on rows holding such a value. Known divergences of Java's ``%.6f``
    from C's (COVERAGE.md): half-way digits round on the shortest decimal
    (5e-7 → 0.000001, C: 0.000000) and huge values pad the shortest digits
    with zeros instead of printing the exact binary expansion."""

    options: ParserOptions = field(default_factory=ParserOptions)

    # Jackson's text of a JSON double (ints never carry '.' or an exponent)
    _FLOAT_TEXT = r"^-?\d+(?:\.\d+(?:[eE][+-]?\d+)?|[eE][+-]?\d+)\z"
    # rapidjson's default Parse rejects NaN/Infinity and single-quoted text,
    # which Spark's JSON reader accepts unless told not to
    _STRICT = {"allowNonNumericNumbers": "false", "allowSingleQuotes": "false"}

    def apply(self, df: DataFrame) -> DataFrame:
        src = _src(self.options)
        return self.options.finalize(df, *self.parse(src), src)

    def parse(self, src: Column) -> tuple[Column, Column]:
        """(success, parsed map) of the JSON object in the source value ``src``."""
        m = F.from_json(src, "map<string,string>", self._STRICT)
        # non-object JSON (arrays/scalars) and malformed input both yield NULL
        success = src.isNotNull() & m.isNotNull()

        def render(mm: Column) -> Column:
            floaty = F.exists(F.map_values(mm), lambda v: v.rlike(self._FLOAT_TEXT))
            typed = F.when(floaty, F.from_json(src, "map<string,variant>", self._STRICT))
            return flet(
                typed,
                lambda vm: F.transform_values(
                    mm,
                    lambda k, v: F.when(
                        v.rlike(self._FLOAT_TEXT)
                        & F.schema_of_variant(F.element_at(vm, k)).rlike("^(DECIMAL|DOUBLE)"),
                        F.format_string("%.6f", v.cast("double")),
                    ).otherwise(F.coalesce(v, F.lit(""))),
                ),
            )

        # let-bound: one from_json for the value map (success costs a second)
        return success, flet(F.coalesce(m, F.expr("map()")), render)


_STRPTIME_FRACTION = "[SSSSSSSSS][SSSSSSSS][SSSSSSS][SSSSSS][SSSSS][SSSS][SSS][SS][S]"
_STRPTIME_MAP = {
    "%Y": "yyyy", "%y": "yy", "%m": "MM", "%d": "dd", "%e": "d",
    "%H": "HH", "%I": "hh", "%M": "mm", "%S": "ss", "%j": "DDD",
    "%b": "MMM", "%B": "MMMM", "%a": "EEE", "%A": "EEEE", "%p": "a",
    "%z": "xx", "%Z": "zz", "%f": _STRPTIME_FRACTION, "%%": "'%'",
}


def strptime_to_spark(fmt: str) -> str:
    """C-strptime format (processor_strptime, plugins/processor/strptime/
    strptime.go:41-68) → Spark datetime pattern. ``%s`` alone maps to the
    magnitude-dispatched ``epoch_auto``; ``%f`` is the plugin's
    flexible-width fraction. Literal letters are quoted for Java patterns."""
    if fmt.strip() == "%s":
        return "epoch_auto"
    out: list[str] = []
    i = 0
    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            tok = fmt[i : i + 2]
            if tok not in _STRPTIME_MAP:
                raise ValueError(f"unsupported strptime token {tok}")
            out.append(_STRPTIME_MAP[tok])
            i += 2
        else:
            ch = fmt[i]
            out.append(f"'{ch}'" if ch.isalpha() else ch)
            i += 1
    return "".join(out)


@dataclass
class TimestampParser(Operator):
    """Parse fields[source_key] with a Spark datetime pattern into an
    ``event_time`` column (reference rewrites the event timestamp,
    ProcessorParseTimestampNative.cpp:29-247). Rows older than
    ``history_discard_hours`` relative to the max time in the batch are
    dropped (history timeout discard, lines 125-178)."""

    source_format: str  # Spark datetime pattern, or 'epoch' / 'epoch_milli'
    options: ParserOptions = field(default_factory=ParserOptions)
    timezone: str | None = None  # e.g. "GMT+08:00"
    out_col: str = "event_time"
    history_discard_hours: float | None = None
    # processor_strptime EnablePreciseTimestamp (strptime.go:35,66-68,158-171):
    # also emit the parsed time as an integer field in the given unit
    precise_timestamp_key: str | None = None  # e.g. "precise_timestamp"
    precise_timestamp_unit: str = "ms"  # 'ms' | 'us' | 'ns'

    def apply(self, df: DataFrame) -> DataFrame:
        src = _src(self.options)
        if self.source_format == "epoch":
            # reference %s: epoch seconds (ProcessorParseTimestampNative %s
            # path). Length-bounded: timestamp_seconds multiplies by 1e6
            # internally, so an unbounded digit run would ANSI-overflow the
            # job instead of failing the line.
            ts = F.timestamp_seconds(
                F.when(src.rlike(full_match(r"\d{1,11}")), src.try_cast("long"))
            )
        elif self.source_format == "epoch_auto":
            # processor_strptime %s: magnitude-dispatched s/ms/µs — the Go
            # plugin accepts 1451710799 / ...123 / ...123456 as the SAME
            # instant (strptime_test.go TestFormat rows 6-8)
            iv = F.when(src.rlike(full_match(r"\d+")), src.try_cast("long"))
            ts = (
                F.when(iv < 100_000_000_000, F.timestamp_seconds(iv))
                .when(iv < 100_000_000_000_000, F.timestamp_millis(iv))
                .otherwise(F.timestamp_micros(iv))
            )
        elif self.source_format == "epoch_milli":
            ts = F.timestamp_millis(
                F.when(src.rlike(full_match(r"\d{1,14}")), src.try_cast("long"))
            )
        else:
            # try_: a malformed value fails the LINE (strptime error path),
            # never the job (ANSI CANNOT_PARSE_TIMESTAMP)
            ts = F.try_to_timestamp(src, F.lit(self.source_format))
        if self.timezone:
            ts = F.to_utc_timestamp(ts, self.timezone)
        success = src.isNotNull() & ts.isNotNull()
        out = df.withColumn(self.out_col, ts)
        new_map = F.expr("map()")
        if self.precise_timestamp_key:
            micros = F.unix_micros(ts)
            scale = {"ms": 1000, "us": 1, "ns": 1}[self.precise_timestamp_unit]
            val = (micros / scale).cast("long")
            if self.precise_timestamp_unit == "ns":
                val = (micros * 1000).cast("long")
            new_map = F.create_map(
                F.lit(self.precise_timestamp_key), val.cast("string")
            )
        out = self.options.finalize(out, success, new_map, src)
        if self.history_discard_hours is not None:
            cutoff = F.expr(
                f"max({self.out_col}) over () - interval {int(self.history_discard_hours * 3600)} seconds"
            )
            out = out.filter(F.col(self.out_col) >= cutoff)
        return out


_GROK_REF = re.compile(r"%\{(\w+)(?::([\w\[\]\.@-]+))?(?::(int|float))?\}")


DUP_SUFFIX = "__dup"


def expand_grok(
    pattern: str,
    custom: dict[str, str] | None = None,
    _depth: int = 0,
    _used: set[str] | None = None,
) -> str:
    """Expand %{SYNTAX:SEMANTIC} grok references into a plain named-group regex
    (plan-time, pure python — the executor only ever sees the expanded regex).
    Mirrors processor_grok.go:241-320 compilation.

    Oniguruma allows the SAME semantic name in several alternation branches
    (e.g. HTTPD_ERRORLOG = HTTPD20|HTTPD24, both capturing ``timestamp``);
    python/Java named groups don't, so repeats get a ``__dupN`` suffix —
    GrokParser coalesces them back to the base name (first non-empty branch
    wins, which is exactly the only-one-branch-matches semantics)."""
    if _depth > 20:
        raise ValueError("grok pattern recursion too deep")
    lib = dict(DEFAULT_PATTERNS)
    if custom:
        lib.update(custom)
    used = _used if _used is not None else set()

    def sub(m: re.Match) -> str:
        name, semantic = m.group(1), m.group(2)
        if name not in lib:
            raise KeyError(f"unknown grok pattern %{{{name}}}")
        inner = expand_grok(lib[name], custom, _depth + 1, used)
        if semantic:
            safe = re.sub(r"\W", "_", semantic)
            if safe in used:
                i = 2
                while f"{safe}{DUP_SUFFIX}{i}" in used:
                    i += 1
                safe = f"{safe}{DUP_SUFFIX}{i}"
            used.add(safe)
            return f"(?P<{safe}>{inner})"
        return f"(?:{inner})"

    return _GROK_REF.sub(sub, pattern)


@dataclass
class GrokParser(Operator):
    """Grok parse: Match[] patterns tried in order, first with captures wins
    (processor_grok.go:147-192) — implemented as a coalesce over expanded
    regexes; named captures become fields."""

    match: Sequence[str]
    options: ParserOptions = field(default_factory=ParserOptions)
    custom_patterns: dict[str, str] | None = None
    custom_pattern_dirs: Sequence[str] = ()
    ignore_parse_failure: bool = True

    def apply(self, df: DataFrame) -> DataFrame:
        src = _src(self.options)
        # pattern precedence: defaults < CustomPatternDir files <
        # CustomPatterns (processor_grok.go Init, lines 67-81)
        custom: dict[str, str] = {}
        for d in self.custom_pattern_dirs:
            custom.update(load_pattern_dir(d))
        if self.custom_patterns:
            custom.update(self.custom_patterns)
        expanded: list[tuple[str, dict[str, int]]] = []
        for pat in self.match:
            rx = expand_grok(pat, custom)
            # name → group NUMBER from the python-compiled regex; group
            # numbering is identical once names are stripped (Java named
            # groups reject underscores, so the JVM side uses anonymous
            # groups + positional $n references)
            groups = dict(re.compile(rx).groupindex)
            anon = re.sub(r"\(\?P<\w+>", "(", rx)
            expanded.append((anon, groups))

        success = F.lit(False)
        new_map = F.expr("map()")
        sep = "\x01"
        for rx, groups in reversed(expanded):
            jrx = full_match(rx)
            ok = src.isNotNull() & src.rlike(jrx)
            # single matcher pass per pattern (same trick as RegexParser):
            # emit all semantic groups joined by \x01, then split
            names = list(groups.keys())
            repl = sep.join(f"${groups[nm]}" for nm in names)
            arr = F.split(F.regexp_replace(src, jrx, repl), sep, -1)
            def _builder(ns):
                # factory: a two-arg lambda (a, ns=names) would make
                # F.transform pass (element, INDEX) and clobber the default
                def build(a: Column) -> Column:
                    by_base: dict[str, list[Column]] = {}
                    for i, nm in enumerate(ns):
                        # strip only the generated __dupN suffix — a semantic
                        # name merely containing "__dup" (e.g. a__dupe) is NOT
                        # a rename and must stay distinct
                        base = re.sub(rf"{DUP_SUFFIX}\d+$", "", nm)
                        by_base.setdefault(base, []).append(F.element_at(a, i + 1))
                    pairs = {}
                    for base, vs in by_base.items():
                        if len(vs) == 1:
                            pairs[base] = vs[0]
                        else:
                            # __dupN alternation branches: first non-empty wins
                            pairs[base] = F.coalesce(
                                *[F.nullif(v, F.lit("")) for v in vs], F.lit("")
                            )
                    return parsed_map(pairs)

                return build

            pairs_map = flet(arr, _builder(names))
            new_map = F.when(ok, pairs_map).otherwise(new_map)
            success = success | ok

        opts = self.options
        if self.ignore_parse_failure:
            # grok keeps the event (and the source) untouched on failure
            opts = ParserOptions(
                source_key=opts.source_key,
                keep_fail=True,
                keep_succeed=opts.keep_succeed,
                renamed_source_key=opts.renamed_source_key,
                coping_raw_log=False,
            )
        return opts.finalize(df, success, new_map, src)


@dataclass
class ApsaraParser(Operator):
    """processor_parse_apsara_native
    (core/plugin/processor/ProcessorParseApsaraNative.cpp:37-479): parse the
    Alibaba Apsara log line — leading ``[yyyy-MM-dd HH:mm:ss.ffffff]`` µs
    timestamp (line 137 cached strptime), bracketed base fields
    level/thread/file:line (ParseApsaraBaseFields:434-465), then
    tab-separated ``key:value`` pairs (lines 203-225).

    Output fields: ``microtime`` (epoch µs as string), ``__LEVEL__``,
    ``__THREAD__``, ``__FILE__``, ``__LINE__`` plus the k:v pairs; event time
    goes to ``event_time`` (µs precision)."""

    options: ParserOptions = field(default_factory=ParserOptions)
    out_time_col: str = "event_time"

    # Bracketed base-field form: [ts]\t[LEVEL]\t[thread], then an OPTIONAL
    # bracketed [file:line]; anything after goes to the \t-separated k:v
    # tail. When file:line is NOT bracketed, it falls through to the tail and
    # becomes an ordinary k:v pair — exactly the reference golden
    # ('/ilogtail/AppConfigBase.cpp': '1', ProcessorParseApsaraNativeUnittest
    # lines 455-475). The reference's fully-heuristic unordered base-field
    # classification (ParseApsaraBaseFields:434-465 IsFieldLevel/Thread/
    # FileLine bitmap) is a superset we document as out of scope.
    # fraction bounded to 6 digits (the strptime %f field width): a longer
    # run is a parse FAILURE for the line, and an unbounded group would feed
    # to_timestamp text it throws on (ANSI job abort) instead
    _RX = (
        r"\[(\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}(?:\.\d{1,6})?)\]\t"
        r"\[(\w+)\]\t\[(\d+)\](?:\t\[([^:\]]+):(\d+)\])?(?:\t(.*))?"
    )
    # flexible fraction: .1 → 100000 µs (golden microtime 1693833350100000)
    _TS_FMT = "yyyy-MM-dd HH:mm:ss[.SSSSSS][.SSSSS][.SSSS][.SSS][.SS][.S]"

    def apply(self, df: DataFrame) -> DataFrame:
        src = _src(self.options)
        rx = full_match(self._RX)
        ts_str = F.regexp_extract(src, rx, 1)
        # try_: an in-grammar but invalid date (month 13, Feb 30) fails the
        # line like the reference's strptime error, not the job
        ts = F.try_to_timestamp(ts_str, F.lit(self._TS_FMT))
        success = src.isNotNull() & src.rlike(rx) & ts.isNotNull()

        # single matcher pass emitting all 6 groups, LET-BOUND (six
        # regexp_extract calls would run the regex six times per row)
        sep = "\x01"
        repl = sep.join(f"${i + 1}" for i in range(6))
        arr = F.split(F.regexp_replace(src, rx, repl), sep, -1)

        def build_map(a: Column) -> Column:
            rest = F.element_at(a, 6)
            # tab-separated k:v tail → map (first ':' splits key from value;
            # empty segments from double tabs carry no ':' and are skipped)
            kv_pairs = F.filter(
                F.split(rest, "\t", -1), lambda p: F.instr(p, ":") > 0
            )
            kv = flet(
                kv_pairs,
                lambda kp: F.map_from_arrays(
                    F.transform(kp, lambda p: F.substring_index(p, ":", 1)),
                    F.transform(
                        kp, lambda p: p.substr(F.instr(p, ":") + 1, F.length(p))
                    ),
                ),
            )
            base = parsed_map(
                {
                    "microtime": F.unix_micros(
                        F.try_to_timestamp(F.element_at(a, 1), F.lit(self._TS_FMT))
                    ).cast("string"),
                    "__LEVEL__": F.element_at(a, 2),
                    "__THREAD__": F.element_at(a, 3),
                    "__FILE__": F.element_at(a, 4),
                    "__LINE__": F.element_at(a, 5),
                }
            )
            # absent optional [file:line] → groups 4/5 extract "" → drop them
            base = F.map_filter(base, lambda k, v: v != "")
            return F.map_concat(base, F.coalesce(kv, F.expr("map()")))

        out = df.withColumn(self.out_time_col, F.when(success, ts))
        return self.options.finalize(out, success, flet(arr, build_map), src)


@dataclass
class CsvParser(Operator):
    """processor_csv (plugins/processor/csv/processor_csv.go:30-141):
    RFC-4180-ish CSV decode of fields[source_key] via ``from_csv`` (quote
    support, TrimLeadingSpace); extra columns either re-joined (quoted) into
    ``_decode_preserve_`` (PreserveOthers) or expanded as
    ``{expand_prefix}{i}`` keys (ExpandOthers)."""

    split_keys: Sequence[str]
    options: ParserOptions = field(default_factory=ParserOptions)
    split_sep: str = ","
    quote: str = '"'
    trim_leading_space: bool = False
    preserve_others: bool = False
    expand_others: bool = False
    expand_prefix: str = "expand_"
    max_expand_cols: int = 8

    def apply(self, df: DataFrame) -> DataFrame:
        src = _src(self.options)
        n = len(self.split_keys)
        total = n + self.max_expand_cols
        schema = ", ".join(f"`_c{i}` string" for i in range(total))
        # escape = quote → RFC4180 doubled-quote escaping, the Go-csv rule
        # (Spark's default escape is backslash, which Go csv treats literally)
        opts = {"sep": self.split_sep, "quote": self.quote, "escape": self.quote}
        if self.trim_leading_space:
            opts["ignoreLeadingWhiteSpace"] = "true"
        parsed = F.from_csv(src, F.lit(schema), opts)
        # coalesce to "": from_csv null-pads BOTH empty fields and missing
        # trailing columns; presence is decided by `nfields` below instead
        arr = F.array(
            *[F.coalesce(parsed.getField(f"_c{i}"), F.lit("")) for i in range(total)]
        )

        # Go-csv failure = malformed quoting (ErrBareQuote / ErrQuote,
        # processor_csv.go:72-80: err != io.EOF → return false, source kept).
        # Encode the grammar as a full-line regex: every field either fully
        # quoted (doubled-quote escapes) or quote-free.
        q, s = re.escape(self.quote), re.escape(self.split_sep)
        lead = r"[ \t]*" if self.trim_leading_space else ""
        quoted_rx = f"{q}[^{q}]*(?:{q}{q}[^{q}]*)*{q}"
        fld = f"(?:{lead}{quoted_rx}|[^{q}{s}]*)"
        success = src.isNotNull() & src.rlike(full_match(f"{fld}(?:{s}{fld})*"))

        # true decoded field count = 1 + separators outside quoted fields
        # (empty input still decodes to one empty field, processor_csv.go:81-85)
        stripped = F.regexp_replace(src, quoted_rx, "")
        nfields = F.when(
            success,
            (
                (
                    F.length(stripped)
                    - F.length(F.replace(stripped, F.lit(self.split_sep), F.lit("")))
                )
                / len(self.split_sep)
                + 1
            ).cast("int"),
        )

        def build_map(s: Column) -> Column:
            """Parsed-map construction over the LET-BOUND (arr, nfields)
            struct — unbound references would re-inline from_csv / the
            field-count regexes per key."""
            a, nf = s.getField("arr"), s.getField("nf")
            pairs = {
                k: F.when(F.lit(i) < nf, F.element_at(a, i + 1))
                for i, k in enumerate(self.split_keys)
            }
            new_map = F.map_filter(parsed_map(pairs), lambda k, v: v.isNotNull())
            if self.expand_others:
                extra = {
                    f"{self.expand_prefix}{j}": F.when(
                        nf >= n + j, F.element_at(a, n + j)
                    )
                    for j in range(1, self.max_expand_cols + 1)
                }
                new_map = F.map_concat(
                    new_map, F.map_filter(parsed_map(extra), lambda k, v: v.isNotNull())
                )
            elif self.preserve_others:
                # quoted-rejoin of the extra columns (quoteString, processor_csv.go:118-131)
                qc = self.quote
                rejoined = F.array_join(
                    F.transform(
                        F.slice(a, n + 1, F.greatest(nf - n, F.lit(0))),
                        lambda x: F.when(
                            x.contains(self.split_sep) | x.contains(qc),
                            F.concat(
                                F.lit(qc), F.replace(x, F.lit(qc), F.lit(qc + qc)), F.lit(qc)
                            ),
                        ).otherwise(x),
                    ),
                    self.split_sep,
                )
                new_map = F.map_concat(
                    new_map,
                    F.when(
                        nf > n, F.create_map(F.lit("_decode_preserve_"), rejoined)
                    ).otherwise(F.expr("map()")),
                )
            return new_map

        new_map = flet(
            F.struct(arr.alias("arr"), nfields.alias("nf")), build_map
        )
        # Go plugins have no CommonParserOptions erase path: a decode failure
        # always KEEPS the source key and never drops the event
        # (shouldKeepSrc, processor_csv.go:132-134); KeepSource only governs
        # the success side.
        opts = dataclasses.replace(self.options, keep_fail=True, coping_raw_log=False)
        return opts.finalize(df, success, new_map, src)


def _flatten_json_level(m: Column, connector: str) -> Column:
    """One flattening step: entries whose value is a JSON object get replaced
    by their children with ``parent{connector}child`` keys; others pass
    through. Pure higher-order expressions (codegen-able)."""
    entries = F.map_entries(m)

    def expand(e: Column) -> Column:
        v = e.getField("value")
        child = F.from_json(v, "map<string,string>")
        is_obj = v.startswith("{") & child.isNotNull()
        children = F.transform(
            F.map_entries(F.coalesce(child, F.expr("map()"))),
            lambda c: F.struct(
                F.concat(e.getField("key"), F.lit(connector), c.getField("key")).alias("key"),
                F.coalesce(c.getField("value"), F.lit("")).alias("value"),
            ),
        )
        return F.when(is_obj, children).otherwise(F.array(e))

    return F.map_from_entries(F.flatten(F.transform(entries, expand)))


@dataclass
class JsonExpand(Operator):
    """processor_json (plugins/processor/json/processor_json.go:29-286):
    recursive JSON expansion of fields[source_key] — flatten nested objects to
    ``expand_depth`` levels, joining the key path with ``expand_connector``;
    optional ``prefix``/``use_source_key_as_prefix``. Arrays and scalars
    stringify per the one-level JSON parser.

    Depth-N flatten = N composed map transforms (expand_depth=0 → the static
    bound ``max_depth``), all JVM-side."""

    options: ParserOptions = field(default_factory=ParserOptions)
    expand_depth: int = 0  # 0 = unlimited (bounded by max_depth)
    expand_connector: str = "_"
    prefix: str = ""
    use_source_key_as_prefix: bool = False
    max_depth: int = 5

    def apply(self, df: DataFrame) -> DataFrame:
        src = _src(self.options)
        m = F.from_json(src, "map<string,string>")
        success = src.isNotNull() & m.isNotNull()
        flat = F.transform_values(
            F.coalesce(m, F.expr("map()")), lambda k, v: F.coalesce(v, F.lit(""))
        )
        depth = self.expand_depth if self.expand_depth > 0 else self.max_depth
        for _ in range(depth - 1):
            flat = _flatten_json_level(flat, self.expand_connector)
        key_prefix = self.prefix + (
            (self.options.source_key + self.expand_connector)
            if self.use_source_key_as_prefix
            else ""
        )
        if key_prefix:
            flat = F.map_from_entries(
                F.transform(
                    F.map_entries(flat),
                    lambda e: F.struct(
                        F.concat(F.lit(key_prefix), e.getField("key")).alias("key"),
                        e.getField("value").alias("value"),
                    ),
                )
            )
        return self.options.finalize(df, success, flat, src)


@dataclass
class ContainerLogParser(Operator):
    """processor_parse_container_log_native
    (core/plugin/processor/inner/ProcessorParseContainerLogNative.cpp:45-541):
    containerd text ``TIME STREAM P|F CONTENT`` → ``_time_``, ``_source_``,
    ``_part_`` flag + content (lines 176-230), or docker JSON-file
    ``{"log":…,"time":…,"stream":…}`` (lines 37-43). ``ignoring_stdout`` /
    ``ignoring_stderr`` filter by stream."""

    mode: str = "containerd"  # 'containerd' | 'docker-json'
    options: ParserOptions = field(default_factory=ParserOptions)
    ignoring_stdout: bool = False
    ignoring_stderr: bool = False

    _RX = r"(\S+) (stdout|stderr) ([PF]) (.*)"
    _RX_NOFLAG = r"(\S+) (stdout|stderr) (.*)"

    def apply(self, df: DataFrame) -> DataFrame:
        src = _src(self.options)
        if self.mode == "containerd":
            # flag part is OPTIONAL: "time stream P content" carries the
            # partial flag; "time stream rest" (no ' P '/' F ' delimiter)
            # means rest IS the content and the line is full — e.g.
            # '... stdout P' (no trailing space) parses as content "P"
            # (ProcessorParseContainerLogNativeUnittest TestContainerdLog).
            # A line without the space after stream fails.
            rx_basic = full_match(self._RX_NOFLAG)
            success = src.isNotNull() & src.rlike(rx_basic)
            # single matcher pass (time, stream, rest), let-bound; the flag
            # variant is recovered from `rest` ("P content"/"F content")
            sep = "\x01"
            arr = F.split(F.regexp_replace(src, rx_basic, f"$1{sep}$2{sep}$3"), sep, -1)

            def build_map(a: Column) -> Column:
                rest = F.element_at(a, 3)
                has_flag = rest.rlike("^[PF] ")
                return parsed_map(
                    {
                        "_time_": F.element_at(a, 1),
                        "_source_": F.element_at(a, 2),
                        "_part_": F.when(has_flag, rest.substr(1, 1)).otherwise(
                            F.lit("F")
                        ),
                        self.options.source_key: F.when(
                            has_flag, rest.substr(F.lit(3), F.length(rest))
                        ).otherwise(rest),
                    }
                )

            new_map = flet(arr, build_map)
        elif self.mode == "docker-json":
            m = F.from_json(src, "struct<log:string,time:string,stream:string>")
            success = src.isNotNull() & m.isNotNull() & m.getField("log").isNotNull()
            new_map = flet(
                m,
                lambda mm: parsed_map(
                    {
                        "_time_": mm.getField("time"),
                        "_source_": mm.getField("stream"),
                        # docker appends '\n' to complete lines; strip it (line 43)
                        self.options.source_key: F.regexp_replace(
                            mm.getField("log"), r"\n$", ""
                        ),
                    }
                ),
            )
        else:
            raise ValueError(f"unknown mode {self.mode}")

        out = self.options.finalize(df, success, new_map, src)
        if self.ignoring_stdout:
            out = out.filter(F.element_at(F.col(FIELDS), F.lit("_source_")) != "stdout")
        if self.ignoring_stderr:
            out = out.filter(F.element_at(F.col(FIELDS), F.lit("_source_")) != "stderr")
        return out
