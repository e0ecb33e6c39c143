"""Quote grammars of the delimiter and key/value processors, checked against
character-by-character state machines of the reference's parsers
(ProcessorParseDelimiterNative.cpp:254-319, key_value_splitter.go:95-180).
The operators run them as java.util.regex; these properties pin the two to
the same answers, on random lines and on one very long quoted field."""

import pyspark.sql.functions as F
from hypothesis import given, settings
from hypothesis import strategies as st

from loongcollector_spark.operators.base import FIELDS, to_events
from loongcollector_spark.operators.parse import DelimiterParser
from loongcollector_spark.operators.transforms import KeyValueSplitter


def split_quoted_strict(line: str, sep: str, quote: str):
    """The delimiter parser's strict FSM: a field is either fully quoted
    (a doubled quote escapes; the closing quote must be followed by the
    separator or end-of-line) or holds no quote char. Any other quote
    placement fails the whole parse (None)."""
    fields = []
    i, n = 0, len(line)
    while True:
        if i < n and line[i] == quote:
            i += 1
            buf = []
            while True:
                if i >= n:
                    return None  # unterminated quote
                c = line[i]
                if c == quote:
                    if i + 1 < n and line[i + 1] == quote:
                        buf.append(quote)
                        i += 2
                    else:
                        i += 1
                        break
                else:
                    buf.append(c)
                    i += 1
            if i < n:
                if line.startswith(sep, i):
                    fields.append("".join(buf))
                    i += len(sep)
                    continue
                return None  # garbage after closing quote
            fields.append("".join(buf))
            return fields
        j = line.find(sep, i)
        seg = line[i:] if j < 0 else line[i:j]
        if quote in seg:
            return None  # stray quote in unquoted field
        fields.append(seg)
        if j < 0:
            return fields
        i = j + len(sep)


def split_kv_quoted(s: str, delim: str, q: str) -> list[str]:
    """The key/value splitter's FSM: split on delim outside quotes; a quote
    opens anywhere, a doubled quote inside escapes one, an unclosed quote
    runs to the end."""
    parts, buf, i, in_q = [], [], 0, False
    while i < len(s):
        c = s[i]
        if in_q:
            if c == q:
                if i + 1 < len(s) and s[i + 1] == q:
                    buf.append(q)
                    i += 1
                else:
                    in_q = False
            else:
                buf.append(c)
        elif c == q:
            in_q = True
        elif s.startswith(delim, i):
            parts.append("".join(buf))
            buf = []
            i += len(delim) - 1
        else:
            buf.append(c)
        i += 1
    parts.append("".join(buf))
    return parts


def kv_reference(s: str, delim: str, sep: str, q: str) -> dict:
    """Fields after the key/value split (anomaly keys count occurrences)."""
    out, empty_i, nosep_i = {}, 0, 0
    for pair in split_kv_quoted(s, delim, q):
        p = pair.find(sep)
        if p < 0:
            out[f"no_separator_key_{nosep_i}"] = pair
            nosep_i += 1
            continue
        key, val = pair[:p], pair[p + len(sep):]
        if key == "":
            key = f"empty_key_{empty_i}"
            empty_i += 1
        out[key] = val
    return out


def _lines(tokens):
    return st.lists(st.lists(st.sampled_from(tokens), max_size=16).map("".join), min_size=1,
                    max_size=40)


def _delimiter_rows(spark, lines):
    """(ok, fields) per line from DelimiterParser(',', quote="'")."""
    df = spark.createDataFrame(list(enumerate(lines)), ["i", "s"])
    ok, m = DelimiterParser(",", [], quote="'").parse(F.col("s"))
    rows = df.select("i", ok.alias("ok"), F.when(ok, m).alias("m")).collect()
    out = {}
    for r in rows:
        m = r["m"] or {}
        out[r["i"]] = [m[f"__column{k}__"] for k in range(len(m))] if r["ok"] else None
    return out


def _kv_rows(spark, lines):
    ev = to_events(spark.createDataFrame(list(enumerate(lines)), ["i", "content"]))
    out = KeyValueSplitter(delimiter="\t", separator=":", quote='"').apply(ev)
    return {r["i"]: dict(r[FIELDS]) for r in out.collect()}


@given(_lines(["a", "b", ",", "'", "''", "\n"]))
@settings(max_examples=25, deadline=None)
def test_delimiter_strict_split_matches_fsm(spark, lines):
    got = _delimiter_rows(spark, lines)
    for i, line in enumerate(lines):
        assert got[i] == split_quoted_strict(line, ",", "'"), repr(line)


@given(_lines(["a", "b", ":", "\t", '"', '""', "\n"]))
@settings(max_examples=25, deadline=None)
def test_kv_quoted_split_matches_fsm(spark, lines):
    got = _kv_rows(spark, lines)
    for i, line in enumerate(lines):
        assert got[i] == kv_reference(line, "\t", ":", '"'), repr(line)


def test_long_quoted_fields(spark):
    """A 200k-char quoted field parses without a regex stack overflow."""
    body = "x''y," * 40_000
    lines = [f"a,'{body}',b", f"'{body}", f"k:\"{body}\"\tz:1"]
    got = _delimiter_rows(spark, lines[:2])
    assert got[0] == split_quoted_strict(lines[0], ",", "'")
    assert got[1] is None
    assert _kv_rows(spark, [lines[2]])[0] == kv_reference(lines[2], "\t", ":", '"')
