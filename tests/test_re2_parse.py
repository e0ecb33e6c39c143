"""The flagship's nginx parse inside the Arrow stage (RE2 via pyarrow.compute)
against the JVM's ``RegexParser`` (java.util.regex) and the DuckDB oracle
(RE2): the pattern translation ``parse.re2_pattern``, a Hypothesis parity
test over mutated nginx lines, and the decode of tokens that are no Unicode
scalar value."""

import duckdb
import pyarrow as pa
import pyspark.sql.functions as F
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from loongcollector_spark import flagship, oracles
from loongcollector_spark.operators.parse import RegexParser, re2_pattern
from loongcollector_spark.tokens import (
    REGEX_GROUPS,
    REGEX_OK,
    decode_list_array,
    decode_tokens,
    decode_tokens_arrow,
)

LINE = '10.0.0.1 - user [10/Oct/2023:13:55:36 +0000] "GET /a HTTP/1.1" 200 12 "-" "ua" "-"'
# Java's \S excludes \x0B, as boost's does; RE2's \S does not
VT_LINE = LINE.replace("user", "us\x0ber")


def _seq(spark, rows):
    """A sequences frame of (i, tokens, source) rows, sent as one Arrow table
    (row by row, a 10k-token array costs seconds)."""
    i, tokens, source = zip(*rows)
    return spark.createDataFrame(pa.table({
        "i": pa.array(i, pa.int32()),
        "tokens": pa.array(tokens, pa.list_(pa.int32())),
        "source": pa.array(source, pa.string()),
    }))


def _stage_and_jvm(spark, lines: list[list[int]]):
    """Per line (as tokens, all of source nginx): the Arrow stage's flag and
    groups, its flag without groups, and ``RegexParser.parse``'s flag and map
    over the JVM decode."""
    seq = _seq(spark, [(i, t, "nginx") for i, t in enumerate(lines)])
    ok, parsed = RegexParser(flagship.NGINX_REGEX, flagship.NGINX_KEYS).parse(
        decode_tokens("tokens")
    )
    jvm = seq.select("i", "tokens", "source", ok.alias("jok"), F.when(ok, parsed).alias("jmap"))
    stage = decode_tokens_arrow(
        jvm, "tokens", "content", drop_tokens=True, regex=flagship.NGINX_RE2, groups=True
    )
    rows = sorted(stage.collect(), key=lambda r: r["i"])
    flags = decode_tokens_arrow(seq, "tokens", "content", regex=flagship.NGINX_RE2)
    flag_only = [r[REGEX_OK] for r in sorted(flags.collect(), key=lambda r: r["i"])]
    return rows, flag_only


# --- the translation ----------------------------------------------------------


def test_re2_pattern_translates_the_nginx_regex():
    """The flagship's pattern is accepted; \\S spells out Java's set, which
    holds \\x0B, and the groups are named in order."""
    rx = re2_pattern(flagship.NGINX_REGEX, flagship.NGINX_KEYS)
    assert rx.startswith("^(?:(?P<remote_addr>[\\d\\.:]+) - (?P<remote_user>[^\\t\\n\\x0B\\f\\r ]+) ")
    assert rx.endswith('"(?P<http_x_forwarded_for>[^"]*)")\\z')
    assert "\\S" not in rx
    assert re2_pattern(flagship.NGINX_REGEX) == oracles.NGINX_ANCHORED


def test_re2_pattern_rewrites_dot_and_space_shorthands():
    assert re2_pattern(r"a.\s\S[\s\d]") == (
        "^(?:a[^\\n\\r\\x{85}\\x{2028}\\x{2029}][\\t\\n\\x0B\\f\\r ][^\\t\\n\\x0B\\f\\r ]"
        "[\\t\\n\\x0B\\f\\r \\d])\\z"
    )


@pytest.mark.parametrize(
    "rx, what",
    [
        (r"(a)\1", "backreference"),
        (r"(?<n>a)\k<n>", "named group"),
        (r"(?=a)a", "lookaround"),
        (r"(?!a)b", "lookaround"),
        (r"(?<=a)b", "lookaround"),
        (r"(?<!a)b", "lookaround"),
        (r"a*+", "possessive"),
        (r"a++b", "possessive"),
        (r"a{2,3}+", "possessive"),
        (r"(?>a|ab)c", "atomic"),
        (r"(?i)get", "inline flags"),
        (r"(?s:a.b)", "inline flags"),
        (r"[\S]", "negated shorthand"),
        (r"[^\D]", "negated shorthand"),
        (r"[a\W]", "negated shorthand"),
        (r"[[:alpha:]]", "POSIX"),
        (r"\p{Alpha}", "POSIX"),
        (r"\p{L}", "Unicode"),
        (r"\P{Lu}", "Unicode"),
        (r"a$", "anchor"),
        (r"\bword", "unsupported escape"),
    ],
)
def test_re2_pattern_rejects(rx, what):
    with pytest.raises(ValueError, match=what):
        re2_pattern(rx)


def test_re2_pattern_names_every_group():
    with pytest.raises(ValueError, match="2 groups for 3 names"):
        re2_pattern("(a)(b)", ["x", "y", "z"])
    with pytest.raises(ValueError, match="not an identifier"):
        re2_pattern("(a)", ["a-b"])


# --- vertical tab --------------------------------------------------------------


def test_vertical_tab_in_a_nonspace_group_is_rejected_everywhere(spark):
    """``\\x0B`` is whitespace to java.util.regex and boost, not to RE2's
    ``\\S``: the Arrow stage, ``RegexParser.parse`` and the oracle SQL must
    all reject the line, and all accept it without the \\x0B."""
    rows, flag_only = _stage_and_jvm(spark, [[ord(c) for c in line] for line in (VT_LINE, LINE)])
    assert [(r["jok"], r[REGEX_OK]) for r in rows] == [(False, False), (True, True)]
    assert flag_only == [False, True]
    sql = f"SELECT regexp_matches(line, '{oracles._RX}') FROM (VALUES (?), (?)) t(line)"
    assert duckdb.execute(sql, [VT_LINE, LINE]).fetchall() == [(False,), (True,)]


# --- tokens that are no Unicode scalar value ------------------------------------

BAD_TOKENS = [[72, 0xD800, 65], [72, 0x110000, 65], [72, -1, 65]]


def test_bad_tokens_decode_to_the_replacement_character(spark):
    """A surrogate, a value above 0x10FFFF and a negative value each decode
    to U+FFFD, in both decodes, instead of failing the batch or the job."""
    want = ["H\ufffdA"] * 3
    assert decode_list_array(pa.array(BAD_TOKENS, pa.list_(pa.int32()))).to_pylist() == want
    seq = _seq(spark, [(i, t, "x") for i, t in enumerate(BAD_TOKENS)])
    jvm = seq.select("i", decode_tokens("tokens").alias("content")).orderBy("i").collect()
    assert [r["content"] for r in jvm] == want
    arrow = decode_tokens_arrow(seq).orderBy("i").collect()
    assert [r["content"] for r in arrow] == want


def test_flagship_job_over_bad_tokens_completes(spark):
    """A bad token inside an nginx user agent, a JSON value and a CSV field:
    the job completes and every line parses."""
    def with_bad(line: str, bad: int) -> list[int]:
        return [bad if c == "@" else ord(c) for c in line]

    rows = [
        ("d0", with_bad(LINE.replace('"ua"', '"u@a"'), 0xD800), "nginx"),
        ("d1", with_bad('{"a":"x@y"}', 0x110000), "app-json"),
        ("d2", with_bad("u1\t10\t@\t42", -1), "csvlog"),
    ]
    rows = [(d, tokens, len(tokens), s) for d, tokens, s in rows]
    seq = spark.createDataFrame(rows, "doc_id string, tokens array<int>, n_tok int, source string")
    parsed = {r["source"]: r["fields"] for r in flagship.parsed_events_from(seq).collect()}
    assert parsed["nginx"]["http_user_agent"] == "u\ufffda"
    assert parsed["app-json"] == {"a": "x\ufffdy"}
    assert parsed["csvlog"]["cmethod"] == "\ufffd"
    aggs = {r["sink"]: r["events"] for r in flagship.pipeline_aggregates_from(spark, seq).collect()}
    assert aggs["sink_default"] == 3


# --- RE2 vs java.util.regex parity -----------------------------------------------

_VALID = [
    LINE,
    '192.168.1.20:8080 - - [01/Jan/2024:00:00:00 +0800] "POST /api/v1?q=1 HTTP/2.0" 404 0 "http://x/" "Mozilla/5.0 (X11; Linux)" "10.1.1.1, 10.1.1.2"',
    '::1 - admin [31/Dec/2023:23:59:59 -0500] "DELETE /x%20y HTTP/1.0" 500 123456 "" "" ""',
]
# characters the two engines could read differently: Java line terminators,
# whitespace \x0B, NUL, BOM, astral, the pattern's quotes and spaces, the
# one-pass parse's \x01 separator, non-ASCII
_SPECIAL = ["\x0b", "\r", "\n", "\x85", "\u2028", "\u2029", "\x00", "\ufeff",
            "\U0001f600", '"', " ", "\t", "\x01", "\xe9", "\f"]
# tokens that are no Unicode scalar value (decoded to U+FFFD)
_BAD = [0xD800, 0xDFFF, 0x110000, -7]


@st.composite
def _mutated_line(draw) -> list[int]:
    tokens = [ord(c) for c in draw(st.sampled_from(_VALID))]
    for _ in range(draw(st.integers(0, 3))):
        at = draw(st.integers(0, len(tokens)))
        kind = draw(st.sampled_from(["special", "replace", "long", "bad", "cut"]))
        if kind == "special":
            tokens[at:at] = [ord(draw(st.sampled_from(_SPECIAL)))]
        elif kind == "replace" and at < len(tokens):
            tokens[at] = ord(draw(st.sampled_from(_SPECIAL)))
        elif kind == "long":
            # a 10k-character field
            tokens[at:at] = [ord(draw(st.sampled_from(["a", "1", "\U0001f600", '"', " "])))] * 10_000
        elif kind == "bad":
            tokens[at:at] = [draw(st.sampled_from(_BAD))]
        else:
            tokens = tokens[:at]
    return tokens


@given(st.lists(_mutated_line(), min_size=1, max_size=20))
@settings(max_examples=25, deadline=None)
def test_re2_stage_agrees_with_java_regex(spark, lines):
    """The Arrow stage's nginx flag and groups map (and its flag without the
    map) equal ``RegexParser(NGINX_REGEX, NGINX_KEYS).parse`` on
    java.util.regex, over valid nginx lines mutated by the characters the
    engines could read differently."""
    rows, flag_only = _stage_and_jvm(spark, lines)
    assert [r["jok"] for r in rows] == [r[REGEX_OK] for r in rows] == flag_only
    for r in rows:
        assert r["jmap"] == r[REGEX_GROUPS]
        # a parsed line is not shipped back to the JVM
        assert r["content"] is None
