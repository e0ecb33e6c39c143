"""Golden keep/discard-unmatch cases ported from the reference's
ProcessorParseRegexNativeUnittest (core/unittest/processor/
ProcessorParseRegexNativeUnittest.cpp: TestProcessRegex,
TestProcessEventKeepUnmatch, TestProcessEventDiscardUnmatch)."""

import pyspark.sql.functions as F

from loongcollector_spark.operators.base import FIELDS, to_events
from loongcollector_spark.operators.common import RAW_LOG_KEY, ParserOptions
from loongcollector_spark.operators.parse import RegexParser

RX = r"(\w+)\t(\w+)"
KEYS = ["key1", "key2"]


def _events(spark, contents):
    df = spark.createDataFrame([(i, c) for i, c in enumerate(contents)], ["i", "content"])
    return to_events(df)


def _fields(df):
    return {r["i"]: r[FIELDS] for r in df.collect()}


def test_parse_success_default(spark):
    out = RegexParser(RX, KEYS).apply(_events(spark, ["value1\tvalue2"]))
    assert _fields(out)[0] == {"key1": "value1", "key2": "value2"}


def test_keep_source_renamed(spark):
    # TestProcessRegex golden: {"key1":"value1","key2":"value2","rawLog":"value1\tvalue2"}
    opts = ParserOptions(keep_succeed=True, keep_fail=True, renamed_source_key="rawLog")
    out = RegexParser(RX, KEYS, opts).apply(_events(spark, ["value1\tvalue2"]))
    assert _fields(out)[0] == {
        "key1": "value1",
        "key2": "value2",
        "rawLog": "value1\tvalue2",
    }


def test_discard_unmatch_drops_event(spark):
    out = RegexParser(RX, KEYS).apply(_events(spark, ["value1\tvalue2", "no-match-here"]))
    f = _fields(out)
    assert set(f.keys()) == {0}


def test_keep_unmatch(spark):
    opts = ParserOptions(keep_fail=True)
    out = RegexParser(RX, KEYS, opts).apply(_events(spark, ["nomatch"]))
    assert _fields(out)[0] == {"content": "nomatch"}


def test_keep_unmatch_coping_raw_log(spark):
    opts = ParserOptions(keep_fail=True, coping_raw_log=True, renamed_source_key="rawLog")
    out = RegexParser(RX, KEYS, opts).apply(_events(spark, ["nomatch"]))
    assert _fields(out)[0] == {"rawLog": "nomatch", RAW_LOG_KEY: "nomatch"}


def test_parsed_keys_never_overwrite_existing(spark):
    # AddLog semantics (ProcessorParseRegexNative.cpp:176-184)
    df = spark.createDataFrame([(0, "value1\tvalue2")], ["i", "content"]).select(
        "i",
        F.map_concat(
            F.create_map(F.lit("content"), F.col("content")),
            F.create_map(F.lit("key1"), F.lit("preexisting")),
        ).alias(FIELDS),
    )
    out = RegexParser(RX, KEYS).apply(df)
    assert _fields(out)[0] == {"key1": "preexisting", "key2": "value2"}


def test_whole_line_fast_path(spark):
    out = RegexParser("(.*)", ["all"]).apply(_events(spark, ["anything at all"]))
    assert _fields(out)[0] == {"all": "anything at all"}


def test_failed_event_with_other_fields_not_dropped(spark):
    # ShouldEraseEvent: only dropped when nothing else remains
    df = spark.createDataFrame([(0, "nomatch")], ["i", "content"]).select(
        "i",
        F.map_concat(
            F.create_map(F.lit("content"), F.col("content")),
            F.create_map(F.lit("other"), F.lit("x")),
        ).alias(FIELDS),
    )
    out = RegexParser(RX, KEYS).apply(df)
    assert _fields(out)[0] == {"other": "x"}


def test_partial_match_mode(spark):
    """Go processor_regex defaults to FullMatch=false (regex.go:134): the
    pattern may match a substring of the source."""
    out = RegexParser(r"id=(\d+)", ["id"], full_match=False).apply(
        _events(spark, ["prefix id=42 suffix", "no match here"])
    )
    f = _fields(out)
    assert f[0] == {"id": "42"}
    assert 1 not in f  # discard-unmatch default still applies


def test_full_match_rejects_trailing_newline(spark):
    """Java's ``$`` also matches before a final newline; the full match ends
    at ``\\z``, as boost::regex_match does, so "abc\\n" fails the parse."""
    out = RegexParser(r"(\w+)", ["w"], ParserOptions(keep_fail=True)).apply(
        _events(spark, ["abc", "abc\n"])
    )
    assert _fields(out) == {0: {"w": "abc"}, 1: {"content": "abc\n"}}


def test_group_holding_the_separator_stays_whole(spark):
    """The one-pass parse joins the groups with ``\\x01`` and splits them
    again; a row whose groups hold ``\\x01`` itself is extracted per group,
    so its values are not split apart."""
    out = RegexParser(r"(\S+) (\S+)", ["k1", "k2"]).apply(
        _events(spark, ["a\x01b c", "a b"])
    )
    assert _fields(out) == {0: {"k1": "a\x01b", "k2": "c"}, 1: {"k1": "a", "k2": "b"}}
