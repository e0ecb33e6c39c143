"""Golden cases from ProcessorParseDelimiterNativeUnittest /
ProcessorParseJsonNativeUnittest (core/unittest/processor/)."""

from loongcollector_spark.operators.base import FIELDS, to_events
from loongcollector_spark.operators.common import ParserOptions
from loongcollector_spark.operators.parse import (
    DelimiterParser,
    JsonParser,
    OverflowTreatment,
)


def _events(spark, contents):
    df = spark.createDataFrame([(i, c) for i, c in enumerate(contents)], ["i", "content"])
    return to_events(df)


def _fields(df):
    return {r["i"]: r[FIELDS] for r in df.collect()}


KEYS = ["uid", "time", "method", "value"]


def test_delimiter_exact(spark):
    out = DelimiterParser("\t", KEYS).apply(_events(spark, ["123\t2022-08-08\tbuy\t10000"]))
    assert _fields(out)[0] == {
        "uid": "123",
        "time": "2022-08-08",
        "method": "buy",
        "value": "10000",
    }


def test_delimiter_too_few_fails_by_default(spark):
    out = DelimiterParser("\t", KEYS).apply(_events(spark, ["123\t2022-08-08"]))
    assert _fields(out) == {}


def test_delimiter_allow_shortened(spark):
    out = DelimiterParser("\t", KEYS, allow_shortened=True).apply(
        _events(spark, ["123\t2022-08-08"])
    )
    assert _fields(out)[0] == {"uid": "123", "time": "2022-08-08"}


def test_delimiter_overflow_extend(spark):
    # extra columns → __column{i}__ (ProcessorParseDelimiterNative.cpp:340)
    out = DelimiterParser("\t", KEYS, overflow=OverflowTreatment.EXTEND).apply(
        _events(spark, ["1\t2\t3\t4\t5\t6"])
    )
    assert _fields(out)[0] == {
        "uid": "1",
        "time": "2",
        "method": "3",
        "value": "4",
        "__column4__": "5",
        "__column5__": "6",
    }


def test_delimiter_overflow_extend_has_no_column_bound(spark):
    # every overflow column keeps its __column{i}__ key, however many there are
    line = "\t".join(f"v{i}" for i in range(14))
    out = DelimiterParser("\t", ["a", "b"]).apply(_events(spark, [line]))
    want = {"a": "v0", "b": "v1", **{f"__column{i}__": f"v{i}" for i in range(2, 14)}}
    assert _fields(out)[0] == want


def test_delimiter_overflow_keep(spark):
    # KEEP: raw remainder (incl. leading separator) in __column{n}__
    # (TestExtend 'not Extend' golden: __column3__ = '@@2@@3')
    out = DelimiterParser("\t", KEYS, overflow=OverflowTreatment.KEEP).apply(
        _events(spark, ["1\t2\t3\t4\t5\t6"])
    )
    assert _fields(out)[0] == {
        "uid": "1", "time": "2", "method": "3", "value": "4", "__column4__": "\t5\t6"
    }


def test_delimiter_overflow_keep_reference_golden(spark):
    out = DelimiterParser("@@", ["a", "b", "c"], overflow=OverflowTreatment.KEEP).apply(
        _events(spark, ["123@@456@@1@@2@@3"])
    )
    assert _fields(out)[0] == {
        "a": "123", "b": "456", "c": "1", "__column3__": "@@2@@3"
    }


def test_delimiter_overflow_discard(spark):
    out = DelimiterParser("\t", KEYS, overflow=OverflowTreatment.DISCARD).apply(
        _events(spark, ["1\t2\t3\t4\t5\t6"])
    )
    assert _fields(out)[0] == {"uid": "1", "time": "2", "method": "3", "value": "4"}


def test_delimiter_multichar_separator(spark):
    out = DelimiterParser("||", ["a", "b"]).apply(_events(spark, ["x||y"]))
    assert _fields(out)[0] == {"a": "x", "b": "y"}


def test_delimiter_quoted(spark):
    out = DelimiterParser(",", ["a", "b"], quote='"').apply(
        _events(spark, ['"x,1",y'])
    )
    assert _fields(out)[0] == {"a": "x,1", "b": "y"}


# --- JSON --------------------------------------------------------------------


def test_json_scalar_stringification(spark):
    # number/bool/null/nested parity with RapidjsonValueToString
    # (ProcessorParseJsonNative.cpp:379-403)
    line = '{"url":"POST /PutData HTTP/1.1","status":200,"latency":0.024,"ok":true,"nil":null,"nested":{"a":1},"arr":[1,2]}'
    out = JsonParser().apply(_events(spark, [line]))
    assert _fields(out)[0] == {
        "url": "POST /PutData HTTP/1.1",
        "status": "200",
        "latency": "0.024000",  # C++ std::to_string(double)
        "ok": "true",
        "nil": "",
        "nested": '{"a":1}',
        "arr": "[1,2]",
    }


def test_json_non_object_fails(spark):
    out = JsonParser().apply(_events(spark, ["[1,2]", "42", "not json"]))
    assert _fields(out) == {}


def test_json_keep_unmatch(spark):
    opts = ParserOptions(keep_fail=True)
    out = JsonParser(opts).apply(_events(spark, ["not json"]))
    assert _fields(out)[0] == {"content": "not json"}
