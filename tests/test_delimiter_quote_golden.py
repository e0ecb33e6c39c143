"""TestProcessDoubleQuote golden ported verbatim
(ProcessorParseDelimiterNativeUnittest): the strict quote FSM — malformed
quoting fails the parse (rawLog kept), well-formed doubled quotes unescape."""

from loongcollector_spark.operators.base import FIELDS, to_events
from loongcollector_spark.operators.common import ParserOptions
from loongcollector_spark.operators.parse import DelimiterParser

KEYS = ["time", "method", "url", "request_time"]
OPTS = dict(keep_fail=True, renamed_source_key="rawLog")

# (input, expected-fields) straight from the reference golden
CASES = [
    (
        "2013-10-31 21:03:49,POST,''PutData?Category=YunOsAccountOpLog,0.024",
        None,  # fail → rawLog
    ),
    (
        "2013-10-31 21:03:49,POST,PutData?Category=YunOs''AccountOpLog,0.024",
        None,
    ),
    (
        "2013-10-31 21:03:49,POST,PutData?Category=YunOsAccountOpLog'',0.024",
        None,
    ),
    (
        "2013-10-31 21:03:49,POST,''PutData?Category=YunOsAccountOpLog',0.024",
        None,
    ),
    (
        "2013-10-31 21:03:49,POST,'PutData?Category=Yun'Os'AccountOpLog',0.024",
        None,
    ),
    (
        "2013-10-31 21:03:49,POST,'PutData?Category=YunOs''AccountOpLog',0.024",
        {
            "time": "2013-10-31 21:03:49",
            "method": "POST",
            "url": "PutData?Category=YunOs'AccountOpLog",
            "request_time": "0.024",
        },
    ),
    (
        "2013-10-31 21:03:49,POST,'PutData?Category=YunOsAccountOpLog'',0.024",
        None,
    ),
    (
        "2013-10-31 21:03:49,POST,'''PutData?Category=YunOs''AccountOpLog''',0.024",
        {
            "time": "2013-10-31 21:03:49",
            "method": "POST",
            "url": "'PutData?Category=YunOs'AccountOpLog'",
            "request_time": "0.024",
        },
    ),
]


def test_double_quote_reference_golden(spark):
    df = to_events(
        spark.createDataFrame(
            [(i, c) for i, (c, _) in enumerate(CASES)], ["i", "content"]
        )
    )
    out = DelimiterParser(",", KEYS, ParserOptions(**OPTS), quote="'").apply(df)
    got = {r["i"]: dict(r[FIELDS]) for r in out.collect()}
    for i, (line, expect) in enumerate(CASES):
        if expect is None:
            assert got[i] == {"rawLog": line}, (i, got[i])
        else:
            assert got[i] == expect, (i, got[i])


def test_strict_quote_discard_unmatch(spark):
    df = to_events(
        spark.createDataFrame([(0, "a,'bad'x,c"), (1, "a,b,c,d")], ["i", "content"])
    )
    out = DelimiterParser(",", KEYS, quote="'").apply(df)
    got = {r["i"]: dict(r[FIELDS]) for r in out.collect()}
    assert set(got) == {1}
    assert got[1]["time"] == "a"


def test_key_overwritten_reference_golden(spark):
    """TestProcessKeyOverwritten: parsed keys win over the keep-succeed
    re-added source (renamed rawLog) and over the legacy __raw_log__ copy;
    failed rows keep both raw copies."""
    opts = ParserOptions(
        keep_fail=True, keep_succeed=True, coping_raw_log=True,
        renamed_source_key="rawLog",
    )
    keys = ["time", "rawLog", "content", "__raw_log__"]
    lines = [
        "2013-10-31 21:03:49,POST,'PutData?Category=YunOsAccountOpLog',0.024",
        "value1",
    ]
    df = to_events(
        spark.createDataFrame([(i, c) for i, c in enumerate(lines)], ["i", "content"])
    )
    out = DelimiterParser(",", keys, opts, quote="'").apply(df)
    got = {r["i"]: dict(r[FIELDS]) for r in out.collect()}
    assert got[0] == {
        "time": "2013-10-31 21:03:49",
        "rawLog": "POST",
        "content": "PutData?Category=YunOsAccountOpLog",
        "__raw_log__": "0.024",
    }
    assert got[1] == {"rawLog": "value1", "__raw_log__": "value1"}


def test_upload_raw_log_reference_golden(spark):
    """TestUploadRawLog: on success keep_succeed re-adds the raw line under
    rawLog and __raw_log__ is NOT added (CopingRawLog is failure-only); on
    failure both copies appear."""
    opts = ParserOptions(
        keep_fail=True, keep_succeed=True, coping_raw_log=True,
        renamed_source_key="rawLog",
    )
    line = "2013-10-31 21:03:49,POST,'PutData?Category=YunOsAccountOpLog',0.024"
    df = to_events(
        spark.createDataFrame([(0, line), (1, "value1")], ["i", "content"])
    )
    out = DelimiterParser(",", KEYS, opts, quote="'").apply(df)
    got = {r["i"]: dict(r[FIELDS]) for r in out.collect()}
    assert got[0] == {
        "time": "2013-10-31 21:03:49",
        "method": "POST",
        "url": "PutData?Category=YunOsAccountOpLog",
        "request_time": "0.024",
        "rawLog": line,
    }
    assert got[1] == {"rawLog": "value1", "__raw_log__": "value1"}
