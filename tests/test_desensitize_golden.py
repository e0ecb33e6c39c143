"""Golden cases ported verbatim from ProcessorDesensitizeNativeUnittest
(core/unittest/processor/ProcessorDesensitizeNativeUnittest.cpp):
config = SourceKey cast1, ContentPatternBeforeReplacedString 'pwd=',
ReplacedContentPattern '[^,]+', ReplacingAll false unless noted."""

import hashlib
import re

from loongcollector_spark.operators.base import FIELDS
from loongcollector_spark.operators.transforms import Desensitize

KW = dict(
    source_key="cast1",
    prefix_pattern="pwd=",
    content_pattern="[^,]+",
    replacing_all=False,
)


def _run(spark, op, content):
    df = spark.createDataFrame([(0, {"cast1": content})], ["i", FIELDS])
    return op.apply(df).collect()[0][FIELDS]["cast1"]


def test_const_golden(spark):
    # TestCastSensWordConst case1 (lines 314-335)
    got = _run(
        spark,
        Desensitize(method="const", replacing_string="********", **KW),
        "asf@@@324 FS2$%pwd,pwd=saf543#$@,,",
    )
    assert got == "asf@@@324 FS2$%pwd,pwd=********,,"


def test_const_golden_with_newlines(spark):
    # TestCastSensWordConst case2 (lines 361-382): leading \r\n\r\n kept
    got = _run(
        spark,
        Desensitize(method="const", replacing_string="********", **KW),
        "\r\n\r\nasf@@\n\n@324 FS2$%pwd,pwd=saf543#$@,,",
    )
    assert got == "\r\n\r\nasf@@\n\n@324 FS2$%pwd,pwd=********,,"


def test_const_golden_first_occurrence_only(spark):
    # TestCastSensWordConst case3 (lines 408-429): ReplacingAll=false →
    # second pwd= untouched
    got = _run(
        spark,
        Desensitize(method="const", replacing_string="********", **KW),
        "asf@@@324 FS2$%pwd,pwd=saf543#$@,,pwd=12341,df",
    )
    assert got == "asf@@@324 FS2$%pwd,pwd=********,,pwd=12341,df"


def test_md5_golden_uppercase(spark):
    # TestCastSensWordMD5 case1 (lines 548-580): UPPERCASE md5 hex
    expect = "asf@@@324 FS2$%pwd,pwd=91F6CFCF46787E8A02082B58F7117AFA,,"
    got = _run(spark, Desensitize(method="md5", **KW), "asf@@@324 FS2$%pwd,pwd=saf543#$@,,")
    assert got == expect
    # the same digest from a Python reference of the first-match mask
    m = re.search(r"(pwd=)(?:[^,]+)", "asf@@@324 FS2$%pwd,pwd=saf543#$@,,")
    digest = hashlib.md5(m.group(0)[len(m.group(1)):].encode()).hexdigest().upper()
    assert expect == f"asf@@@324 FS2$%pwd,pwd={digest},,"


def _python_mask(line, rx, method, const, replacing_all):
    """re.sub reference of the desensitize rule: prefix kept, content masked."""

    def repl(m):
        pre = m.group(1)
        if method == "md5":
            return pre + hashlib.md5(m.group(0)[len(pre):].encode()).hexdigest().upper()
        return pre + const

    return re.sub(rx, repl, line, count=0 if replacing_all else 1)


def test_all_methods_match_python_reference(spark):
    """All four method x ReplacingAll cases equal re.sub, on lines with no,
    one, several, adjacent and edge matches."""
    lines = [
        "no secret here",
        "pwd=aaa,pwd=bbb,x",
        "pwd=a,pwd=b,pwd=c",
        "pwd=x",
        ",pwd=1,,pwd=2,",
        "pwd=中文,tail pwd=$1\\,",
        "",
    ]
    df = spark.createDataFrame([(i, {"cast1": c}) for i, c in enumerate(lines)], ["i", FIELDS])
    kw = dict(source_key="cast1", prefix_pattern="pwd=", content_pattern="[^,]+")
    for method in ("const", "md5"):
        for replacing_all in (True, False):
            op = Desensitize(method=method, replacing_string="$*\\*", replacing_all=replacing_all, **kw)
            got = {r["i"]: r[FIELDS]["cast1"] for r in op.apply(df).collect()}
            for i, line in enumerate(lines):
                want = _python_mask(line, "(pwd=)(?:[^,]+)", method, "$*\\*", replacing_all)
                assert got[i] == want, (method, replacing_all, line, got[i])
