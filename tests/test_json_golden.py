"""Golden case ported verbatim from ProcessorParseJsonNativeUnittest (typed
scalar stringification, lines 940-990): double 3.14159 stringifies to
"3.141590" (C++ std::to_string), int/bool/null per RapidjsonValueToString."""

import json

from loongcollector_spark.operators.base import FIELDS, to_events
from loongcollector_spark.operators.common import ParserOptions
from loongcollector_spark.operators.parse import JsonParser

LINE = (
    '{"string_field":"hello world","int_field":42,"float_field":3.14159,'
    '"bool_true":true,"bool_false":false,"null_field":null,'
    '"negative_int":-100,"zero":0}'
)

EXPECT = {
    "bool_false": "false",
    "bool_true": "true",
    "float_field": "3.141590",
    "int_field": "42",
    "negative_int": "-100",
    "null_field": "",
    "rawLog": LINE,
    "string_field": "hello world",
    "zero": "0",
}


def _stringify(v) -> str:
    """RapidjsonValueToString in Python: the reference rendering of one member."""
    if v is None:
        return ""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return f"{v:.6f}"  # C++ std::to_string(double)
    if isinstance(v, (dict, list)):
        return json.dumps(v, separators=(",", ":"), ensure_ascii=False)
    return str(v)


def _reference(line: str):
    """Parsed fields of one line, or None where the reference parse fails."""
    try:
        obj = json.loads(line)
    except ValueError:
        return None
    return {k: _stringify(v) for k, v in obj.items()} if isinstance(obj, dict) else None


def _events(spark, contents):
    df = spark.createDataFrame([(i, c) for i, c in enumerate(contents)], ["i", "content"])
    return to_events(df)


def test_json_arrow_reference_golden(spark):
    opts = ParserOptions(keep_succeed=True, keep_fail=True, renamed_source_key="rawLog")
    out = JsonParser(opts).apply(_events(spark, [LINE]))
    assert dict(out.collect()[0][FIELDS]) == EXPECT


def test_json_jvm_matches_except_double_format(spark):
    opts = ParserOptions(keep_succeed=True, keep_fail=True, renamed_source_key="rawLog")
    got = dict(JsonParser(opts).apply(_events(spark, [LINE])).collect()[0][FIELDS])
    # Jackson's "3.14159" is re-rendered the C++ std::to_string way
    assert got.pop("float_field") == "3.141590"
    expect = dict(EXPECT)
    expect.pop("float_field")
    assert got == expect


def test_json_arrow_nested_compact(spark):
    out = JsonParser().apply(_events(spark, ['{"a":{"b":[1,2]},"c":1}']))
    f = dict(out.collect()[0][FIELDS])
    assert f == {"a": '{"b":[1,2]}', "c": "1"}


def test_json_arrow_drop_on_fail(spark):
    out = JsonParser().apply(_events(spark, ["not json", '{"k":1}']))
    rows = out.collect()
    assert len(rows) == 1 and dict(rows[0][FIELDS]) == {"k": "1"}


def test_json_rejects_nan_infinity_and_single_quotes(spark):
    """rapidjson's default Parse rejects NaN, Infinity and single-quoted
    JSON, so each of these lines fails the parse (the source is kept under
    keep_fail); a plain object beside them parses as before."""
    bad = ['{"a":NaN}', '{"a":Infinity}', '{"a":-Infinity}', "{'a':1}"]
    lines = [*bad, '{"a":1.5,"b":"x"}']
    out = JsonParser(ParserOptions(keep_fail=True)).apply(_events(spark, lines))
    got = {r["i"]: dict(r[FIELDS]) for r in out.collect()}
    for i, raw in enumerate(bad):
        assert got[i] == {"content": raw}, (raw, got[i])
    assert got[len(bad)] == {"a": "1.500000", "b": "x"}


def test_json_edge_inputs_both_paths(spark):
    """ProcessorParseJsonNativeUnittest edge matrix: top-level array /
    primitive / empty string fail (source kept); {} succeeds empty; unicode
    escapes decode; 64-bit ints keep exact digits. The JVM parser and the
    Python reference rendering agree on every case."""
    cases = [
        (0, "[1,2,3]", None),              # array → fail
        (1, "12345", None),                # primitive → fail
        (2, "", None),                     # empty string → fail
        (3, "{}", {}),                     # empty object → success, no fields
        (4, '{"u":"\\u4f60\\u597d"}', {"u": "你好"}),
        (5, '{"big":9223372036854775807}', {"big": "9223372036854775807"}),
        (6, '{"chinese":"你好世界","mixed":"Hello 世界"}',
         {"chinese": "你好世界", "mixed": "Hello 世界"}),
    ]
    out = JsonParser(ParserOptions(keep_fail=True)).apply(
        _events(spark, [c for _, c, _ in cases])
    )
    got = {r["i"]: dict(r[FIELDS]) for r in out.collect()}
    for i, raw, expect in cases:
        assert _reference(raw) == expect, (i, raw)
        f = dict(got[i])
        if expect is None:
            assert f == {"content": raw}, (i, f)
        else:
            assert f == expect, (i, f)


def test_json_doubles_render_like_cpp(spark):
    """Every double member renders with %.6f; numbers without a fraction or
    exponent stay integers, and a string holding float text stays as it is."""
    line = (
        '{"a":3.14159,"b":1e5,"c":1.0,"d":"1.5","e":10,"f":-2.5E-3,'
        '"g":{"x":1.5},"h":[1.5],"i":true,"j":null,"k":0.024}'
    )
    got = dict(JsonParser().apply(_events(spark, [line])).collect()[0][FIELDS])
    assert got == _reference(line)
    assert got["b"] == "100000.000000" and got["d"] == "1.5" and got["e"] == "10"


def test_json_double_known_divergences(spark):
    """Java's %.6f rounds the shortest decimal digits, C's the exact binary
    value, so two inputs keep rendering differently from the reference
    (COVERAGE.md): a half-way tie and a huge magnitude."""
    got = dict(
        JsonParser().apply(_events(spark, ['{"tie":5e-7,"huge":1e300}'])).collect()[0][FIELDS]
    )
    assert got["tie"] == "0.000001"  # C: 0.000000 (5e-7 is 4.99999...e-7)
    assert got["huge"] == "1" + "0" * 300 + ".000000"  # C: the exact expansion
    assert f"{1e300:.6f}" != got["huge"]
