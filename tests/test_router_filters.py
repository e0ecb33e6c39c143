"""Router fan-out + filter semantics (Router.cpp / Condition.cpp /
processor_filter_* goldens)."""

import pyspark.sql.functions as F

from loongcollector_spark.operators.filters import (
    FilterKeyRegex,
    FilterNative,
    FilterRegex,
)
from loongcollector_spark.routing import RegexRouter, RouteCondition, Router


def _frame(spark, *field_dicts):
    rows = [(i, d) for i, d in enumerate(field_dicts)]
    return spark.createDataFrame(rows, "i int, fields map<string,string>")


def test_filter_regex_include_exclude(spark):
    df = _frame(spark, {"ip": "10.1.1.1", "m": "GET"}, {"ip": "192.168.0.1", "m": "GET"},
                {"m": "GET"})
    out = FilterRegex(include={"ip": r"10\..*", "m": "GET"}).apply(df)
    assert [r["i"] for r in out.collect()] == [0]
    out2 = FilterRegex(exclude={"ip": r"10\..*"}).apply(df)
    assert sorted(r["i"] for r in out2.collect()) == [1, 2]  # missing key passes exclude


def test_filter_regex_full_match_rejects_trailing_newline(spark):
    df = _frame(spark, {"m": "GET"}, {"m": "GET\n"})
    assert [r["i"] for r in FilterRegex(include={"m": "GET"}).apply(df).collect()] == [0]
    assert [r["i"] for r in FilterRegex(exclude={"m": "GET"}).apply(df).collect()] == [1]


def test_filter_key_regex(spark):
    df = _frame(spark, {"user_id": "1"}, {"other": "2"})
    out = FilterKeyRegex(include=[r"user_.*"]).apply(df)
    assert [r["i"] for r in out.collect()] == [0]
    out2 = FilterKeyRegex(exclude=[r"user_.*"]).apply(df)
    assert [r["i"] for r in out2.collect()] == [1]


def test_filter_native_expression_tree(spark):
    df = _frame(spark, {"a": "1", "b": "x"}, {"a": "2", "b": "x"}, {"a": "1", "b": "y"})
    tree = {
        "operator": "and",
        "operands": [
            {"key": "a", "exp": "1"},
            {"operator": "not", "operands": [{"key": "b", "exp": "y"}]},
        ],
    }
    out = FilterNative(condition_exp=tree).apply(df)
    assert [r["i"] for r in out.collect()] == [0]


def test_router_multi_match_copies(spark):
    df = spark.createDataFrame(
        [(1, "prod", "team-b"), (2, "staging", "team-b"), (3, "staging", "team-a")],
        ["id", "env", "team"],
    )
    rules = [
        RouteCondition("sink_a", "env", "prod"),
        RouteCondition("sink_b", "team", "team-b"),
        RouteCondition("sink_default"),  # unconditioned ⇒ always matches
    ]
    out = Router(rules).apply(df)
    got = sorted((r["id"], r["sink"]) for r in out.collect())
    assert got == [
        (1, "sink_a"),
        (1, "sink_b"),
        (1, "sink_default"),
        (2, "sink_b"),
        (2, "sink_default"),
        (3, "sink_default"),
    ]


def test_router_discard_tag(spark):
    # tag removal is per routed copy (Router.cpp:71-79) — NULLed on the
    # discarding rule's copy, not globally dropped
    df = spark.createDataFrame([(1, "prod")], ["id", "env"])
    rules = [RouteCondition("s1", "env", "prod", discard_tag=True)]
    out = Router(rules).apply(df)
    rows = out.collect()
    assert rows[0]["sink"] == "s1" and rows[0]["env"] is None


def test_regex_router_first_match_and_default(spark):
    df = _frame(spark, {"content": "ERROR boom"}, {"content": "WARN hm"}, {"content": "ok"})
    out = RegexRouter(
        "content", [("ERROR", "err_store"), ("WARN|ERROR", "warn_store")], "default"
    ).apply(df)
    got = {r["i"]: r["sink"] for r in out.collect()}
    assert got == {0: "err_store", 1: "warn_store", 2: "default"}


def test_filter_native_expression_reference_golden(spark):
    """Golden from ProcessorFilterNativeUnittest TestBaseFilter case 1:
    full-match semantics — exp '.*value1' does NOT match 'value1xxxxx'
    (trailing text), so only the second event passes the AND tree."""
    import pyspark.sql.functions as F

    from loongcollector_spark.operators.filters import FilterNative

    rows = [
        (0, {"key1": "value1xxxxx", "key2": "value2xxxxx"}),
        (1, {"key1": "abcdeavalue1", "key2": "value2xxxxx"}),
    ]
    df = spark.createDataFrame(rows, ["i", "fields"])
    tree = {
        "operator": "and",
        "operands": [
            {"key": "key1", "exp": ".*value1", "type": "regex"},
            {"key": "key2", "exp": "value2.*", "type": "regex"},
        ],
    }
    out = FilterNative(condition_exp=tree).apply(df)
    assert [r["i"] for r in out.collect()] == [1]


def test_router_discarding_tag_per_copy(spark):
    """DiscardingTag applies only to the copy routed via the discarding rule
    (Router.cpp:71-79); the always-match copy keeps the tag."""
    from loongcollector_spark.routing import RouteCondition, Router

    df = spark.createDataFrame([("d1", "prod")], ["doc_id", "env"])
    router = Router(
        [
            RouteCondition("sink_p", "env", "prod", discard_tag=True),
            RouteCondition("sink_all"),
        ]
    )
    rows = {r["sink"]: r["env"] for r in router.apply(df).collect()}
    assert rows == {"sink_p": None, "sink_all": "prod"}


def test_erase_event_file_offset_only(spark):
    """ShouldEraseEvent: a failed parse whose only remaining content is
    __file_offset__ is dropped (CommonParserOptions.cpp:104-110)."""
    import pyspark.sql.functions as F

    from loongcollector_spark.operators.base import FIELDS
    from loongcollector_spark.operators.parse import RegexParser

    rows = [
        (0, {"content": "nomatch", "__file_offset__": "123"}),
        (1, {"content": "nomatch", "real_field": "x"}),
    ]
    df = spark.createDataFrame(rows, ["i", FIELDS])
    out = RegexParser(r"(\d+)", ["num"]).apply(df)
    got = [r["i"] for r in out.collect()]
    assert got == [1]  # offset-only row erased, row with a real field kept


def test_geoip_ingest_tool_roundtrip(spark, tmp_path):
    """tools/geoip_ingest.py: GeoLite2-CSV-style blocks+locations -> range
    parquet -> GeoIpProcessor produces the reference's field keys."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    import geoip_ingest

    blocks = tmp_path / "blocks.csv"
    blocks.write_text(
        "network,geoname_id,latitude,longitude\n"
        "10.0.0.0/9,111,30.274,120.155\n"
        "10.128.0.0/9,222,37.751,-97.822\n"
    )
    locs = tmp_path / "locations.csv"
    locs.write_text(
        "geoname_id,country_iso_code,country_name,subdivision_1_iso_code,subdivision_1_name,city_name\n"
        "111,CN,China,ZJ,Zhejiang,Hangzhou\n"
        "222,US,United States,,,\n"
    )
    out = tmp_path / "ranges.parquet"
    table = geoip_ingest.build_range_table(str(blocks), str(locs))
    table.to_parquet(out, index=False)
    assert table["lo"].tolist() == [10 * 16777216, 10 * 16777216 + 128 * 65536]

    import pyspark.sql.functions as F

    from loongcollector_spark.operators.base import FIELDS, to_events
    from loongcollector_spark.operators.enrich import GeoIpProcessor

    ranges = spark.read.parquet(str(out))
    ev = to_events(
        spark.createDataFrame(
            [(1, "10.0.0.5"), (2, "10.200.1.1"), (3, "not-an-ip")], ["i", "content"]
        ),
        source_key="ip",
    )
    got = {
        r["i"]: dict(r[FIELDS])
        for r in GeoIpProcessor(ranges, source_key="ip").apply(ev).collect()
    }
    assert got[1]["ip_city_"] == "Hangzhou"
    assert got[1]["ip_country_code_"] == "CN"
    assert got[1]["ip_latitude_"] == "30.27400000"
    assert got[2]["ip_country_"] == "United States"
    assert "ip_city_" not in got[2]  # empty city name never appended
    assert got[3] == {"ip": "not-an-ip"}  # lookup miss leaves event untouched


def test_filter_native_rule_mode_reference_golden(spark):
    """ProcessorFilterNativeUnittest::TestLogFilterRule exact golden:
    Include {key1: '.*value1', key2: 'value2.*'} — FULL-match semantics
    ('value1xxxxx' fails '.*value1'); events missing a filtered key drop."""
    import pyspark.sql.functions as F

    from loongcollector_spark.operators.base import FIELDS
    from loongcollector_spark.operators.filters import FilterNative

    rows = [
        (1, {"key1": "value1xxxxx", "key2": "value2xxxxx"}),
        (2, {"key1": "abcdeavalue1", "key2": "value2xxxxx"}),
        (3, {"key1": "abcvalue1"}),
    ]
    df = spark.createDataFrame(rows, f"i long, {FIELDS} map<string,string>")
    out = FilterNative(include={"key1": ".*value1", "key2": "value2.*"}).apply(df)
    assert [r["i"] for r in out.collect()] == [2]


def test_filter_native_expression_mode_reference_golden(spark):
    """ProcessorFilterNativeUnittest::TestBaseFilter case 1: AND of two regex
    leaves, same fixtures."""
    from loongcollector_spark.operators.base import FIELDS
    from loongcollector_spark.operators.filters import FilterNative

    cond = {
        "operator": "and",
        "operands": [
            {"key": "key1", "exp": ".*value1", "type": "regex"},
            {"key": "key2", "exp": "value2.*", "type": "regex"},
        ],
    }
    rows = [
        (1, {"key1": "value1xxxxx", "key2": "value2xxxxx"}),
        (2, {"key1": "abcdeavalue1", "key2": "value2xxxxx"}),
    ]
    df = spark.createDataFrame(rows, f"i long, {FIELDS} map<string,string>")
    out = FilterNative(condition_exp=cond).apply(df)
    assert [r["i"] for r in out.collect()] == [2]


def test_geoip_strict_ip_parse_like_net_parseip(spark, tmp_path):
    """net.ParseIP (processor_geoip.go:118) rejects '1.2.3.4.5' and
    leading-zero octets; malformed values must be lookup MISSES, never
    enriched from a partial parse."""
    import pandas as pd

    from loongcollector_spark.operators.base import FIELDS, to_events
    from loongcollector_spark.operators.enrich import GeoIpProcessor

    rng = tmp_path / "r.parquet"
    pd.DataFrame(
        [
            {
                "lo": 0, "hi": 2**32 - 1, "city": "Everywhere",
                "province": "P", "province_code": "PC", "country": "C",
                "country_code": "CC", "latitude": 1.0, "longitude": 2.0,
            }
        ]
    ).to_parquet(rng, index=False)
    ranges = spark.read.parquet(str(rng))
    bad = ["1.2.3.4.5", "01.2.3.4", "1.2.3.256", "1.2.3", "...", "300.1.1.1"]
    ev = to_events(
        spark.createDataFrame(
            [(i, s) for i, s in enumerate(["1.2.3.4", "0.0.0.0"] + bad)],
            ["i", "content"],
        ),
        source_key="ip",
    )
    got = {
        r["i"]: dict(r[FIELDS])
        for r in GeoIpProcessor(ranges, source_key="ip").apply(ev).collect()
    }
    assert got[0]["ip_city_"] == "Everywhere"
    assert got[1]["ip_city_"] == "Everywhere"  # 0.0.0.0 is a valid quad
    for i in range(2, 2 + len(bad)):
        assert got[i] == {"ip": bad[i - 2]}, bad[i - 2]
