"""Config compiler + checkpoint/resume + metrics tests."""

import os

import pyspark.sql.functions as F
import pytest
from test_plan_quality import python_nodes

from loongcollector_spark.operators.base import FIELDS, fget, to_events
from loongcollector_spark.plans.checkpoint import Manifest, read_all_units, resumable_write
from loongcollector_spark.plans.compiler import compile_pipeline

NGINX_LIKE_CONFIG = {
    # the reference's nginx-regex.yaml example pipeline, as dict config
    "processors": [
        {
            "Type": "processor_parse_regex_native",
            "SourceKey": "content",
            "Regex": r"(\S+) (\w+) (\d+)",
            "Keys": ["ip", "method", "status"],
            "KeepingSourceWhenParseFail": False,
        },
        {"Type": "processor_add_fields", "Fields": {"env": "prod"}},
        {"Type": "processor_rename", "SourceKeys": ["ip"], "DestKeys": ["client_ip"]},
    ],
    "flushers": [
        {"Type": "flusher_sink", "Name": "sink_err", "Match": {"Key": "status", "Value": "500", "UseFields": True}},
        {"Type": "flusher_sink", "Name": "sink_all"},
    ],
}


def test_compile_pipeline_end_to_end(spark):
    df = to_events(
        spark.createDataFrame(
            [(0, "1.2.3.4 GET 200"), (1, "5.6.7.8 POST 500"), (2, "garbage")],
            ["i", "content"],
        )
    )
    out = compile_pipeline(NGINX_LIKE_CONFIG).apply(df)
    rows = [(r["i"], r["sink"], dict(r[FIELDS])) for r in out.collect()]
    sinks = sorted((i, s) for i, s, _ in rows)
    # row 2 dropped (parse fail); row 1 multi-matches err+all; row 0 only all
    assert sinks == [(0, "sink_all"), (1, "sink_all"), (1, "sink_err")]
    f0 = next(f for i, s, f in rows if i == 0)
    assert f0 == {"client_ip": "1.2.3.4", "method": "GET", "status": "200", "env": "prod"}


def test_compile_unknown_type_raises(spark):
    with pytest.raises(KeyError, match="unknown processor type"):
        compile_pipeline({"processors": [{"Type": "processor_nope"}]})


def test_compiled_matches_handwritten(spark):
    from loongcollector_spark.operators.parse import RegexParser

    df = to_events(
        spark.createDataFrame([(0, "1.2.3.4 GET 200")], ["i", "content"])
    )
    compiled = compile_pipeline(
        {"processors": [NGINX_LIKE_CONFIG["processors"][0]]}
    ).apply(df)
    hand = RegexParser(r"(\S+) (\w+) (\d+)", ["ip", "method", "status"]).apply(df)
    assert compiled.collect() == hand.collect()


# --- checkpoint/resume -------------------------------------------------------


def test_resumable_write_resumes_after_crash(spark, tmp_path, crash_after_markers):
    out_dir = str(tmp_path / "out")
    manifest = Manifest(str(tmp_path / "manifest"))
    data = spark.range(30).withColumn("sink", (F.col("id") % 3).cast("string"))

    units = ["0", "1", "2"]
    with crash_after_markers(manifest, 1), pytest.raises(RuntimeError, match="injected failure"):
        resumable_write(data, units, out_dir, manifest)
    assert manifest.done_units() == {"0"}

    # record mtime of the completed unit — resume must not rewrite it
    done_file = [
        f for f in os.listdir(f"{out_dir}/unit=0") if f.endswith(".parquet")
    ][0]
    mtime0 = os.path.getmtime(f"{out_dir}/unit=0/{done_file}")

    written = resumable_write(data, units, out_dir, manifest)
    assert written == ["1", "2"]
    assert manifest.done_units() == {"0", "1", "2"}
    assert os.path.getmtime(f"{out_dir}/unit=0/{done_file}") == mtime0

    total = read_all_units(spark, out_dir)
    assert total.count() == 30
    assert sorted(r["id"] for r in total.collect()) == list(range(30))


def test_resumable_write_noop_when_all_done(spark, tmp_path):
    """A resume with every unit marked done starts no Spark job; the markers
    still hold the counts of the run that wrote them."""
    out_dir = str(tmp_path / "out")
    manifest = Manifest(str(tmp_path / "manifest"))
    data = spark.range(4).withColumn("sink", F.lit("a"))
    resumable_write(data, ["a"], out_dir, manifest)
    sc = spark.sparkContext
    sc.setJobGroup("resume-all-done", "resume with every unit done")
    try:
        assert resumable_write(data, ["a"], out_dir, manifest) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("resume-all-done") == []
    assert manifest.counts(["a"]) == {"a": {"events": 4}}


def test_resumable_sink_write(spark, tmp_path):
    """Every marker holds its sink's counts from the one write; a sink that
    routes no rows gets ``events: 0`` and no ``unit=<s>/`` directory."""
    routed = spark.createDataFrame(
        [(1, "sink_a", 3), (2, "sink_a", 4), (3, "sink_b", 5)], ["id", "sink", "n_tok"]
    )
    manifest = Manifest(str(tmp_path / "m"))
    out_dir = str(tmp_path / "o")
    sinks = ["sink_a", "sink_b", "sink_empty"]
    w = resumable_write(routed, sinks, out_dir, manifest)
    assert w == sinks
    a = spark.read.parquet(f"{out_dir}/unit=sink_a")
    assert sorted(r["id"] for r in a.collect()) == [1, 2]
    assert manifest.counts(sinks) == {
        "sink_a": {"events": 2, "tokens_total": 7},
        "sink_b": {"events": 1, "tokens_total": 5},
        "sink_empty": {"events": 0, "tokens_total": 0},
    }
    assert not os.path.exists(f"{out_dir}/unit=sink_empty")


# --- metrics -----------------------------------------------------------------


def test_observed_counters(spark):
    from loongcollector_spark.metrics import observed

    df = spark.range(10).withColumn("n_tok", F.lit(5))
    out, obs = observed(df)
    out.write.format("noop").mode("overwrite").save()
    assert obs.get["events"] == 10
    assert obs.get["tokens_total"] == 50


def test_partition_metrics(spark):
    from loongcollector_spark.metrics import partition_metrics

    df = spark.range(100).repartition(4)
    pm = partition_metrics(df).collect()
    assert sum(r["events"] for r in pm) == 100
    assert all(r["first_pack_id"] is not None for r in pm)


def test_metered_chain_per_stage_counts(spark):
    """Per-processor self-metric counters: input 3 → parse drops 1 → filter
    drops 1 more; each stage's observation reports its output count."""
    from loongcollector_spark.operators.base import Chain, to_events
    from loongcollector_spark.operators.filters import FilterRegex
    from loongcollector_spark.operators.parse import RegexParser

    df = to_events(
        spark.createDataFrame(
            [(0, "a 1"), (1, "b 2"), (2, "garbage")], ["i", "content"]
        )
    )
    chain = Chain(
        RegexParser(r"(\w+) (\d+)", ["word", "num"]),
        FilterRegex(include={"num": "1"}),
    )
    out, obs = chain.apply_metered(df)
    out.write.format("noop").mode("overwrite").save()
    counts = {name: o.get["events"] for name, o in obs}
    assert counts["input"] == 3
    assert counts["after_0_RegexParser"] == 2  # 'garbage' discarded
    assert counts["after_1_FilterRegex"] == 1


def test_timestamp_precise_key(spark):
    """processor_strptime EnablePreciseTimestamp: emits the parsed time as an
    integer field in the configured unit (strptime.go:158-171)."""
    from loongcollector_spark.operators.base import FIELDS, to_events
    from loongcollector_spark.operators.common import ParserOptions
    from loongcollector_spark.operators.parse import TimestampParser

    ev = to_events(
        spark.createDataFrame([(0, "2024-01-05 10:20:30")], ["i", "content"])
    )
    out = TimestampParser(
        "yyyy-MM-dd HH:mm:ss",
        ParserOptions(keep_fail=True),
        precise_timestamp_key="precise_timestamp",
        precise_timestamp_unit="ms",
    ).apply(ev)
    f = dict(out.collect()[0][FIELDS])
    assert f["precise_timestamp"] == "1704450030000"
    out_us = TimestampParser(
        "yyyy-MM-dd HH:mm:ss",
        ParserOptions(keep_fail=True),
        precise_timestamp_key="pt",
        precise_timestamp_unit="us",
    ).apply(ev)
    assert dict(out_us.collect()[0][FIELDS])["pt"] == "1704450030000000"


def test_context_ordered_preserves_order(spark):
    """aggregator_context analog: within each context partition, pack ids are
    monotone in the original order column — the stream order is
    reconstructible."""
    from loongcollector_spark.aggregate import PACK_ID_COL, context_ordered

    rows = [(f"s{i % 3}", i, f"line{i}") for i in range(60)]
    df = spark.createDataFrame(rows, ["source", "offset", "line"])
    out = context_ordered(df, ["source"], "offset").withColumn(
        "pid", F.spark_partition_id()
    )
    got = out.select("source", "offset", "pid", PACK_ID_COL).collect()
    by_part = {}
    for r in got:
        by_part.setdefault((r["pid"], r["source"]), []).append(
            (r[PACK_ID_COL], r["offset"])
        )
    for key, rows_ in by_part.items():
        # rows arrive sorted within partition: pack id order == offset order
        offsets = [o for _, o in rows_]
        assert offsets == sorted(offsets), key


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_arrow_parity_selection_warns_and_works(spark):
    """A config still carrying the retired 'ArrowParity' key compiles to the
    one JVM path: no warning, no Python stage, the strict quote FSM's rows."""
    import warnings

    cfg = {
        "processors": [
            {
                "Type": "processor_parse_delimiter_native",
                "Separator": ",",
                "Quote": "'",
                "Keys": ["a", "b"],
                "ArrowParity": True,
            }
        ]
    }
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        pipe = compile_pipeline(cfg)
    assert not w
    df = to_events(
        spark.createDataFrame(
            [(1, "x,'y, z'"), (2, "bad'quote,q")], ["i", "content"]
        )
    )
    out = pipe.apply(df)
    assert not python_nodes(_executed_plan(out))
    rows = {r["i"]: dict(r[FIELDS]) for r in out.collect()}
    assert rows[1] == {"a": "x", "b": "y, z"}
    # strict-quote FSM failure drops the row (keep_fail default false)
    assert 2 not in rows


def test_compiled_reference_processors_golden(spark):
    """The four processors whose goldens need quote grammars, C++ double
    text or per-match md5 compile from config to one JVM plan that gives the
    reference rows."""
    import hashlib

    cfg = {
        "processors": [
            {
                "Type": "processor_parse_delimiter_native",
                "SourceKey": "csv",
                "Separator": ",",
                "Quote": "'",
                "Keys": ["time", "method", "url", "request_time"],
                "KeepingSourceWhenParseFail": True,
                "RenamedSourceKey": "rawLog",
            },
            {"Type": "processor_parse_json_native", "SourceKey": "json"},
            {
                "Type": "processor_desensitize_native",
                "SourceKey": "pw",
                "Method": "md5",
                "ContentPatternBeforeReplacedString": "pwd=",
                "ReplacedContentPattern": "[^,]+",
                "ReplacingAll": True,
            },
            {
                "Type": "processor_split_key_value",
                "SourceKey": "kv",
                "Delimiter": "\t",
                "Separator": ":",
                "Quote": '"',
            },
        ]
    }
    good = "2013-10-31 21:03:49,POST,'PutData?Category=YunOs''AccountOpLog',0.024"
    bad = "2013-10-31 21:03:49,POST,'PutData?Category=Yun'Os'AccountOpLog',0.024"
    ev = spark.createDataFrame(
        [
            (0, {"csv": good, "json": '{"pi":3.14159}', "pw": "pwd=aaa,pwd=bbb,x",
                 "kv": 'k1:v1\tk2:"va\tl:ue"\tk3:"do""q"'}),
            (1, {"csv": bad}),
        ],
        ["i", FIELDS],
    )
    out = compile_pipeline(cfg).apply(ev)
    assert not python_nodes(_executed_plan(out))
    rows = {r["i"]: dict(r[FIELDS]) for r in out.collect()}

    def md5(s):
        return hashlib.md5(s.encode()).hexdigest().upper()

    assert rows[0] == {
        "time": "2013-10-31 21:03:49",
        "method": "POST",
        "url": "PutData?Category=YunOs'AccountOpLog",
        "request_time": "0.024",
        "pi": "3.141590",
        "pw": f"pwd={md5('aaa')},pwd={md5('bbb')},x",
        "k1": "v1",
        "k2": "va\tl:ue",
        "k3": 'do"q',
    }
    assert rows[1] == {"rawLog": bad}


def test_registry_rate_limit_geoip_cloudmeta_log2metric(spark, tmp_path):
    """The four remaining implemented-but-unregistered processors compile
    from config and run: rate limit (Limit '2/s' string), lazy geoip range
    table read at apply() time, cloud-meta static map, log→metric."""
    import pyspark.sql.functions as F

    from loongcollector_spark.operators.base import FIELDS, to_events
    from loongcollector_spark.plans.compiler import compile_pipeline

    # geoip ranges parquet
    spark.createDataFrame(
        [(0, 2**32 - 1, "C", "P", "PC", "Xland", "XL", 1.0, 2.0)],
        "lo long, hi long, city string, province string, province_code string, "
        "country string, country_code string, latitude double, longitude double",
    ).write.parquet(str(tmp_path / "ranges"))

    pipe = compile_pipeline(
        {
            "processors": [
                {"Type": "processor_cloud_meta",
                 "Metadata": {"__cloud_instance_id__": "i-123"}},
                {"Type": "processor_geoip", "SourceKey": "ip",
                 "RangeTablePath": str(tmp_path / "ranges")},
                {"Type": "processor_rate_limit", "Fields": ["ip"], "Limit": "2/s"},
            ]
        }
    )
    rows = [(i, {"ip": "10.0.0.1", "rt": str(i)}) for i in range(5)]
    df = spark.createDataFrame(rows, f"i long, {FIELDS} map<string,string>")
    out = pipe.apply(df).collect()
    assert len(out) == 2  # rate-limited to 2 per key combo (no time col)
    f = dict(out[0][FIELDS])
    assert f["__cloud_instance_id__"] == "i-123"
    assert f["ip_country_"] == "Xland" and f["ip_city_"] == "C"

    m = compile_pipeline(
        {
            "processors": [
                {"Type": "processor_log_to_sls_metric",
                 "MetricLabelKeys": ["host"], "MetricValues": {"rt_ms": "rt"}},
            ]
        }
    )
    mdf = spark.createDataFrame(
        [(0, {"host": "h1", "rt": "42"})], f"i long, {FIELDS} map<string,string>"
    )
    mrow = m.apply(mdf).collect()[0]
    assert mrow["__name__"] == "rt_ms" and mrow["__value__"] == 42.0


def test_compile_decoder_formats(spark):
    """decoder.go factory analog: Format strings route to the right decode
    stage for text, binary, and OTLP families."""
    import pyspark.sql.functions as F

    from loongcollector_spark.operators.base import to_events
    from loongcollector_spark.operators.pb import encode_sls_log, encode_sls_log_group
    from loongcollector_spark.plans.compiler import compile_decoder

    # text family
    ev = to_events(
        spark.createDataFrame(
            [(1, "cpu,host=h1 value=2 1434055562000000000")], "i long, content string"
        )
    )
    out = compile_decoder({"Format": "influxdb"})(ev).collect()
    assert [r["__name__"] for r in out] == ["cpu"]

    st = to_events(
        spark.createDataFrame([(1, "gauge:7|g")], "i long, content string")
    )
    assert compile_decoder({"Format": "statsd"})(st).count() == 1

    # binary family (sls payload column)
    payload = encode_sls_log_group([encode_sls_log(1663904182, {"k": "v"})], topic="t")
    binq = spark.createDataFrame([(9, bytearray(payload))], "i long, payload binary")
    rows = compile_decoder({"Format": "sls", "Passthrough": ["i"]})(binq).collect()
    assert rows[0]["topic"] == "t" and dict(rows[0]["contents"]) == {"k": "v"}

    # OTLP family (hex wire bytes in content)
    from loongcollector_spark.operators import otlp_pb as W

    rec = W.encode_log_record_pb(123_000_000_000, severity_text="INFO", body="m")
    wire = W.encode_logs_data([rec]).hex()
    ot = to_events(spark.createDataFrame([(1, wire)], "i long, content string"))
    lrows = compile_decoder({"Format": "otlp_logv1"})(ot).collect()
    assert lrows[0]["fields"]["severity_text"] == "INFO"
    assert lrows[0]["fields"]["content"] == "m"

    # pyroscope sub-dispatch (decoder.go:60-78): pprof wire / jfr chunks
    from loongcollector_spark.operators.pprof_profile import PprofBuilder

    b = PprofBuilder()
    b.sample_type("samples", "count")
    b.sample([b.location([b.function("f", "f.go")])], [2])
    pdfq = spark.createDataFrame(
        [(1, bytearray(b.build()))], "i long, payload binary"
    )
    prow = compile_decoder({"Format": "pyroscope", "ProfileFormat": "pprof",
                            "Passthrough": ["i"]})(pdfq).collect()
    assert [r["name"] for r in prow] == ["f f.go"] and prow[0]["val"] == "2.00"

    from loongcollector_spark.operators.jfr import _EVENT_T

    jev = [("execution_sample", 0, "STATE_RUNNABLE", None, None, None, None, None,
            [("A", "m")])]
    jdf = spark.createDataFrame([(1, jev)], f"i long, events {_EVENT_T}")
    jrow = compile_decoder({"Format": "pyroscope", "ProfileFormat": "jfr",
                            "Passthrough": ["i"]})(jdf).collect()
    assert [r["name"] for r in jrow] == ["A.m"]

    # raw passthrough + unknown format
    assert compile_decoder({"Format": "raw"})(ev) is ev
    import pytest

    with pytest.raises(KeyError):
        compile_decoder({"Format": "nope"})


def test_compile_metric_input_factory(spark):
    """The r4 host-collector family resolves from plugin Type strings."""
    import pytest

    from loongcollector_spark.operators.systemv2 import SNAPSHOT_SCHEMA_HINT
    from loongcollector_spark.plans.compiler import compile_metric_input

    snap = spark.createDataFrame(
        [("h1", "ip", 1_000, None, 5, 2, None, None, None, None, [], [], [], None)],
        SNAPSHOT_SCHEMA_HINT,
    )
    out = compile_metric_input({"Type": "metric_system_v2"})(snap).collect()
    names = {dict(r["fields"])["__name__"] for r in out}
    assert names == {"system_boot_time", "cpu_count"}

    gpu = spark.createDataFrame(
        [(0, 25_000, 61, 88, 40, 2 * 1024 * 1024 * 1024, 8 * 1024 * 1024 * 1024)],
        "device int, power_usage_uw long, temperature long, gpu_util long, "
        "memory_util long, used_memory_bytes long, total_memory_bytes long",
    )
    g = dict(compile_metric_input({"Type": "service_gpu_metric"})(gpu).collect()[0]["fields"])
    assert g["metric_type"] == "gpu" and g["device"] == "0"
    assert g["gpu_power_usage"] == "25"      # µW // 1000
    assert g["gpu_used_memory"] == "2048"    # bytes → MiB
    assert g["gpu_free_memory"] == "6144"

    with pytest.raises(KeyError):
        compile_metric_input({"Type": "nope"})


def test_processor_default_is_identity(spark):
    """processor_default (plugins/processor/defaultone/processor_default.go:35-41)
    dispatches from the registry to an identity pass-through."""
    df = to_events(spark.createDataFrame([(0, "x"), (1, "y")], ["i", "content"]))
    out = compile_pipeline(
        {"processors": [{"Type": "processor_default"}]}
    ).apply(df)
    assert sorted((r["i"], dict(r[FIELDS])) for r in out.collect()) == [
        (0, {"content": "x"}),
        (1, {"content": "y"}),
    ]
