"""Driver-checked queries: Spark-side callables (spark, sf_dir) -> DataFrame,
each exercising engine operators. ``_registry`` at the end pairs every
``q_<name>`` here, in ``dataops.queries`` and in ``queries_r5`` with the
DuckDB SQL of its ``oracle_<name>()`` into ``QUERIES`` and ``ORACLES``.
"""

from __future__ import annotations

import sys
from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import BinaryType, StringType, StructField

from . import flagship, oracles, queries_r5
from .dataops import queries as dataops_queries
from .operators.base import FIELDS, fget, group_rows, payload_rows, to_events
from .operators.common import RAW_LOG_KEY, ParserOptions
from .operators.enrich import DictMap
from .operators.filters import FilterNative, FilterRegex, RateLimit
from .operators.parse import DelimiterParser, GrokParser, JsonParser, RegexParser
from .operators.transforms import AddFields, Desensitize, KeyValueSplitter, Rename
from .session import configure_existing
from .synth import sequences_df
from .tokens import decode_tokens


def _seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    configure_existing(spark)
    return sequences_df(spark, sf_dir).withColumn("content", decode_tokens("tokens")).drop(
        "tokens"
    )


def _nginx_events(spark, sf_dir, **opts) -> DataFrame:
    seq = _seq(spark, sf_dir).filter(F.col("source") == "nginx")
    return RegexParser(
        flagship.NGINX_REGEX, flagship.NGINX_KEYS, ParserOptions(**opts)
    ).apply(to_events(seq))


# --- flagship ----------------------------------------------------------------


def q_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    configure_existing(spark)
    return flagship.pipeline_aggregates(spark, sf_dir)


oracle_pipeline_e2e = oracles.oracle_pipeline_aggregates


def q_routed_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    configure_existing(spark)
    return flagship.routed_rows(spark, sf_dir)


def q_drop_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    configure_existing(spark)
    return flagship.drop_counts(spark, sf_dir).select(
        "source",
        F.col("input_events").cast("long").alias("input_events"),
        F.col("parsed_events").cast("long").alias("parsed_events"),
        F.col("dropped").cast("long").alias("dropped"),
    )


# --- parsers -------------------------------------------------------------------


def q_parse_regex_discard(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _nginx_events(spark, sf_dir)  # default: discard unmatch
    return ev.select(
        "doc_id", "source", "n_tok", *[fget(k).alias(k) for k in flagship.NGINX_KEYS]
    )


def q_parse_regex_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _nginx_events(spark, sf_dir, keep_fail=True, coping_raw_log=True)
    return ev.select(
        "doc_id",
        *[fget(k).alias(k) for k in flagship.NGINX_KEYS],
        fget(RAW_LOG_KEY).alias("raw_log"),
    )


def q_parse_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    seq = _seq(spark, sf_dir).filter(F.col("source") == "app-json")
    ev = JsonParser().apply(to_events(seq))
    return ev.select(
        "doc_id", *[fget(k).alias(k) for k in ["url", "status", "qty", "cached", "note"]]
    )


def q_parse_delimiter(spark: SparkSession, sf_dir: str) -> DataFrame:
    seq = _seq(spark, sf_dir).filter(F.col("source") == "csvlog")
    ev = DelimiterParser("\t", flagship.CSV_KEYS).apply(to_events(seq))
    return ev.select("doc_id", *[fget(k).alias(k) for k in flagship.CSV_KEYS])


def q_parse_grok(spark: SparkSession, sf_dir: str) -> DataFrame:
    seq = _seq(spark, sf_dir)
    line = F.concat(
        F.lit("10.0."),
        (F.col("n_tok") % 200).cast("string"),
        F.lit(".1 GET /index/"),
        F.col("source"),
        F.lit(" "),
        F.col("n_tok").cast("string"),
        F.lit(" 0.043"),
    )
    ev = to_events(seq.withColumn("content", line))
    g = GrokParser(
        ["%{IP:client} %{WORD:method} %{URIPATHPARAM:request} %{NUMBER:bytes} %{NUMBER:duration}"]
    ).apply(ev)
    return g.select(
        "doc_id",
        *[fget(k).alias(k) for k in ["client", "method", "request", "bytes", "duration"]],
    )


# --- transforms / filters ------------------------------------------------------


def q_dict_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    seq = _seq(spark, sf_dir)
    df = seq.select(
        "doc_id", "source", F.create_map(F.lit("source_val"), F.col("source")).alias(FIELDS)
    )
    out = DictMap(
        {"nginx": "web", "csvlog": "trade"}, source_key="source_val", dest_key="category"
    ).apply(df)
    return out.select("doc_id", "source", fget("category").alias("category"))


def q_filter_expression(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _nginx_events(spark, sf_dir)
    tree = {
        "operator": "or",
        "operands": [
            {
                "operator": "and",
                "operands": [
                    {"key": "status", "exp": "404"},
                    {"key": "method", "exp": "GET"},
                ],
            },
            {"key": "status", "exp": "500"},
        ],
    }
    out = FilterNative(condition_exp=tree).apply(ev)
    return out.select("doc_id", fget("method").alias("method"), fget("status").alias("status"))


def q_desensitize_const(spark: SparkSession, sf_dir: str) -> DataFrame:
    seq = _seq(spark, sf_dir).filter(F.col("source") == "nginx")
    ev = to_events(seq)
    out = Desensitize(
        source_key="content",
        method="const",
        prefix_pattern="curl/",
        content_pattern="[0-9.]+",
        replacing_string="***",
        replacing_all=True,
    ).apply(ev)
    return out.select("doc_id", fget("content").alias("content"))


def q_desensitize_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    seq = _seq(spark, sf_dir).filter(F.col("source") == "nginx")
    content = F.concat(
        F.lit("GET /api/x?u=user-"),
        (F.length("content") % 100).cast("string"),
        F.lit("&v=2"),
    )
    ev = to_events(seq.withColumn("content", content))
    out = Desensitize(
        source_key="content", method="md5", prefix_pattern="user-", content_pattern="[0-9]+"
    ).apply(ev)
    return out.select("doc_id", fget("content").alias("content_masked"))


def q_kv_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    seq = _seq(spark, sf_dir)
    content = F.concat(
        F.lit("uid:u"),
        (F.col("n_tok") % 50).cast("string"),
        F.lit("\tsrc:"),
        F.col("source"),
        F.lit("\tlen:"),
        F.col("n_tok").cast("string"),
    )
    ev = to_events(seq.withColumn("content", content))
    out = KeyValueSplitter(delimiter="\t", separator=":").apply(ev)
    return out.select(
        "doc_id", fget("uid").alias("uid"), fget("src").alias("src"), fget("len").alias("len")
    )


def q_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    seq = _seq(spark, sf_dir).filter(F.col("source") == "csvlog")
    ev = DelimiterParser("\t", flagship.CSV_KEYS).apply(to_events(seq))
    out = RateLimit(fields_keys=["cmethod"], limit=5, order_col="doc_id").apply(ev)
    return out.select("doc_id", fget("cmethod").alias("cmethod"))


def q_transform_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    seq = _seq(spark, sf_dir)
    df = seq.select(
        "doc_id",
        "source",
        F.create_map(
            F.lit("origin_src"), F.col("source"), F.lit("len_str"), F.col("n_tok").cast("string")
        ).alias(FIELDS),
    )
    df = AddFields({"env": "prod"}).apply(df)
    df = Rename({"origin_src": "origin"}).apply(df)
    df = FilterRegex(include={"origin": "app-json|csvlog"}).apply(df)
    return df.select(
        "doc_id",
        fget("env").alias("env"),
        fget("origin").alias("origin"),
        fget("len_str").alias("len_str"),
    )


# --- batch A: split/merge, extended parsers, aggregator queries --------------


def _events_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    configure_existing(spark)
    return spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.concat(F.lit("doc-"), F.lpad(F.col("event_id").cast("string"), 8, "0")).alias(
            "doc_id"
        ),
        "event_id",
        "event_type",
        "user_id",
    )


def q_split_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.split import LINE_NO_COL, SplitLogString

    ev = _events_raw(spark, sf_dir)
    blob = F.concat(
        F.lit("A "), F.col("event_type"), F.lit("\n"),
        F.lit("B "), F.col("user_id").cast("string"), F.lit("\n"),
        F.lit("C end"),
    )
    lines = SplitLogString().apply(to_events(ev.select("doc_id", blob.alias("content"))))
    return lines.select(
        "doc_id",
        F.col(LINE_NO_COL).cast("long").alias("line_no"),
        fget("content").alias("line"),
    )


def q_multiline_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.split import SplitLogString, SplitMultiline

    ev = _events_raw(spark, sf_dir)
    head = F.concat(
        F.lit("ERROR "), F.col("event_type"), F.lit("\n at 1:"),
        F.col("user_id").cast("string"),
    )
    blob = F.when(
        F.col("event_id") % 2 == 0, F.concat(head, F.lit("\nERROR tail\n at 2"))
    ).otherwise(head)
    lines = SplitLogString().apply(to_events(ev.select("doc_id", blob.alias("content"))))
    recs = SplitMultiline(start_pattern=r"ERROR.*").apply(lines)
    return recs.select("doc_id", fget("content").alias("record"))


def q_parse_apsara(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.parse import ApsaraParser

    ev = _events_raw(spark, sf_dir)
    line = F.concat(
        F.lit("[2024-01-05 10:20:30."),
        F.lpad((F.col("event_id") % 1000000).cast("string"), 6, "0"),
        F.lit("]\t["), F.upper("event_type"),
        F.lit("]\t["), F.col("user_id").cast("string"),
        F.lit("]\t[/build/app.cpp:"), (F.col("event_id") % 500).cast("string"),
        F.lit("]\tmethod:GET\tstatus:"), (F.col("user_id") % 3).cast("string"),
    )
    out = ApsaraParser().apply(to_events(ev.select("doc_id", line.alias("content"))))
    return out.select(
        "doc_id",
        fget("microtime").alias("microtime"),
        fget("__LEVEL__").alias("level"),
        fget("__THREAD__").alias("thread"),
        fget("__FILE__").alias("file"),
        fget("__LINE__").alias("line_no"),
        fget("method").alias("method"),
        fget("status").alias("status"),
    )


def q_json_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.parse import JsonExpand

    ev = _events_raw(spark, sf_dir)
    line = F.concat(
        F.lit('{"a":{"b":'), F.col("user_id").cast("string"),
        F.lit(',"c":{"d":"'), F.col("event_type"),
        F.lit('"}},"e":"x-'), (F.col("event_id") % 7).cast("string"), F.lit('"}'),
    )
    out = JsonExpand().apply(to_events(ev.select("doc_id", line.alias("content"))))
    return out.select(
        "doc_id",
        fget("a_b").alias("a_b"),
        fget("a_c_d").alias("a_c_d"),
        fget("e").alias("e"),
    )


def q_parse_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.parse import CsvParser

    ev = _events_raw(spark, sf_dir)
    line = F.concat(
        F.col("event_id").cast("string"), F.lit(',"'),
        F.col("event_type"), F.lit(', x",'),
        F.col("user_id").cast("string"),
    )
    out = CsvParser(["a", "b", "c"]).apply(to_events(ev.select("doc_id", line.alias("content"))))
    return out.select(
        "doc_id", fget("a").alias("a"), fget("b").alias("b"), fget("c").alias("c")
    )


def q_container_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.parse import ContainerLogParser

    ev = _events_raw(spark, sf_dir)
    stream = F.when(F.col("event_id") % 4 == 0, "stderr").otherwise("stdout")
    line = F.concat(
        F.lit("2024-01-05T10:20:30."), (F.col("event_id") % 1000).cast("string"),
        F.lit("Z "), stream, F.lit(" F msg "),
        F.col("event_type"), F.lit(" "), F.col("user_id").cast("string"),
    )
    out = ContainerLogParser(ignoring_stderr=True).apply(
        to_events(ev.select("doc_id", line.alias("content")))
    )
    return out.select(
        "doc_id",
        fget("_time_").alias("time_"),
        fget("_source_").alias("source_"),
        fget("content").alias("content"),
    )


def q_log_to_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.transforms import LogToMetric

    seq = _seq(spark, sf_dir).filter(F.col("source") == "csvlog")
    ev = DelimiterParser("\t", flagship.CSV_KEYS).apply(to_events(seq))
    out = LogToMetric(
        metric_labels=["uid", "cmethod"], metric_values={"bytes": "value"}
    ).apply(ev)
    return out.select("doc_id", "__labels__", "__name__", "__value__")


def q_shardhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .aggregate import ShardHash

    seq = _seq(spark, sf_dir).drop("content")
    sh = ShardHash(["doc_id", "source"], shard_count=8)
    out = sh.apply(seq)
    return (
        out.groupBy(F.col(sh.bucket_col).cast("int").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("events"))
        .orderBy("bucket")
    )


def q_content_value_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .aggregate import GroupByValues

    seq = _seq(spark, sf_dir).filter(F.col("source") == "csvlog")
    ev = DelimiterParser("\t", flagship.CSV_KEYS).apply(to_events(seq))
    promoted = ev.select("doc_id", "source", fget("cmethod").alias("cmethod"))
    grouped = GroupByValues(["source", "cmethod"]).apply(promoted)
    return (
        grouped.groupBy(F.col("__group_topic__").alias("group_topic"))
        .agg(F.count(F.lit(1)).alias("events"))
        .orderBy("group_topic")
    )


def q_regex_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .routing import RegexRouter

    seq = _seq(spark, sf_dir)
    ev = to_events(seq)
    out = RegexRouter(
        source_key="content",
        patterns=[(r"^10\.", "web"), (r"^\{", "json")],
        default_sink="other",
    ).apply(ev)
    return out.select("doc_id", "sink")


def q_pipeline_from_config(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The config-compiler path: the nginx pipeline expressed as a reference-
    style dict config, compiled to the same DataFrame program (SURVEY.md §3.4
    lifecycle), then per-sink counts."""
    from .plans.compiler import compile_pipeline

    config = {
        "processors": [
            {
                "Type": "processor_parse_regex_native",
                "SourceKey": "content",
                "Regex": flagship.NGINX_REGEX,
                "Keys": flagship.NGINX_KEYS,
            },
            {"Type": "processor_add_fields", "Fields": {"env": "prod"}},
        ],
        "flushers": [
            {
                "Type": "flusher_sink",
                "Name": "sink_4xx",
                "Match": {"Key": "status", "Value": "404", "UseFields": True},
            },
            {"Type": "flusher_sink", "Name": "sink_all"},
        ],
    }
    seq = _seq(spark, sf_dir).filter(F.col("source") == "nginx")
    out = compile_pipeline(config).apply(to_events(seq))
    return (
        out.groupBy("sink")
        .agg(F.count(F.lit(1)).alias("events"))
        .orderBy("sink")
    )


def q_parse_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.parse import TimestampParser

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.concat(F.lit("doc-"), F.lpad(F.col("event_id").cast("string"), 8, "0")).alias(
            "doc_id"
        ),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("content"),
    )
    configure_existing(spark)
    out = TimestampParser("yyyy-MM-dd HH:mm:ss", ParserOptions(keep_fail=True)).apply(
        to_events(ev)
    )
    return out.select(
        "doc_id", F.unix_timestamp("event_time").cast("long").alias("epoch_s")
    )


def q_transform_chain2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """base64 / md5 / string_replace / anchor / packjson composite."""
    from .operators.transforms import Anchor, Base64Encode, Md5, PackJson, StringReplace

    ev = _events_raw(spark, sf_dir)
    content = F.concat(
        F.lit("user="), F.col("user_id").cast("string"),
        F.lit(";note="), F.col("event_type"), F.lit(";end"),
    )
    df = to_events(ev.select("doc_id", content.alias("content")))
    df = Base64Encode("content", "b64").apply(df)
    df = Md5("content", "sig").apply(df)
    df = StringReplace("content", method="regex", match=r"user=\d+", replace_string="user=***", dest_key="red").apply(df)
    df = Anchor(source_key="content", start="note=", stop=";", field_name="note").apply(df)
    df = PackJson(["sig", "note"], "packed").apply(df)
    return df.select(
        "doc_id",
        fget("b64").alias("b64"),
        fget("sig").alias("sig"),
        fget("red").alias("red"),
        fget("note").alias("note"),
        fget("packed").alias("packed"),
    )


def q_filter_key_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.filters import FilterKeyRegex
    from .operators.transforms import KeyValueSplitter

    ev = _events_raw(spark, sf_dir)
    content = F.concat(
        F.when(F.col("event_id") % 2 == 0, "uid").otherwise("uk"),
        F.lit(":"),
        F.col("user_id").cast("string"),
    )
    df = to_events(ev.select("doc_id", content.alias("content")))
    df = KeyValueSplitter(delimiter="\t", separator=":").apply(df)
    out = FilterKeyRegex(include=["^uid$"]).apply(df)
    return out.select("doc_id", fget("uid").alias("uid"))


def q_rate_limit_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time-windowed rate limit (the documented divergence: event-time
    windows instead of agent wall-clock token buckets)."""
    configure_existing(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.concat(F.lit("doc-"), F.lpad(F.col("event_id").cast("string"), 8, "0")).alias(
            "doc_id"
        ),
        "event_id",
        "ts",
        F.create_map(F.lit("etype"), F.col("event_type")).alias(FIELDS),
    )
    out = RateLimit(
        fields_keys=["etype"], limit=2, window="1 minute", time_col="ts",
        order_col="event_id",
    ).apply(ev)
    return out.select("doc_id", fget("etype").alias("etype"))


def q_spl_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SPL front-end (≙ processor_spl): a pipe script replaces the
    processor chain; compiled to the same DataFrame program."""
    from .spl import compile_spl

    rx = flagship.NGINX_REGEX.replace("'", "''")
    keys = ", ".join(flagship.NGINX_KEYS)
    script = (
        f"* | parse-regexp content, '{rx}' as {keys}"
        " | where status = '404' | stats count() as events by method"
    )
    seq = _seq(spark, sf_dir).filter(F.col("source") == "nginx")
    out = compile_spl(script)(to_events(seq))
    return out.orderBy("method")


def q_spl_lookup_apsara(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPL long-tail verbs: parse-apsara + lookup (broadcast dim join into
    fields) + where/project — the doc page's verb set beyond the original
    12 (docs/cn/plugins/processor/spl/processor-spl-native.md)."""
    from .spl import compile_spl

    ev = _events_raw(spark, sf_dir)
    line = F.concat(
        F.lit("[2024-01-05 10:20:30."),
        F.lpad((F.col("event_id") % 1000000).cast("string"), 6, "0"),
        F.lit("]\t["), F.upper("event_type"),
        F.lit("]\t["), F.col("user_id").cast("string"),
        F.lit("]\t[/build/app.cpp:"), (F.col("event_id") % 500).cast("string"),
        F.lit("]\tmethod:GET\tstatus:"), (F.col("user_id") % 3).cast("string"),
    )
    dim = spark.createDataFrame(
        [(0, "ok", "2xx"), (1, "warn", "4xx"), (2, "error", "5xx")],
        ["status", "status_name", "status_class"],
    )
    script = (
        "* | parse-apsara content"
        " | lookup statusmap on status output status_name, status_class"
        " | where status_name != 'warn'"
        " | extend lvl_code = status * 10"
        " | project-away content"
    )
    run = compile_spl(script, tables={"statusmap": dim})
    out = run(to_events(ev.select("doc_id", line.alias("content"))))
    return out.select(
        "doc_id",
        fget("microtime").alias("microtime"),
        fget("__LEVEL__").alias("level"),
        fget("status").alias("status"),
        fget("status_name").alias("status_name"),
        fget("status_class").alias("status_class"),
        fget("lvl_code").alias("lvl_code"),
    )


def oracle_spl_lookup_apsara() -> str:
    return """WITH ev AS (
  SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
         event_id, event_type, user_id
  FROM events
),
dim AS (SELECT * FROM (VALUES (0, 'ok', '2xx'), (1, 'warn', '4xx'),
                              (2, 'error', '5xx')) AS t(s, nm, cl))
SELECT doc_id,
  CAST(CAST(1704450030 AS BIGINT) * 1000000 + event_id % 1000000 AS VARCHAR) AS microtime,
  upper(event_type) AS level,
  CAST(user_id % 3 AS VARCHAR) AS status,
  dim.nm AS status_name,
  dim.cl AS status_class,
  CAST((user_id % 3) * 10 AS VARCHAR) AS lvl_code
FROM ev JOIN dim ON dim.s = user_id % 3
WHERE dim.nm <> 'warn'"""


def q_parse_syslog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """service_syslog parse stage (plugins/input/syslog/parser.go:84-201;
    field mapping syslog.go:410-445), auto mode over a mixed RFC3164 /
    RFC5424 / malformed stream — failed lines kept with priority -1
    (IgnoreParseFailure=true, parser.go:42-52)."""
    from .operators.syslog import SyslogParser

    ev = _events_raw(spark, sf_dir)
    pri = (F.col("user_id") % 192).cast("string")
    eid = F.col("event_id").cast("string")
    line3164 = F.concat(
        F.lit("<"), pri, F.lit(">Jan 05 10:20:"),
        F.lpad((F.col("event_id") % 60).cast("string"), 2, "0"),
        F.lit(" host-"), (F.col("user_id") % 50).cast("string"),
        F.lit(" app"), (F.col("event_id") % 7).cast("string"),
        F.lit("["), F.col("user_id").cast("string"), F.lit("]: done "),
        F.col("event_type"), F.lit(" "), eid,
    )
    procid = F.when(
        F.col("event_id") % 2 == 0, F.col("user_id").cast("string")
    ).otherwise(F.lit("-"))
    sd = F.when(F.col("event_id") % 4 == 0, F.lit("-")).otherwise(
        F.concat(
            F.lit('[meta seq="'), (F.col("event_id") % 100).cast("string"),
            F.lit('" svc="s'), (F.col("event_id") % 3).cast("string"), F.lit('"]'),
        )
    )
    line5424 = F.concat(
        F.lit("<"), pri, F.lit(">1 2024-01-05T10:20:30."),
        F.lpad((F.col("event_id") % 1000).cast("string"), 3, "0"),
        F.lit("Z h5424-"), (F.col("user_id") % 20).cast("string"),
        F.lit(" svc-"), (F.col("event_id") % 5).cast("string"),
        F.lit(" "), procid, F.lit(" m"), (F.col("event_id") % 9).cast("string"),
        F.lit(" "), sd, F.lit(" req "), F.col("event_type"),
    )
    line = (
        F.when(F.col("event_id") % 3 == 0, line3164)
        .when(F.col("event_id") % 3 == 1, line5424)
        .otherwise(F.concat(F.lit("noise "), F.col("event_type"), F.lit(" "), eid))
    )
    out = SyslogParser(mode="auto", year=2024).apply(
        to_events(ev.select("doc_id", line.alias("content")))
    )
    return out.select(
        "doc_id",
        fget("_program_").alias("program"),
        fget("_priority_").alias("priority"),
        fget("_facility_").alias("facility"),
        fget("_severity_").alias("severity"),
        fget("_unixtimestamp_").alias("unix_ts"),
        fget("_hostname_").alias("hostname"),
        fget("_content_").alias("msg"),
        fget("_process_id_").alias("proc_id"),
        fget("_message_id_").alias("msg_id"),
        fget("_structured_data_").alias("structured_data"),
    )


def oracle_parse_syslog() -> str:
    return """WITH ev AS (
  SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
         event_id, event_type, user_id,
         event_id % 3 AS m, user_id % 192 AS pri
  FROM events
)
SELECT doc_id,
  CASE WHEN m = 0 THEN 'app' || (event_id % 7)
       WHEN m = 1 THEN 'svc-' || (event_id % 5) ELSE '' END AS program,
  CAST(CASE WHEN m = 2 THEN -1 ELSE pri END AS VARCHAR) AS priority,
  CAST(CASE WHEN m = 2 THEN -1 ELSE pri // 8 END AS VARCHAR) AS facility,
  CAST(CASE WHEN m = 2 THEN -1 ELSE pri % 8 END AS VARCHAR) AS severity,
  CAST(CASE WHEN m = 0 THEN (CAST(1704450000 AS BIGINT) + event_id % 60) * 1000000000
            WHEN m = 1 THEN CAST(1704450030 AS BIGINT) * 1000000000
                            + (event_id % 1000) * 1000000
            ELSE 0 END AS VARCHAR) AS unix_ts,
  CASE WHEN m = 0 THEN 'host-' || (user_id % 50)
       WHEN m = 1 THEN 'h5424-' || (user_id % 20) ELSE '' END AS hostname,
  CASE WHEN m = 0 THEN 'done ' || event_type || ' ' || event_id
       WHEN m = 1 THEN 'req ' || event_type
       ELSE 'noise ' || event_type || ' ' || event_id END AS msg,
  CASE WHEN m = 1 AND event_id % 2 = 0 THEN CAST(user_id AS VARCHAR) END AS proc_id,
  CASE WHEN m = 1 THEN 'm' || (event_id % 9) END AS msg_id,
  CASE WHEN m = 1 AND event_id % 4 <> 0
       THEN '{"meta":{"seq":"' || (event_id % 100) || '","svc":"s'
            || (event_id % 3) || '"}}' END AS structured_data
FROM ev"""


def q_influx_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Influx line-protocol ingestion (service_http_server Format=influxdb,
    pkg/protocol/decoder/influxdb/decoder.go:159-222): per-field metric-log
    fan-out with escaped tags, typed values and FieldsExtend columns."""
    from .operators.influx import InfluxDecoder

    ev = _events_raw(spark, sf_dir)
    valtok = F.when(
        F.col("event_id") % 5 == 0, F.col("user_id").cast("string")
    ).otherwise(F.concat(F.col("user_id").cast("string"), F.lit(".5")))
    oktok = F.when(F.col("event_id") % 2 == 0, F.lit("true")).otherwise(F.lit("f"))
    line = F.concat(
        F.lit("m"), (F.col("event_id") % 4).cast("string"),
        F.lit(",host=h"), (F.col("user_id") % 10).cast("string"),
        F.lit(",zone=z\\ "), (F.col("event_id") % 2).cast("string"),
        F.lit(" value="), valtok,
        F.lit(",count="), F.col("event_id").cast("string"), F.lit("i"),
        F.lit(",ok="), oktok,
        F.lit(',msg="hi '), F.col("event_type"), F.lit('"'),
        # Go %g exponent-form boundary pins: 2000000→"2e+06", 0.0001→"0.0001",
        # 0.00001→"1e-05" (gofmt.go_g; decimal exponent <-4 or >=6 switches)
        F.lit(",big="), ((F.col("event_id") % 3 + 2) * 1000000).cast("string"),
        F.lit(",tiny=0.0001,micro=0.00001"),
        F.lit(" 1434055562"),
        F.lpad((F.col("event_id") % 1000).cast("string"), 3, "0"),
        F.lit("000000"),
    )
    out = InfluxDecoder(fields_extend=True, db="metricsdb").apply(
        to_events(ev.select("doc_id", line.alias("content")))
    )
    return out.select(
        "doc_id",
        out["__name__"].alias("name"),
        out["__time_nano__"].alias("time_nano"),
        out["__labels__"].alias("labels"),
        out["__value__"].alias("value"),
        out["__type__"].alias("vtype"),
        out["__field__"].alias("field"),
        out["__tag__:db"].alias("db"),
    )


def oracle_influx_decode() -> str:
    return """WITH ev AS (
  SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
         event_id, event_type, user_id,
         'm' || (event_id % 4) AS meas,
         'host#$#h' || (user_id % 10) || '|zone#$#z ' || (event_id % 2) AS labels,
         '1434055562' || lpad(cast(event_id % 1000 AS varchar), 3, '0')
           || '000000' AS tn
  FROM events
)
SELECT doc_id, meas AS name, tn AS time_nano, labels,
  CASE WHEN event_id % 5 = 0 THEN CAST(user_id AS VARCHAR)
       ELSE user_id || '.5' END AS value,
  'float' AS vtype, 'value' AS field, 'metricsdb' AS db FROM ev
UNION ALL
SELECT doc_id, meas || ':count', tn, labels, CAST(event_id AS VARCHAR),
  'int', 'count', 'metricsdb' FROM ev
UNION ALL
SELECT doc_id, meas || ':ok', tn, labels,
  CASE WHEN event_id % 2 = 0 THEN '1' ELSE '0' END, 'bool', 'ok', 'metricsdb'
FROM ev
UNION ALL
SELECT doc_id, meas || ':msg', tn, labels, 'hi ' || event_type,
  'string', 'msg', 'metricsdb' FROM ev
UNION ALL
SELECT doc_id, meas || ':big', tn, labels,
  (event_id % 3 + 2) || 'e+06', 'float', 'big', 'metricsdb' FROM ev
UNION ALL
SELECT doc_id, meas || ':tiny', tn, labels, '0.0001', 'float', 'tiny',
  'metricsdb' FROM ev
UNION ALL
SELECT doc_id, meas || ':micro', tn, labels, '1e-05', 'float', 'micro',
  'metricsdb' FROM ev"""


def q_statsd_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StatsD ingestion (service_http_server Format=statsd,
    pkg/protocol/decoder/statsd/decoder.go:44-64): dogstatsd lines → metric
    logs; malformed lines skipped."""
    from .operators.statsd import StatsdDecoder

    ev = _events_raw(spark, sf_dir)
    m = F.col("event_id") % 4
    line = (
        F.when(m == 0, F.concat(
            F.lit("req.count:"), F.col("user_id").cast("string"),
            F.lit("|c|#env:prod,run:r"), (F.col("event_id") % 2).cast("string"),
        ))
        .when(m == 1, F.concat(
            F.lit("fuel.level:"), F.col("user_id").cast("string"), F.lit(".25|g"),
        ))
        .when(m == 2, F.concat(
            F.lit("song.length:"), (F.col("event_id") % 300).cast("string"),
            F.lit("|ms|@0.5|#host:h"), (F.col("user_id") % 5).cast("string"),
        ))
        .otherwise(F.concat(F.lit("malformed "), F.col("event_type")))
    )
    out = StatsdDecoder(default_ts_ns=1700000000000000000).apply(
        to_events(ev.select("doc_id", line.alias("content")))
    )
    return out.select(
        "doc_id",
        out["__name__"].alias("name"),
        out["__time_nano__"].alias("time_nano"),
        out["__labels__"].alias("labels"),
        out["__value__"].alias("value"),
    )


def oracle_statsd_decode() -> str:
    return """WITH ev AS (
  SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
         event_id, event_type, user_id, event_id % 4 AS m
  FROM events
)
SELECT doc_id,
  CASE m WHEN 0 THEN 'req.count' WHEN 1 THEN 'fuel.level'
         ELSE 'song.length' END AS name,
  '1700000000000000000' AS time_nano,
  CASE m WHEN 0 THEN 'env#$#prod|run#$#r' || (event_id % 2)
         WHEN 1 THEN ''
         ELSE 'host#$#h' || (user_id % 5) END AS labels,
  CASE m WHEN 0 THEN CAST(user_id AS VARCHAR)
         WHEN 1 THEN user_id || '.25'
         ELSE CAST(event_id % 300 AS VARCHAR) END AS value
FROM ev WHERE m < 3"""


def q_pyroscope_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pyroscope profile ingestion, Format=groups (pkg/protocol/decoder/
    pyroscope/decoder.go:48-137 → pkg/helper/profile/pyroscope/raw/
    profile.go:56-176): collapsed-stack request bodies → per-stack profile
    logs. Exercises app-key label parse + .cpu strip, config-tag merge,
    spy→frame-sequence mapping (go=fn / py=pos / dotnet=fn), samples→ns
    scaling, and the bad-count-token request-kill path."""
    from .operators.pyroscope import PyroscopeGroupsDecoder

    ev = _events_raw(spark, sf_dir)
    c1 = (F.col("user_id") % 50 + 1).cast("string")
    c2 = (F.col("event_id") % 20 + 1).cast("string")
    good2 = F.concat(F.lit("alpha "), c2)
    line2 = F.when(F.col("event_id") % 7 == 0, F.lit("alpha 12x")).otherwise(good2)
    body = F.concat_ws(
        "\n",
        F.concat(F.lit("root;mid p:1;leaf q:2 "), c1),
        line2,
        F.lit("garbage"),  # no-space line: skipped, never kills the request
    )
    req = ev.select(
        "doc_id",
        body.alias("content"),
        F.concat(
            F.lit("svc"), (F.col("user_id") % 5).cast("string"),
            F.lit(".cpu{env=e"), (F.col("user_id") % 3).cast("string"), F.lit("}"),
        ).alias("name_param"),
        (F.lit(1700000000) + F.col("event_id") % 100).cast("string").alias("from_sec"),
        (F.lit(1700000010) + F.col("event_id") % 100).cast("string").alias("until_sec"),
        F.lit("100").alias("sample_rate"),
        F.when(F.col("event_id") % 3 == 0, F.lit("gospy"))
        .when(F.col("event_id") % 3 == 1, F.lit("pyspy"))
        .otherwise(F.lit("dotnetspy"))
        .alias("spy_name"),
        F.when(F.col("event_id") % 2 == 0, F.lit("samples"))
        .otherwise(F.lit("bytes"))
        .alias("units_param"),
        F.lit("sum").alias("agg_type"),
    )
    out = PyroscopeGroupsDecoder(tags={"cluster": "c1"}).apply(to_events(req))
    return out.select(
        "doc_id", "log_time_sec", "name", "stack", "stackID", "language",
        "type", "units", "valueTypes", "aggTypes", "dataType", "durationNs",
        "profileID", "labels", "val",
    )


def oracle_pyroscope_decode() -> str:
    from .operators.xxh import xxh64_hex

    sid1 = xxh64_hex(b"root;mid p:1;leaf q:2", seed=42)
    sid2 = xxh64_hex(b"alpha", seed=42)
    return f"""WITH ev AS (
  SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
         event_id, user_id,
         event_id % 2 AS m2, event_id % 3 AS m3,
         user_id % 50 + 1 AS c1, event_id % 20 + 1 AS c2,
         CAST(1700000000 + event_id % 100 AS BIGINT) AS from_s,
         'svc' || (user_id % 5) || '.cpu{{env=e' || (user_id % 3) || '}}' AS nm,
         '{{"__name__":"svc' || (user_id % 5)
           || '","cluster":"c1","env":"e' || (user_id % 3) || '"}}' AS lbl
  FROM events WHERE event_id % 7 <> 0
), req AS (
  SELECT *,
    CASE m3 WHEN 0 THEN 'go' WHEN 1 THEN 'py' ELSE 'dotnet' END AS lang,
    CASE m2 WHEN 0 THEN 'nanoseconds' ELSE 'bytes' END AS units,
    CASE m2 WHEN 0 THEN 'cpu' ELSE 'mem' END AS vt,
    CASE m2 WHEN 0 THEN 'profile_cpu' ELSE 'profile_unknown' END AS ty,
    md5(nm || ':' || from_s || ':' || (from_s + 10)) AS h
  FROM ev
), pid AS (
  SELECT *, substr(h,1,8) || '-' || substr(h,9,4) || '-' || substr(h,13,4)
         || '-' || substr(h,17,4) || '-' || substr(h,21,12) AS profileID
  FROM req
), lines AS (
  SELECT *,
    CASE WHEN m3 = 1 THEN 'q:2 leaf' ELSE 'leaf q:2' END AS name,
    CASE WHEN m3 = 1 THEN 'p:1 mid' || chr(10) || 'root'
         ELSE 'mid p:1' || chr(10) || 'root' END AS stack,
    '{sid1}' AS stackID, c1 AS cnt FROM pid
  UNION ALL
  SELECT *, 'alpha', '', '{sid2}', c2 FROM pid
)
SELECT doc_id, from_s AS log_time_sec, name, stack, stackID, lang AS language,
  ty AS type, units, vt AS valueTypes, 'sum' AS aggTypes,
  'CallStack' AS dataType, '10000000000' AS durationNs, profileID, lbl AS labels,
  printf('%.2f', CASE WHEN m2 = 0 THEN cnt * 10000000.0 ELSE cnt * 1.0 END) AS val
FROM lines"""


def q_geoip_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """processor_geoip analog: broadcast range join of parsed nginx client
    IPs against an ip-range dim (ip_int BETWEEN lo AND hi). The mmdb decode
    is out of scope (no geoip2 in-container) — the dim is an inline region
    table over the synthetic 10.0.x.y space."""
    from .operators.enrich import ip_range_lookup

    ev = _nginx_events(spark, sf_dir)
    df = ev.select("doc_id", fget("remote_addr").alias("ip"))
    base = 10 * 16777216  # 10.0.0.0
    ranges = spark.createDataFrame(
        [
            (base, base + 100 * 65536 - 1, "region-a"),
            (base + 100 * 65536, base + 256 * 65536 - 1, "region-b"),
        ],
        ["lo", "hi", "region"],
    )
    out = ip_range_lookup(df, ranges, "ip")
    return out.select("doc_id", "ip", "region")


def q_geoip_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full processor_geoip field set (go:106-128): city/province/country/
    codes/lat/lon appended under ``{source_key}_*_`` keys from a broadcast
    range table (tools/geoip_ingest.py shape), source key consumed
    (KeepSource=false). Second range row has empty city/province — those keys
    must be absent (only non-empty names are appended)."""
    from .operators.enrich import GeoIpProcessor

    ev = _nginx_events(spark, sf_dir)
    base = 10 * 16777216
    split = base + 100 * 65536
    top = base + 256 * 65536
    ranges = spark.createDataFrame(
        [
            (base, split - 1, "Hangzhou", "Zhejiang", "ZJ", "China", "CN", 30.274, 120.155),
            (split, top - 1, "", "", "", "United States", "US", 37.751, -97.822),
        ],
        "lo long, hi long, city string, province string, province_code string, "
        "country string, country_code string, latitude double, longitude double",
    )
    out = GeoIpProcessor(ranges, source_key="remote_addr", keep_source=False).apply(ev)
    return out.select(
        "doc_id",
        fget("remote_addr").alias("ip_kept"),
        fget("remote_addr_city_").alias("city"),
        fget("remote_addr_province_").alias("province"),
        fget("remote_addr_province_code_").alias("province_code"),
        fget("remote_addr_country_").alias("country"),
        fget("remote_addr_country_code_").alias("country_code"),
        fget("remote_addr_latitude_").alias("latitude"),
        fget("remote_addr_longitude_").alias("longitude"),
    )


def oracle_geoip_fields() -> str:
    from . import oracles as _o

    return f"""{_o.SEQ},
parsed AS ({_o.nginx_parsed_cte()}),
ips AS (
  SELECT doc_id,
    CAST(split_part(remote_addr, '.', 2) AS BIGINT) < 100 AS in_a
  FROM parsed
)
SELECT doc_id, CAST(NULL AS VARCHAR) AS ip_kept,
  CASE WHEN in_a THEN 'Hangzhou' END AS city,
  CASE WHEN in_a THEN 'Zhejiang' END AS province,
  CASE WHEN in_a THEN 'ZJ' END AS province_code,
  CASE WHEN in_a THEN 'China' ELSE 'United States' END AS country,
  CASE WHEN in_a THEN 'CN' ELSE 'US' END AS country_code,
  CASE WHEN in_a THEN printf('%.8f', 30.274) ELSE printf('%.8f', 37.751) END AS latitude,
  CASE WHEN in_a THEN printf('%.8f', 120.155) ELSE printf('%.8f', -97.822) END AS longitude
FROM ips"""


def q_token_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-rule per-row invariant: token-array equality. Decode each
    sequence to text, re-encode, and compare the full arrays element-wise —
    every row must round-trip exactly."""
    from .tokens import encode_line

    configure_existing(spark)
    seq = sequences_df(spark, sf_dir)
    rt = encode_line(decode_tokens("tokens")).cast("array<int>")
    return seq.select(
        "doc_id",
        F.col("n_tok"),
        F.size(rt).alias("n_tok_rt"),
        (F.col("tokens") == rt).alias("tokens_equal"),
    )


def q_prom_relabel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """processor_prom_relabel_metric_native end-to-end: target-tag append,
    keep / replace / uppercase / hashmod / labelmap / labeldrop chain,
    __-prefix + empty cleanup, external labels
    (ProcessorPromRelabelMetricNative.cpp:86-140, Relabel.cpp:144-255; golden
    actions from core/unittest/prometheus/RelabelUnittest.cpp)."""
    from .operators.relabel import PromRelabelProcessor, RelabelConfig

    ev = _events_raw(spark, sf_dir)
    tags = F.create_map(
        F.lit("__name__"), F.lit("http_requests_total"),
        F.lit("__scheme__"), F.lit("http"),
        F.lit("method"), F.col("event_type"),
        F.lit("code"), (F.col("user_id") % 5 * 100 + 200).cast("string"),
        F.lit("instance"),
        F.concat(
            F.lit("10.0."), (F.col("user_id") % 250).cast("string"),
            F.lit("."), (F.col("event_id") % 250).cast("string"), F.lit(":9100"),
        ),
    )
    df = ev.select("doc_id", tags.alias("tags"))
    proc = PromRelabelProcessor(
        configs=(
            RelabelConfig(action="keep", regex="2..|5..", source_labels=["code"]),
            RelabelConfig(
                action="replace",
                source_labels=["method", "code"],
                separator=";",
                regex=r"([a-z]+);(\d+)",
                replacement="$1_$2",
                target_label="ms",
            ),
            RelabelConfig(action="uppercase", source_labels=["ms"], target_label="ms_uc"),
            RelabelConfig(
                action="hashmod", source_labels=["instance"], target_label="shard", modulus=8
            ),
            RelabelConfig(action="labelmap", regex="__(scheme)__", replacement="$1"),
            RelabelConfig(action="labeldrop", regex="instance"),
        ),
        target_tags={"job": "nodes"},
        external_labels={"cluster": "c1"},
    )
    out = proc.apply(df)
    t = F.col("tags")
    return out.select(
        "doc_id",
        *[
            F.element_at(t, F.lit(k)).alias(k)
            for k in ["method", "code", "ms", "ms_uc", "shard", "scheme", "job", "cluster"]
        ],
    )


def oracle_prom_relabel() -> str:
    terms = " + ".join(
        f"CAST(strpos('123456789abcdef', substring(mh, {17 + i}, 1)) AS HUGEINT) * {16 ** (15 - i)}"
        for i in range(16)
    )
    return f"""WITH ev AS (
  SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
         event_type AS method,
         CAST(user_id % 5 * 100 + 200 AS VARCHAR) AS code,
         '10.0.' || (user_id % 250) || '.' || (event_id % 250) || ':9100' AS instance
  FROM events
),
kept AS (SELECT * FROM ev WHERE regexp_full_match(code, '2..|5..')),
h AS (SELECT *, md5(instance) AS mh FROM kept)
SELECT doc_id, method, code,
  method || '_' || code AS ms,
  upper(method || '_' || code) AS ms_uc,
  CAST(({terms}) % 8 AS VARCHAR) AS shard,
  'http' AS scheme, 'nodes' AS job, 'c1' AS cluster
FROM h"""


def q_prom_text_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """processor_prom_parse_metric_native: exposition lines → MetricEvent
    rows; comment/malformed lines dropped (TextParser.cpp FSM as one anchored
    regex + single-pass group extraction)."""
    from .operators.prom_text import PromTextParser

    ev = _events_raw(spark, sf_dir)
    mod = F.col("event_id") % 10
    val_txt = F.floor(F.col("event_id") * 1.37).cast("long").cast("string")
    ts_txt = (F.lit(1700000000) + F.col("event_id") % 100000).cast("string")
    line = (
        F.when(mod == 0, F.lit("# HELP a comment line"))
        .when(mod == 1, F.lit("=== 1"))
        .otherwise(
            F.concat(
                F.col("event_type"), F.lit('_total{user="u'),
                F.col("user_id").cast("string"), F.lit('",env="prod"} '),
                val_txt, F.lit(" "), ts_txt,
            )
        )
    )
    df = ev.select("doc_id", line.alias("content"))
    out = PromTextParser().apply(df)
    t = F.col("tags")
    return out.select(
        "doc_id",
        "metric_name",
        F.element_at(t, F.lit("user")).alias("user_tag"),
        F.element_at(t, F.lit("env")).alias("env_tag"),
        F.element_at(t, F.lit("__name__")).alias("name_tag"),
        F.round("value", 2).alias("value"),
        "timestamp",
        "ns",
    )


def oracle_prom_text_parse() -> str:
    return """WITH ev AS (
  SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
         event_id, event_type, user_id
  FROM events
  WHERE event_id % 10 NOT IN (0, 1)
)
SELECT doc_id,
  event_type || '_total' AS metric_name,
  'u' || user_id AS user_tag,
  'prod' AS env_tag,
  event_type || '_total' AS name_tag,
  round(CAST(floor(event_id * 1.37) AS BIGINT), 2) AS value,
  1700000000 + event_id % 100000 AS timestamp,
  CAST(0 AS BIGINT) AS ns
FROM ev"""


def q_otel_trace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """processor_otel_trace Format=json: OTLP/JSON payloads → one row per
    span with the reference's field keys (otlp_trace_parser.go:132-215)."""
    from .operators.otel import OtelTraceParser

    ev = _events_raw(spark, sf_dir)
    tid = F.md5(F.col("doc_id"))
    sid = F.substring(F.md5(F.concat(F.col("doc_id"), F.lit("s"))), 1, 16)
    start_ns = (F.lit(1663904182000000000) + F.col("event_id") * 1000).cast("string")
    end_ns = (
        F.lit(1663904182000000000)
        + F.col("event_id") * 1000
        + (F.col("event_id") % 100 + 1) * 1000000
    ).cast("string")
    payload = F.concat(
        F.lit('{"resourceSpans":[{"resource":{"attributes":['
              '{"key":"host.name","value":{"stringValue":"h'),
        (F.col("user_id") % 5).cast("string"),
        F.lit('"}},{"key":"service.name","value":{"stringValue":"'),
        F.col("event_type"),
        F.lit('"}}]},"scopeSpans":[{"scope":{"name":"io.otel","version":"1.0"},'
              '"spans":[{"traceId":"'),
        tid,
        F.lit('","spanId":"'),
        sid,
        F.lit('","name":"op-'),
        F.col("event_type"),
        F.lit('","kind":'),
        (F.col("event_id") % 5 + 1).cast("string"),
        F.lit(',"startTimeUnixNano":"'),
        start_ns,
        F.lit('","endTimeUnixNano":"'),
        end_ns,
        F.lit('","attributes":[{"key":"http.status","value":{"intValue":"'),
        (200 + F.col("user_id") % 5 * 100).cast("string"),
        F.lit('"}}],"status":{"code":'),
        (F.col("event_id") % 3).cast("string"),
        F.lit("}}]}]}]}"),
    )
    df = to_events(ev.select("doc_id", payload.alias("content")))
    out = OtelTraceParser().apply(df)
    return out.select(
        "doc_id",
        *[fget(k).alias(k.replace(".", "_")) for k in [
            "host", "service", "traceID", "spanID", "kind", "name",
            "start", "end", "duration", "attribute", "statusCode", "resource",
        ]],
    )


def oracle_otel_trace() -> str:
    return """WITH ev AS (
  SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
         event_id, event_type, user_id
  FROM events
)
SELECT doc_id,
  'h' || (user_id % 5) AS host,
  event_type AS service,
  md5(doc_id) AS traceID,
  substring(md5(doc_id || 's'), 1, 16) AS spanID,
  CASE event_id % 5 + 1
    WHEN 1 THEN 'internal' WHEN 2 THEN 'server' WHEN 3 THEN 'client'
    WHEN 4 THEN 'producer' WHEN 5 THEN 'consumer' END AS kind,
  'op-' || event_type AS name,
  CAST((1663904182000000000 + event_id * 1000) // 1000 AS VARCHAR) AS start,
  CAST((1663904182000000000 + event_id * 1000 + (event_id % 100 + 1) * 1000000) // 1000 AS VARCHAR) AS "end",
  CAST((event_id % 100 + 1) * 1000 AS VARCHAR) AS duration,
  '{"http.status":' || (200 + user_id % 5 * 100) || '}' AS attribute,
  CASE event_id % 3 WHEN 2 THEN 'ERROR' WHEN 1 THEN 'OK' ELSE 'UNSET' END AS statusCode,
  '{}' AS resource
FROM ev"""


oracle_otel_pb_trace = oracle_otel_pj_trace = oracle_otel_trace


def q_otel_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """processor_otel_metric Format=json: one gauge + one monotonic-sum data
    point per payload → SLS metric log rows (__name__/__labels__/
    __time_nano__/__value__; ConvertOtlpMetrics, otlp_metric_parser.go)."""
    from .operators.otel import OtelMetricParser

    ev = _events_raw(spark, sf_dir)
    ts = (F.lit(1663904182000000000) + F.col("event_id") * 1000).cast("string")
    payload = F.concat(
        F.lit('{"resourceMetrics":[{"resource":{"attributes":['
              '{"key":"host.name","value":{"stringValue":"h'),
        (F.col("user_id") % 5).cast("string"),
        F.lit('"}}]},"scopeMetrics":[{"metrics":['
              '{"name":"evt_value","gauge":{"dataPoints":[{"attributes":['
              '{"key":"etype","value":{"stringValue":"'),
        F.col("event_type"),
        F.lit('"}}],"timeUnixNano":"'),
        ts,
        F.lit('","asDouble":'),
        (F.col("event_id") % 97).cast("string"),
        F.lit('.5}]}},{"name":"evt_total","sum":{"isMonotonic":true,'
              '"dataPoints":[{"attributes":[],"timeUnixNano":"'),
        ts,
        F.lit('","asInt":"'),
        (F.col("event_id") % 1000).cast("string"),
        F.lit('"}]}}]}]}]}'),
    )
    df = to_events(ev.select("doc_id", payload.alias("content")))
    out = OtelMetricParser().apply(df)
    return out.select(
        "doc_id",
        fget("__name__").alias("name"),
        fget("__labels__").alias("labels"),
        fget("__time_nano__").alias("time_nano"),
        fget("__value__").alias("value"),
    )


def oracle_otel_metric() -> str:
    return """WITH ev AS (
  SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
         event_id, event_type, user_id
  FROM events
)
SELECT doc_id, 'evt_value' AS name,
  'etype#$#' || event_type || '|host.name#$#h' || (user_id % 5) AS labels,
  CAST(1663904182000000000 + event_id * 1000 AS VARCHAR) AS time_nano,
  (event_id % 97) || '.5' AS value
FROM ev
UNION ALL
SELECT doc_id, 'evt_total' AS name,
  'host.name#$#h' || (user_id % 5) || '|otlp_metric_ismonotonic#$#true' AS labels,
  CAST(1663904182000000000 + event_id * 1000 AS VARCHAR) AS time_nano,
  CAST(event_id % 1000 AS VARCHAR) AS value
FROM ev"""


oracle_otel_pb_metric = oracle_otel_pj_metric = oracle_otel_metric


def q_otel_metric_exp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """processor_otel_metric exponential-histogram + exemplar path
    (exponentialHistogram2Logs / exemplarMetricToLogs,
    otlp_metric_parser.go:77-138,247-266): one exp-histogram data point per
    payload — scale 0 (base 2, exact bounds), varying positive/negative
    offsets and counts, min sometimes 0 (skipped), one exemplar with
    traceId/spanId/filteredAttributes."""
    from .operators.otel import OtelMetricParser

    ev = _events_raw(spark, sf_dir)
    ts = (F.lit(1663904182000000000) + F.col("event_id") * 1000).cast("string")
    e = F.col("event_id")
    tid = F.md5(F.col("doc_id"))
    payload = F.concat(
        F.lit('{"resourceMetrics":[{"resource":{"attributes":['
              '{"key":"host.name","value":{"stringValue":"h'),
        (F.col("user_id") % 5).cast("string"),
        F.lit('"}}]},"scopeMetrics":[{"metrics":['
              '{"name":"evt_lat","exponentialHistogram":{"dataPoints":[{'
              '"attributes":[{"key":"etype","value":{"stringValue":"'),
        F.col("event_type"),
        F.lit('"}}],"timeUnixNano":"'), ts,
        F.lit('","count":"'), (e % 10 + 3).cast("string"),
        F.lit('","sum":'), (e % 50).cast("string"), F.lit(".5"),
        F.lit(',"min":'), (e % 3).cast("string"),
        F.lit(',"max":'), (e % 7).cast("string"),
        F.lit(',"scale":0,"zeroCount":"'), (e % 4).cast("string"),
        F.lit('","positive":{"offset":'), (e % 5 - 2).cast("string"),
        F.lit(',"bucketCounts":["'), (e % 3).cast("string"),
        F.lit('","'), (e % 6).cast("string"),
        F.lit('"]},"negative":{"offset":'), (e % 2).cast("string"),
        F.lit(',"bucketCounts":["'), (e % 2).cast("string"),
        F.lit('"]},"exemplars":[{"timeUnixNano":"'),
        (F.lit(1663904182000000000) + e * 1000 + 7).cast("string"),
        F.lit('","asDouble":'), (e % 13).cast("string"), F.lit(".25"),
        F.lit(',"traceId":"'), tid,
        F.lit('","spanId":"'), F.substring(tid, 1, 16),
        F.lit('","filteredAttributes":[{"key":"exk","value":{"stringValue":"x'),
        (e % 9).cast("string"),
        F.lit('"}}]}]}]}}]}]}]}'),
    )
    df = to_events(ev.select("doc_id", payload.alias("content")))
    out = OtelMetricParser().apply(df)
    return out.select(
        "doc_id",
        fget("__name__").alias("name"),
        fget("__labels__").alias("labels"),
        fget("__time_nano__").alias("time_nano"),
        fget("__value__").alias("value"),
    )


def _p2_sql(expr: str) -> str:
    """Go %v text of 2^n for the fixture's exponent range (all exact)."""
    cases = {-3: "0.125", -2: "0.25", -1: "0.5", 0: "1", 1: "2", 2: "4",
             3: "8", 4: "16", 5: "32"}
    arms = " ".join(f"WHEN {n} THEN '{s}'" for n, s in cases.items())
    return f"(CASE {expr} {arms} END)"


def oracle_otel_metric_exp() -> str:
    base_lb = "'etype#$#' || event_type || '|host.name#$#h' || (user_id % 5)"
    tnano = "CAST(1663904182000000000 + event_id * 1000 AS VARCHAR)"
    pos_off = "((event_id % 5) - 2)"
    arms = []
    # _sum always (x.5 is never 0), _min/_max only when non-zero, _count
    arms.append(f"SELECT doc_id, 'evt_lat_sum' AS name, {base_lb} AS labels, "
                f"{tnano} AS time_nano, (event_id % 50) || '.5' AS value FROM ev")
    arms.append(f"SELECT doc_id, 'evt_lat_min', {base_lb}, {tnano}, "
                "CAST(event_id % 3 AS VARCHAR) FROM ev WHERE event_id % 3 <> 0")
    arms.append(f"SELECT doc_id, 'evt_lat_max', {base_lb}, {tnano}, "
                "CAST(event_id % 7 AS VARCHAR) FROM ev WHERE event_id % 7 <> 0")
    arms.append(f"SELECT doc_id, 'evt_lat_count', {base_lb}, {tnano}, "
                "CAST(event_id % 10 + 3 AS VARCHAR) FROM ev")
    # exemplar: labels sorted etype < exk < host.name < spanId < traceId
    arms.append(
        "SELECT doc_id, 'evt_lat_exemplars', "
        "'etype#$#' || event_type || '|exk#$#x' || (event_id % 9) || "
        "'|host.name#$#h' || (user_id % 5) || '|spanId#$#' || "
        "substr(md5(doc_id), 1, 16) || '|traceId#$#' || md5(doc_id), "
        "CAST(1663904182000000000 + event_id * 1000 + 7 AS VARCHAR), "
        "(event_id % 13) || '.25' FROM ev"
    )
    # positive buckets i=0,1: (2^(off+i), 2^(off+i+1)]
    for i in range(2):
        lo = _p2_sql(f"{pos_off} + {i}")
        hi = _p2_sql(f"{pos_off} + {i + 1}")
        cnt = "CAST(event_id % 3 AS VARCHAR)" if i == 0 else "CAST(event_id % 6 AS VARCHAR)"
        arms.append(
            f"SELECT doc_id, 'evt_lat_bucket', {base_lb} || '|le#$#(' || {lo} "
            f"|| ',' || {hi} || ']', {tnano}, {cnt} FROM ev"
        )
    arms.append(f"SELECT doc_id, 'evt_lat_bucket', {base_lb} || "
                f"'|le#$#positive.offset', {tnano}, CAST({pos_off} AS VARCHAR) FROM ev")
    arms.append(f"SELECT doc_id, 'evt_lat_bucket', {base_lb} || "
                f"'|le#$#zero.count', {tnano}, CAST(event_id % 4 AS VARCHAR) FROM ev")
    # negative bucket i=0: [-2^(off2+1), -2^off2)
    nlo = _p2_sql("(event_id % 2)")
    nhi = _p2_sql("(event_id % 2) + 1")
    arms.append(
        f"SELECT doc_id, 'evt_lat_bucket', {base_lb} || '|le#$#[-' || {nhi} "
        f"|| ',-' || {nlo} || ')', {tnano}, CAST(event_id % 2 AS VARCHAR) FROM ev"
    )
    arms.append(f"SELECT doc_id, 'evt_lat_bucket', {base_lb} || "
                f"'|le#$#negative.offset', {tnano}, "
                "CAST(event_id % 2 AS VARCHAR) FROM ev")
    body = "\nUNION ALL\n".join(arms)
    return (
        "WITH ev AS (\n  SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') "
        "AS doc_id,\n         event_id, event_type, user_id\n  FROM events\n)\n"
        + body
    )


def q_gotime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """processor_gotime: epoch-seconds source → Go-layout formatted dest key
    in a +08:00 destination timezone (processor_gotime.go:118-160)."""
    from .operators.base import FIELDS
    from .operators.transforms import GoTime

    ev = _events_raw(spark, sf_dir)
    df = ev.select(
        "doc_id",
        F.create_map(
            F.lit("ts"), (F.lit(1600000000) + F.col("event_id") * 37 % 100000).cast("string")
        ).alias(FIELDS),
    )
    g = GoTime(
        "ts", "seconds", "formatted", "2006/01/02 15:04:05",
        dest_location=8, keep_source=True,
    )
    out = g.apply(df)
    return out.select("doc_id", fget("ts").alias("ts"), fget("formatted").alias("formatted"))


def oracle_gotime() -> str:
    return """WITH ev AS (
  SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
         1600000000 + event_id * 37 % 100000 AS epoch
  FROM events
)
SELECT doc_id, CAST(epoch AS VARCHAR) AS ts,
  strftime(to_timestamp(epoch) + INTERVAL 8 HOUR, '%Y/%m/%d %H:%M:%S') AS formatted
FROM ev"""


def q_field_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained field ops that previously had pytest-only coverage:
    Appender (append-with-delimiter + create-if-absent) →
    FieldsWithCondition (first-matching-case add/drop) → Drop → PickKey →
    DropLastKey (drop raw only when parsed keys all present)."""
    from .operators.base import FIELDS
    from .operators.transforms import (
        Appender,
        Drop,
        DropLastKey,
        FieldsWithCondition,
        PickKey,
    )

    ev = _events_raw(spark, sf_dir)
    fields = F.create_map(
        F.lit("etype"), F.col("event_type"),
        F.lit("uid"), F.col("user_id").cast("string"),
        F.lit("raw"), F.concat(F.col("event_type"), F.lit("|"), F.col("user_id").cast("string")),
        F.lit("junk"), F.lit("x"),
    )
    # rows where uid%4==0 also carry a pre-existing tags value
    fields = F.when(
        F.col("user_id") % 4 == 0,
        F.map_concat(fields, F.create_map(F.lit("tags"), F.lit("env=prod"))),
    ).otherwise(fields)
    df = ev.select("doc_id", fields.alias(FIELDS))
    chain = [
        Appender("tags", "cluster=c1", delimiter=","),
        FieldsWithCondition(
            cases=[
                {"when": {"etype": ("equals", "error")}, "add": {"sev": "high"}, "drop": ["junk"]},
                {"when": {"etype": ("startwith", "p")}, "add": {"sev": "purchase-ish"}},
                {"when": {"etype": ("regexp", "view|click")}, "add": {"sev": "low"}},
            ],
        ),
        Drop(["uid"]),
        PickKey(exclude=["junk"]),
        DropLastKey("raw", include=["etype", "sev"]),
    ]
    out = df
    for op in chain:
        out = op.apply(out)
    return out.select(
        "doc_id",
        fget("etype").alias("etype"),
        fget("sev").alias("sev"),
        fget("tags").alias("tags"),
        fget("raw").alias("raw"),
    )


def oracle_field_ops() -> str:
    return """WITH ev AS (
  SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
         event_id, event_type, user_id
  FROM events
)
SELECT doc_id,
  event_type AS etype,
  CASE WHEN event_type = 'error' THEN 'high'
       WHEN event_type LIKE 'p%' THEN 'purchase-ish'
       WHEN regexp_matches(event_type, 'view|click') THEN 'low'
  END AS sev,
  CASE WHEN user_id % 4 = 0 THEN 'env=prod,cluster=c1' ELSE 'cluster=c1' END AS tags,
  CASE WHEN event_type IN ('error', 'purchase', 'view', 'click')
       THEN NULL
       ELSE event_type || '|' || user_id
  END AS raw
FROM ev"""


def q_route_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-TYPE routing (EventTypeCondition, Condition.cpp:36-59): a mixed
    log+metric stream fanned out by __event_type__ plus an unconditioned
    catch-all sink; per-sink counts + metric value totals."""
    from .models import metric_events, tag_log_events, union_event_stream
    from .routing import EventTypeCondition, RouteCondition, Router

    configure_existing(spark)
    raw = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.concat(F.lit("doc-"), F.lpad(F.col("event_id").cast("string"), 8, "0")).alias("doc_id"),
        "event_type",
        "value",
    )
    logs = tag_log_events(
        to_events(
            raw.select(
                "doc_id",
                F.concat(F.lit("evt "), F.col("event_type")).alias("content"),
            )
        )
    )
    mets = metric_events(
        raw, "event_value", tags={"etype": "event_type"}, value="value"
    ).withColumn("doc_id", F.lit(None).cast("string"))
    stream = union_event_stream(logs, mets)
    rules = [
        EventTypeCondition("metric_sink", "metric"),
        EventTypeCondition("log_sink", "log"),
        RouteCondition("all_events"),
    ]
    routed = Router(rules).apply(stream)
    return (
        routed.groupBy("sink")
        .agg(
            F.count(F.lit(1)).alias("events"),
            F.round(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 2).alias("value_total"),
        )
        .orderBy("sink")
    )


def oracle_route_event_type() -> str:
    return """WITH m AS (SELECT count(*) AS n, round(sum(value), 2) AS v FROM events)
SELECT 'all_events' AS sink, 2 * n AS events, v AS value_total FROM m
UNION ALL
SELECT 'log_sink' AS sink, n AS events, 0.0 AS value_total FROM m
UNION ALL
SELECT 'metric_sink' AS sink, n AS events, v AS value_total FROM m
ORDER BY sink"""


def oracle_parse_grok() -> str:
    import re

    from .operators.parse import expand_grok

    rx = expand_grok(
        "%{IP:client} %{WORD:method} %{URIPATHPARAM:request} %{NUMBER:bytes} %{NUMBER:duration}"
    )
    names = list(re.compile(rx).groupindex.items())  # (name, idx) in order
    anon = re.sub(r"\(\?P<\w+>", "(", rx)
    anon_anchored = f"^(?:{anon})$".replace("'", "''")
    cols = ",\n  ".join(
        f"CASE WHEN regexp_matches(content, '{anon_anchored}') THEN "
        f"regexp_extract(content, '{anon_anchored}', {idx}) END AS {name}"
        for name, idx in names
    )
    return f"""{oracles.SEQ},
g AS (
  SELECT doc_id, '10.0.' || (n_tok % 200) || '.1 GET /index/' || source || ' ' || n_tok || ' 0.043' AS content
  FROM seq
)
SELECT doc_id, {cols} FROM g"""


# ---------------------------------------------------------------------------
# processor_parse_from_pb_native (SURVEY §2 #21): LoongSuite PB wire decode.
# The oracle cannot build protobuf bytes in SQL, so the query proves the
# wire ROUND TRIP over real bytes (encode in a group_rows fixture stage,
# decode with the operator under test) and the oracle computes the expected
# decoded rows directly from `events`; byte-level decode correctness against
# hand-assembled wire bytes is pinned separately in tests/test_pb.py.

_PB_TS_BASE = 1_700_000_000_000_000_000  # ns; offsets exercise the sec/ns split


def q_parse_from_pb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ProcessorParseFromPBNative.cpp:74-121 — one payload per group, log
    events fan out; group tags inherited onto every row."""
    from .operators.pb import ParseFromPB, encode_groups_df, encode_log_event

    configure_existing(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type", "user_id", "props",
        (F.col("event_id") % 32).alias("group_no"),
    )

    def build(r: dict) -> bytes:
        return encode_log_event(
            ts=_PB_TS_BASE + r["event_id"] * 1_000_003,
            contents={
                "event_type": r["event_type"],
                "user_id": str(r["user_id"]),
                "props": r["props"],
            },
            level=r["event_type"],
            file_offset=r["event_id"],
            raw_size=len(r["props"]),
        )

    payloads = encode_groups_df(ev, "group_no", build, etype="log", tag_cols={"g": "group_no"})
    rows = ParseFromPB("payload").apply(payloads)
    return rows.select(
        F.col("file_offset").alias("event_id"),
        F.col("group_tags")["g"].alias("g"),
        "ts_sec",
        "ts_ns",
        F.col("contents")["event_type"].alias("event_type"),
        F.col("contents")["user_id"].alias("user_id"),
        F.col("contents")["props"].alias("props"),
        "level",
        "raw_size",
    )


def oracle_parse_from_pb() -> str:
    return f"""SELECT event_id,
  CAST(event_id % 32 AS VARCHAR) AS g,
  ({_PB_TS_BASE} + event_id * 1000003) // 1000000000 AS ts_sec,
  ({_PB_TS_BASE} + event_id * 1000003) % 1000000000 AS ts_ns,
  event_type,
  CAST(user_id AS VARCHAR) AS user_id,
  props,
  event_type AS level,
  length(props) AS raw_size
FROM events"""


def q_parse_from_pb_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metric + span decode through the same wire path: 'error' events ship
    as MetricEvent groups (UntypedSingleValue variant), the rest as
    SpanEvent groups (kind/status enum casts, start/end ns)."""
    from .operators.pb import (
        ParseFromPB,
        encode_groups_df,
        encode_metric_event,
        encode_span_event,
    )

    configure_existing(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type", "user_id", "value",
        (F.col("event_id") % 16).alias("group_no"),
    )

    def build_metric(r: dict) -> bytes:
        return encode_metric_event(
            ts=_PB_TS_BASE + r["event_id"] * 999_983,
            name="m_" + r["event_type"],
            value=r["value"],
            tags={"u": str(r["user_id"])},
        )

    def build_span(r: dict) -> bytes:
        eid = r["event_id"]
        ts = _PB_TS_BASE + eid * 999_983
        return encode_span_event(
            ts=ts,
            trace_id=f"tr-{eid}",
            span_id=f"sp-{eid}",
            name=r["event_type"],
            kind=eid % 6,
            start_ns=ts,
            end_ns=ts + r["user_id"],
            tags={"u": str(r["user_id"])},
            status=eid % 3,
        )

    metrics = encode_groups_df(
        ev.filter(F.col("event_type") == "error"), "group_no", build_metric, etype="metric"
    )
    spans = encode_groups_df(
        ev.filter(F.col("event_type") != "error"), "group_no", build_span, etype="trace"
    )
    rows = ParseFromPB("payload").apply(metrics.unionByName(spans))
    return rows.select(
        "__event_type__",
        "ts_sec",
        "ts_ns",
        "metric_name",
        F.round(F.col("value"), 4).alias("value"),
        F.col("metric_tags")["u"].alias("mu"),
        "trace_id",
        "span_id",
        F.col("span_name").alias("span_name"),
        "kind",
        "start_ns",
        "end_ns",
        "status",
        F.col("span_tags")["u"].alias("su"),
    )


def oracle_parse_from_pb_mixed() -> str:
    ts = f"({_PB_TS_BASE} + event_id * 999983)"
    return f"""SELECT 'metric' AS __event_type__,
  {ts} // 1000000000 AS ts_sec, {ts} % 1000000000 AS ts_ns,
  'm_' || event_type AS metric_name, round(value, 4) AS value,
  CAST(user_id AS VARCHAR) AS mu,
  NULL AS trace_id, NULL AS span_id, NULL AS span_name,
  NULL AS kind, NULL AS start_ns, NULL AS end_ns, NULL AS status, NULL AS su
FROM events WHERE event_type = 'error'
UNION ALL
SELECT 'trace' AS __event_type__,
  {ts} // 1000000000 AS ts_sec, {ts} % 1000000000 AS ts_ns,
  NULL AS metric_name, NULL AS value, NULL AS mu,
  'tr-' || event_id AS trace_id, 'sp-' || event_id AS span_id,
  event_type AS span_name, event_id % 6 AS kind,
  {ts} AS start_ns, {ts} + user_id AS end_ns, event_id % 3 AS status,
  CAST(user_id AS VARCHAR) AS su
FROM events WHERE event_type <> 'error'"""


def q_telemetry_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aggregator_opentelemetry + aggregator_skywalking routing/batching:
    otel routes on content arity (<=5 metrics / >=19 traces / else logs,
    aggregator_opentelemetry.go:96-106), skywalking on the first content key
    (aggregator_skywalking.go:93-109); zero-content rows are never added;
    batches of max_count within each store."""
    from .aggregate import BATCH_COL, LOGSTORE_COL, TelemetryRouter

    configure_existing(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type", (F.col("event_id") % 24).alias("n")
    )
    first_key = (
        F.when(F.col("event_type") == "error", "__name__")
        .when(F.col("event_type") == "click", "links")
        .when(F.col("event_type") == "signup", "otlp.name")
        .otherwise("other")
    )
    filler = F.transform(
        F.sequence(F.lit(1), F.lit(23)),
        lambda i: F.concat(F.lit("f"), i.cast("string")),
    )
    # n=0 rows get an EMPTY contents map — the router must drop them
    keys = F.slice(F.concat(F.array(first_key), filler), 1, F.col("n"))
    fields = F.map_from_arrays(keys, F.transform(keys, lambda _: F.lit("v")))
    df = ev.withColumn("fields", fields)

    otel = TelemetryRouter(mode="opentelemetry", max_count=64)
    routed = otel.apply(df, order_col="event_id")
    sky = TelemetryRouter(mode="skywalking")
    return routed.select(
        "event_id",
        "n",
        F.col(LOGSTORE_COL).alias("otel_store"),
        F.col(BATCH_COL).alias("otel_batch"),
        sky.route().alias("sky_store"),
    )


def oracle_telemetry_agg() -> str:
    return """WITH e AS (
  SELECT event_id, event_type, event_id % 24 AS n FROM events WHERE event_id % 24 > 0
), r AS (
  SELECT event_id, n,
    CASE WHEN n <= 5 THEN 'otlp-metrics'
         WHEN n >= 19 THEN 'otlp-traces'
         ELSE 'otlp-logs' END AS otel_store,
    CASE WHEN event_type = 'error' THEN 'skywalking-metrics'
         WHEN event_type = 'click' THEN 'skywalking-traces'
         ELSE 'skywalking-logs' END AS sky_store
  FROM e
)
SELECT event_id, n, otel_store,
  CAST((row_number() OVER (PARTITION BY otel_store ORDER BY event_id) - 1) // 64 AS VARCHAR) AS otel_batch,
  sky_store
FROM r"""


def _otel_pb_events(ev: DataFrame, signal: str) -> DataFrame:
    """Fixture event frame (doc_id, fields) whose ``content`` is the OTLP
    wire bytes, hex (``OtelPbToJson``'s default encoding), of the q_otel_trace
    / q_otel_metric / q_otel_log fixture values: same numbers, protobuf wire
    instead of JSON text, so the Format=protobuf path reuses those queries'
    oracles. One ``payload_rows`` Arrow stage."""
    import hashlib

    from .operators import otlp_pb as W

    def rows_of(r: dict) -> list[tuple]:
        d, e, t, u = r["doc_id"], r["event_id"], r["event_type"], r["user_id"]
        if signal == "trace":
            tid = bytes.fromhex(hashlib.md5(d.encode()).hexdigest())
            sid = bytes.fromhex(hashlib.md5((d + "s").encode()).hexdigest()[:16])
            start = 1663904182000000000 + e * 1000
            end = start + (e % 100 + 1) * 1000000
            sp = W.encode_span_pb(
                tid, sid, f"op-{t}", e % 5 + 1, start, end,
                attrs=[W.encode_attr("http.status", 200 + u % 5 * 100)],
                status_code=e % 3,
            )
            payload = W.encode_traces_data(
                [W.encode_attr("host.name", f"h{u % 5}"),
                 W.encode_attr("service.name", t)],
                "io.otel", "1.0", [sp],
            )
        elif signal == "metric":
            ts = 1663904182000000000 + e * 1000
            gauge_dp = W.encode_number_dp(
                ts, as_double=e % 97 + 0.5, attrs=[W.encode_attr("etype", t)]
            )
            sum_dp = W.encode_number_dp(ts, as_int=e % 1000)
            payload = W.encode_metrics_data(
                [W.encode_gauge_metric("evt_value", [gauge_dp]),
                 W.encode_sum_metric("evt_total", [sum_dp], True)],
                [W.encode_attr("host.name", f"h{u % 5}")],
            )
        else:
            rec = W.encode_log_record_pb(
                _OTEL_LOG_TS_BASE + e * 1000,
                severity_number=e % 25,
                severity_text=t,
                body=f"msg-{t}",
                attrs=[W.encode_attr("attr1", e % 100), W.encode_attr("attr2", e % 2 == 0)],
            )
            payload = W.encode_logs_data(
                [rec], resource_attrs=[W.encode_attr("serviceName", f"svc-{u % 5}")]
            )
        return [(payload.hex(),)]

    cols = ["doc_id", "event_id", "event_type", "user_id"]
    content = [StructField("content", StringType())]
    return to_events(payload_rows(ev, cols, ["doc_id"], content, rows_of))


def q_otel_pb_trace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """processor_otel_trace Format=protobuf (processor_otel_trace.go:31):
    OTLP TracesData WIRE bytes → the Python wire decode (operators/otlp_pb.py
    OtelPbToJson) → the same OtelTraceParser and oracle as the Format=json
    query."""
    from .operators.otel import OtelTraceParser
    from .operators.otlp_pb import OtelPbToJson

    df = _otel_pb_events(_events_raw(spark, sf_dir), "trace")
    out = OtelTraceParser().apply(OtelPbToJson("trace").apply(df))
    return out.select(
        "doc_id",
        *[fget(k).alias(k.replace(".", "_")) for k in [
            "host", "service", "traceID", "spanID", "kind", "name",
            "start", "end", "duration", "attribute", "statusCode", "resource",
        ]],
    )


def q_otel_pb_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """processor_otel_metric Format=protobuf: MetricsData wire bytes through
    the Python wire decode (otlp_pb.py), then the Format=json parser +
    oracle."""
    from .operators.otel import OtelMetricParser
    from .operators.otlp_pb import OtelPbToJson

    df = _otel_pb_events(_events_raw(spark, sf_dir), "metric")
    out = OtelMetricParser().apply(OtelPbToJson("metric").apply(df))
    return out.select(
        "doc_id",
        fget("__name__").alias("name"),
        fget("__labels__").alias("labels"),
        fget("__time_nano__").alias("time_nano"),
        fget("__value__").alias("value"),
    )


def q_otel_pj_trace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """processor_otel_trace Format=protojson (processor_otel_trace.go:87-90):
    a single ResourceSpans object, enum-NAME kind, mixed name/int/absent
    status, hex ids under NeedDecode=True — same values as q_otel_trace, so
    it shares that oracle."""
    from .operators.otel import OtelTraceParser

    ev = _events_raw(spark, sf_dir)
    tid = F.md5(F.col("doc_id"))
    sid = F.substring(F.md5(F.concat(F.col("doc_id"), F.lit("s"))), 1, 16)
    start_ns = (F.lit(1663904182000000000) + F.col("event_id") * 1000).cast("string")
    end_ns = (
        F.lit(1663904182000000000)
        + F.col("event_id") * 1000
        + (F.col("event_id") % 100 + 1) * 1000000
    ).cast("string")
    kind_name = F.element_at(
        F.array(
            *[
                F.lit(n)
                for n in [
                    "SPAN_KIND_INTERNAL",
                    "SPAN_KIND_SERVER",
                    "SPAN_KIND_CLIENT",
                    "SPAN_KIND_PRODUCER",
                    "SPAN_KIND_CONSUMER",
                ]
            ]
        ),
        (F.col("event_id") % 5 + 1).cast("int"),
    )
    status = (
        F.when(F.col("event_id") % 3 == 0, F.lit("{}"))
        .when(F.col("event_id") % 3 == 1, F.lit('{"code":"STATUS_CODE_OK"}'))
        .otherwise(F.lit('{"code":2}'))
    )
    payload = F.concat(
        F.lit(
            '{"resource":{"attributes":['
            '{"key":"host.name","value":{"stringValue":"h'
        ),
        (F.col("user_id") % 5).cast("string"),
        F.lit('"}},{"key":"service.name","value":{"stringValue":"'),
        F.col("event_type"),
        F.lit(
            '"}}]},"scopeSpans":[{"scope":{"name":"io.otel","version":"1.0"},'
            '"spans":[{"traceId":"'
        ),
        tid,
        F.lit('","spanId":"'),
        sid,
        F.lit('","name":"op-'),
        F.col("event_type"),
        F.lit('","kind":"'),
        kind_name,
        F.lit('","startTimeUnixNano":"'),
        start_ns,
        F.lit('","endTimeUnixNano":"'),
        end_ns,
        F.lit('","attributes":[{"key":"http.status","value":{"intValue":"'),
        (200 + F.col("user_id") % 5 * 100).cast("string"),
        F.lit('"}}],"status":'),
        status,
        F.lit("}]}]}"),
    )
    df = to_events(ev.select("doc_id", payload.alias("content")))
    out = OtelTraceParser(
        format="protojson",
        trace_id_need_decode=True,
        span_id_need_decode=True,
        parent_span_id_need_decode=True,
    ).apply(df)
    return out.select(
        "doc_id",
        *[fget(k).alias(k.replace(".", "_")) for k in [
            "host", "service", "traceID", "spanID", "kind", "name",
            "start", "end", "duration", "attribute", "statusCode", "resource",
        ]],
    )


def q_otel_pj_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """processor_otel_metric Format=protojson (processor_otel_metric.go:126):
    a single ResourceMetrics object through the shared converter — same
    values as q_otel_metric, shares that oracle."""
    from .operators.otel import OtelMetricParser

    ev = _events_raw(spark, sf_dir)
    ts = (F.lit(1663904182000000000) + F.col("event_id") * 1000).cast("string")
    payload = F.concat(
        F.lit(
            '{"resource":{"attributes":['
            '{"key":"host.name","value":{"stringValue":"h'
        ),
        (F.col("user_id") % 5).cast("string"),
        F.lit(
            '"}}]},"scopeMetrics":[{"metrics":['
            '{"name":"evt_value","gauge":{"dataPoints":[{"attributes":['
            '{"key":"etype","value":{"stringValue":"'
        ),
        F.col("event_type"),
        F.lit('"}}],"timeUnixNano":"'),
        ts,
        F.lit('","asDouble":'),
        (F.col("event_id") % 97).cast("string"),
        F.lit(
            '.5}]}},{"name":"evt_total","sum":{"isMonotonic":true,'
            '"dataPoints":[{"attributes":[],"timeUnixNano":"'
        ),
        ts,
        F.lit('","asInt":"'),
        (F.col("event_id") % 1000).cast("string"),
        F.lit('"}]}}]}]}'),
    )
    df = to_events(ev.select("doc_id", payload.alias("content")))
    out = OtelMetricParser(format="protojson").apply(df)
    return out.select(
        "doc_id",
        fget("__name__").alias("name"),
        fget("__labels__").alias("labels"),
        fget("__time_nano__").alias("time_nano"),
        fget("__value__").alias("value"),
    )


# --- flusher-side protocol converters (pkg/protocol/converter) ---------------


def _converter_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic event frame for the converter queries: a content map
    with a ``__tag__:``-prefixed agent tag, a per-row topic and log time."""
    ev = _events_raw(spark, sf_dir)
    return ev.select(
        "doc_id",
        "event_id",
        F.create_map(
            F.lit("method"), F.col("event_type"),
            F.lit("status"), (F.col("event_id") % 5).cast("string"),
            F.lit("__tag__:__path__"), F.lit("/var/log/app.log"),
            F.lit("__tag__:__user_defined_id__"), F.lit("drop-me"),
        ).alias(FIELDS),
        F.when(F.col("event_id") % 2 == 0, F.lit("web")).otherwise(F.lit("")).alias(
            "__topic__"
        ),
        (F.lit(1700000000) + F.col("event_id") % 86400).alias("log_time_sec"),
    )


def q_flusher_custom_single(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``custom_single`` protocol, Encoding=json (custom_single_log.go:32-95):
    per-log {"time","contents","tags"} JSON with Go-sorted keys, tag-name
    conversion (__tag__:__path__ → log.file.path → TagKeyRenameMap rename),
    __user_defined_id__ drop, host.ip injection and per-row log.topic."""
    from .operators.convert import CustomSingleConverter

    df = _converter_frame(spark, sf_dir)
    out = CustomSingleConverter(
        tag_key_rename={"log.file.path": "file.path"},
        source="10.1.2.3",
        topic=F.col("__topic__"),
    ).apply(df)
    return out.select("doc_id", "serialized")


def oracle_flusher_custom_single() -> str:
    return """SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
  '{"contents":{"method":"' || event_type || '","status":"'
    || (event_id % 5) || '"},"tags":{"file.path":"/var/log/app.log",'
    || '"host.ip":"10.1.2.3"'
    || CASE WHEN event_id % 2 = 0 THEN ',"log.topic":"web"' ELSE '' END
    || '},"time":' || (1700000000 + event_id % 86400) || '}' AS serialized
FROM events"""


def q_flusher_jsonline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``jsonline`` protocol (jsonline.go:16-42): the custom_single_flatten
    per-log JSONs of a sink group newline-joined into one payload — one
    partial-agg shuffle keyed by sink."""
    from .operators.convert import CustomSingleConverter, jsonline_stream

    df = _converter_frame(spark, sf_dir)
    out = CustomSingleConverter(
        flatten=True,
        tag_key_rename={"log.file.path": "file.path"},
        source="10.1.2.3",
        topic=F.col("__topic__"),
    ).apply(df)
    out = out.withColumn("sink", F.concat(F.lit("sink-"), (F.col("event_id") % 4).cast("string")))
    return jsonline_stream(out, ["sink"], "doc_id")


def oracle_flusher_jsonline() -> str:
    return """WITH line AS (
  SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
    'sink-' || (event_id % 4) AS sink,
    '{"file.path":"/var/log/app.log","host.ip":"10.1.2.3",'
      || CASE WHEN event_id % 2 = 0 THEN '"log.topic":"web",' ELSE '' END
      || '"method":"' || event_type || '","status":"' || (event_id % 5)
      || '","time":' || (1700000000 + event_id % 86400) || '}' AS js
  FROM events
)
SELECT sink, string_agg(js, chr(10) ORDER BY doc_id) AS stream
FROM line GROUP BY sink"""


def q_flusher_influx_line(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``influxdb`` flusher protocol (influxdb_metric.go:32-86): metric-shaped
    logs re-encoded as influx line protocol — readNames field-suffix split,
    typed values (float/int/bool/string), tag escaping, label-string recovery
    parse; a log metricReader would reject yields a NULL line (dropped)."""
    from .operators.convert import InfluxMetricSerializer

    ev = _events_raw(spark, sf_dir)
    m = F.col("event_id") % 4
    frame = ev.select(
        "doc_id",
        "event_id",
        F.when(m == 1, F.concat(F.lit("cpu"), (F.col("event_id") % 3).cast("string"), F.lit(":load")))
        .otherwise(F.concat(F.lit("cpu"), (F.col("event_id") % 3).cast("string"))).alias("__name__"),
        F.when(
            F.col("event_id") % 11 == 0, F.lit("dangling-key-no-sep")
        ).otherwise(
            F.concat(
                F.lit("host#$#h"), (F.col("user_id") % 10).cast("string"),
                F.lit("|zone#$#z "), (F.col("event_id") % 2).cast("string"),
            )
        ).alias("__labels__"),
        F.when(m == 0, F.concat((F.col("user_id") % 1000).cast("string"), F.lit(".5")))
        .when(m == 1, (F.col("event_id") % 100).cast("string"))
        .when(m == 2, F.when(F.col("event_id") % 8 == 2, F.lit("true")).otherwise(F.lit("f")))
        .otherwise(F.concat(F.lit("hi "), F.col("event_type"))).alias("__value__"),
        F.when(m == 0, F.lit("float")).when(m == 1, F.lit("int"))
        .when(m == 2, F.lit("bool")).otherwise(F.lit("string")).alias("__type__"),
        F.when(m == 1, F.lit("load")).otherwise(F.lit("")).alias("__field__"),
        F.concat(
            F.lit("1434055562"),
            F.lpad((F.col("event_id") % 1000).cast("string"), 3, "0"),
            F.lit("000000"),
        ).alias("__time_nano__"),
    )
    out = InfluxMetricSerializer().apply(frame)
    return out.filter(F.col("line").isNotNull()).select("doc_id", "line")


def oracle_flusher_influx_line() -> str:
    return r"""SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
  'cpu' || (event_id % 3)
  || ',host=h' || (user_id % 10) || ',zone=z\ ' || (event_id % 2) || ' '
  || CASE event_id % 4
       WHEN 0 THEN 'value=' || (user_id % 1000) || '.5'
       WHEN 1 THEN 'load=' || (event_id % 100) || 'i'
       WHEN 2 THEN 'value=' || (CASE WHEN event_id % 8 = 2 THEN 'true' ELSE 'false' END)
       ELSE 'value="hi ' || event_type || '"'
     END
  || ' 1434055562' || lpad(cast(event_id % 1000 AS varchar), 3, '0') || '000000' AS line
FROM events WHERE event_id % 11 <> 0"""


def q_flusher_es_bulk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """flusher_elasticsearch bulk bodies (flusher_elasticsearch.go:189-235):
    per-log '{"index": {"_index": ...}}' action lines with a dynamic
    fmtstr index (content var + %{+yyyy.MM.dd} date), custom_single docs,
    one newline-joined bulk request body per sink group."""
    from .operators.convert import CustomSingleConverter, es_bulk_sink_frames

    df = _converter_frame(spark, sf_dir)
    df = df.withColumn(
        "sink", F.concat(F.lit("es-"), (F.col("event_id") % 3).cast("string"))
    )
    out = es_bulk_sink_frames(
        df,
        "app-%{content.method}-%{+yyyy.MM.dd}",
        ["sink"],
        "doc_id",
        conv=CustomSingleConverter(
            tag_key_rename={"log.file.path": "file.path"},
            source="10.1.2.3",
            topic=F.col("__topic__"),
        ),
    )
    return out.select("sink", "body")


def oracle_flusher_es_bulk() -> str:
    return """WITH unit AS (
  SELECT 'es-' || (event_id % 3) AS sink,
    'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
    '{"index": {"_index": "app-' || event_type || '-'
      || strftime(to_timestamp(1700000000 + event_id % 86400), '%Y.%m.%d')
      || '"}}' || chr(10)
      || '{"contents":{"method":"' || event_type || '","status":"'
      || (event_id % 5) || '"},"tags":{"file.path":"/var/log/app.log",'
      || '"host.ip":"10.1.2.3"'
      || CASE WHEN event_id % 2 = 0 THEN ',"log.topic":"web"' ELSE '' END
      || '},"time":' || (1700000000 + event_id % 86400) || '}' AS u
  FROM events
)
SELECT sink, string_agg(u, chr(10) ORDER BY doc_id) || chr(10) AS body
FROM unit GROUP BY sink"""


def q_kafka_dynamic_topic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """flusher_kafka_v2 dynamic-topic routing (flusher_kafka_v2.go:232-245,
    317-356 + pkg/fmtstr): per-event topic from a ``%{content.x}/%{tag.y}``
    pattern (missing key → literal key text), sarama hash-partitioner key
    from HashKeys, then the per-topic batch counts a partitioned write
    would produce — one partial-agg shuffle keyed by (topic, key)."""
    from .operators.fmtstr import kafka_hash_key, kafka_topic

    ev = _events_raw(spark, sf_dir)
    # every 7th event lacks the 'app' content key → topic embeds the
    # literal field text, the FormatTopic fallback
    contents = F.when(
        F.col("event_id") % 7 == 0,
        F.create_map(F.lit("other"), F.lit("x")),
    ).otherwise(F.create_map(F.lit("app"), F.col("event_type")))
    tags = F.create_map(F.lit("host.name"), F.concat(F.lit("h"), (F.col("user_id") % 3).cast("string")))
    pattern = "logs_%{content.app}_%{tag.host.name}"
    frame = ev.select(
        "doc_id",
        kafka_topic(pattern, contents, tags).alias("topic"),
        kafka_hash_key(pattern, ["content.app"], contents, tags, "logstore-1").alias(
            "partition_key"
        ),
    )
    return frame.groupBy("topic", "partition_key").agg(
        F.count("*").cast("long").alias("events"),
        F.min("doc_id").alias("first_doc"),
    )


def oracle_kafka_dynamic_topic() -> str:
    return """WITH f AS (
  SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
    'logs_' || CASE WHEN event_id % 7 = 0 THEN 'content.app' ELSE event_type END
      || '_h' || (user_id % 3) AS topic,
    CASE WHEN event_id % 7 = 0 THEN 'logstore-1' ELSE event_type END AS partition_key
  FROM events
)
SELECT topic, partition_key, count(*) AS events, min(doc_id) AS first_doc
FROM f GROUP BY topic, partition_key"""


def q_prom_remote_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prometheus remote-write ingestion (decoder.go:120-152 + NewMetricLog,
    log_helper.go:258-290): snappy(prompb.WriteRequest) payloads → metric
    logs. One request per 16-event batch; per-series labels sorted k#$#v;
    ms timestamps normalized to 19-digit __time_nano__; a StaleNaN sample
    renders __STALE_NAN__."""
    import struct as _struct

    from .operators.prom_rw import (
        STALE_NAN_BITS,
        PromRemoteWriteDecoder,
        encode_write_request,
        snappy_compress,
    )

    ev = _events_raw(spark, sf_dir).withColumn(
        "req_no", (F.col("event_id") % 16).cast("int")
    )
    stale = _struct.unpack("<d", _struct.pack("<Q", STALE_NAN_BITS))[0]

    def pack(rows: list[dict]) -> list[tuple]:
        series = []
        for r in rows:
            eid, uid = r["event_id"], r["user_id"]
            val = stale if eid % 97 == 0 else eid + 0.25
            series.append(
                {
                    "labels": [
                        ("__name__", f"m{eid % 5}"),
                        ("zone", f"z{eid % 3}"),
                        ("host", f"h{uid % 10}"),
                    ],
                    "samples": [(val, 1434055562000 + eid % 1000)],
                }
            )
        return [(snappy_compress(encode_write_request(series)),)]

    payload = [StructField("payload", BinaryType())]
    reqs = group_rows(ev, ["req_no"], ["event_id", "user_id"], payload, pack)
    out = PromRemoteWriteDecoder("payload", passthrough=["req_no"]).apply(reqs)
    return out.select(
        F.col("req_no").cast("int").alias("req_no"),
        F.col("__name__").alias("name"),
        F.col("__labels__").alias("labels"),
        F.col("__time_nano__").alias("time_nano"),
        F.col("__value__").alias("value"),
        "ts_sec",
    )


def oracle_prom_remote_write() -> str:
    return """SELECT CAST(event_id % 16 AS INT) AS req_no,
  'm' || (event_id % 5) AS name,
  'host#$#h' || (user_id % 10) || '|zone#$#z' || (event_id % 3) AS labels,
  CAST(1434055562000 + event_id % 1000 AS VARCHAR) || '000000' AS time_nano,
  CASE WHEN event_id % 97 = 0 THEN '__STALE_NAN__'
       ELSE event_id || '.25' END AS value,
  (1434055562000 + event_id % 1000) // 1000 AS ts_sec
FROM events"""


# --- OTLP logs ----------------------------------------------------------------

_OTEL_LOG_TS_BASE = 1663904182000000000


def _otel_log_cols(out: DataFrame) -> DataFrame:
    return out.select(
        "doc_id",
        fget("time_unix_nano").alias("time_unix_nano"),
        fget("severity_number").alias("severity_number"),
        fget("severity_text").alias("severity_text"),
        fget("content").alias("content"),
        fget("attributes").alias("attributes"),
        fget("resources").alias("resources"),
        "ts_sec",
    )


def q_otel_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OTLP logs ingestion (ConvertOtlpLogV1, otlpDataToSLSProto.go:280-338):
    per LogRecord → time_unix_nano / severity / content + Go-marshalled
    attributes/resources JSON (sorted keys, bare ints/bools)."""
    from .operators.otel import OtelLogParser

    ev = _events_raw(spark, sf_dir)
    ts = (F.lit(_OTEL_LOG_TS_BASE) + F.col("event_id") * 1000).cast("string")
    payload = F.concat(
        F.lit('{"resourceLogs":[{"resource":{"attributes":[{"key":"serviceName",'
              '"value":{"stringValue":"svc-'),
        (F.col("user_id") % 5).cast("string"),
        F.lit('"}}]},"scopeLogs":[{"logRecords":[{"timeUnixNano":"'),
        ts,
        F.lit('","severityNumber":'),
        (F.col("event_id") % 25).cast("string"),
        F.lit(',"severityText":"'),
        F.col("event_type"),
        F.lit('","body":{"stringValue":"msg-'),
        F.col("event_type"),
        F.lit('"},"attributes":[{"key":"attr1","value":{"intValue":"'),
        (F.col("event_id") % 100).cast("string"),
        F.lit('"}},{"key":"attr2","value":{"boolValue":'),
        F.when(F.col("event_id") % 2 == 0, F.lit("true")).otherwise(F.lit("false")),
        F.lit('}}]}]}]}]}'),
    )
    df = to_events(ev.select("doc_id", payload.alias("content")))
    return _otel_log_cols(OtelLogParser().apply(df))


def oracle_otel_log() -> str:
    return f"""SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
  CAST({_OTEL_LOG_TS_BASE} + event_id * 1000 AS VARCHAR) AS time_unix_nano,
  CAST(event_id % 25 AS VARCHAR) AS severity_number,
  event_type AS severity_text,
  'msg-' || event_type AS content,
  '{{"attr1":' || (event_id % 100) || ',"attr2":'
    || CASE WHEN event_id % 2 = 0 THEN 'true' ELSE 'false' END || '}}' AS attributes,
  '{{"serviceName":"svc-' || (user_id % 5) || '"}}' AS resources,
  ({_OTEL_LOG_TS_BASE} + event_id * 1000) // 1000000000 AS ts_sec
FROM events"""


oracle_otel_pb_log = oracle_otel_pj_log = oracle_otel_log


def q_otel_pb_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same fixture over the LogsData WIRE bytes (logs.proto) through
    the Python wire decode (otlp_pb.py) — the Format=protobuf path; shares oracle_otel_log."""
    from .operators.otel import OtelLogParser
    from .operators.otlp_pb import OtelPbToJson

    df = _otel_pb_events(_events_raw(spark, sf_dir), "log")
    return _otel_log_cols(OtelLogParser().apply(OtelPbToJson("log").apply(df)))


def q_spl_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPL expand-values verb: JSON-array field → one event per element
    (public SLS SPL verb surface; engine explode, no Python)."""
    from .spl import compile_spl

    ev = _events_raw(spark, sf_dir)
    content = F.concat(
        F.lit('{"id":"'), F.col("doc_id"),
        F.lit('","tags":"[\\"t'), (F.col("event_id") % 3).cast("string"),
        F.lit('\\",\\"u'), (F.col("user_id") % 5).cast("string"),
        F.lit('\\"]"}'),
    )
    df = to_events(ev.select("doc_id", content.alias("content")))
    run = compile_spl(
        "* | parse-json content | expand-values tags as tag | project id, tag"
    )
    out = run(df)
    return out.select(
        fget("id").alias("doc_id"), fget("tag").alias("tag")
    )


def oracle_spl_expand() -> str:
    return """WITH e AS (SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
  't' || (event_id % 3) AS t1, 'u' || (user_id % 5) AS t2 FROM events)
SELECT doc_id, t1 AS tag FROM e
UNION ALL
SELECT doc_id, t2 AS tag FROM e"""


def q_prom_rw_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """flusher_prometheus encode (pkg/protocol/encoder/prometheus) →
    service-side decode roundtrip: metric frame → SeriesLimit-chunked
    snappy(WriteRequest) payloads per sink → decoded metric logs. Proves the
    encode direction byte-compatibly against the decode path; the oracle
    pins the end-to-end mapping (ns→ms→19-digit normalization, sorted
    labels, empty-label drop)."""
    from .operators.prom_rw import PromRemoteWriteDecoder, PromRemoteWriteEncoder

    ev = _events_raw(spark, sf_dir)
    frame = ev.select(
        "doc_id",
        "event_id",
        F.concat(F.lit("sink-"), (F.col("event_id") % 4).cast("string")).alias("sink"),
        F.concat(F.lit("met_"), (F.col("event_id") % 7).cast("string")).alias("metric_name"),
        F.create_map(
            F.lit("host"), F.concat(F.lit("h"), (F.col("user_id") % 10).cast("string")),
            F.lit("zone"), F.when(F.col("event_id") % 5 == 0, F.lit("")).otherwise(
                F.concat(F.lit("z"), (F.col("event_id") % 3).cast("string"))
            ),
        ).alias("tags"),
        ((F.col("event_id") % 89).cast("double") + 0.5).alias("value"),
        (F.lit(1434055562000000000) + F.col("event_id") * 1_000_000).alias("ts_ns"),
    )
    enc = PromRemoteWriteEncoder(
        ["sink"], order_col="event_id", series_limit=100
    ).apply(frame)
    out = PromRemoteWriteDecoder("payload", passthrough=["sink"]).apply(enc)
    return out.select(
        "sink",
        F.col("__name__").alias("name"),
        F.col("__labels__").alias("labels"),
        F.col("__time_nano__").alias("time_nano"),
        F.col("__value__").alias("value"),
    )


def oracle_prom_rw_encode() -> str:
    # encode drops the empty zone label; ns→ms floors to the millisecond,
    # decode re-normalizes 13 digits → 19 by appending six zeros
    return """SELECT 'sink-' || (event_id % 4) AS sink,
  'met_' || (event_id % 7) AS name,
  'host#$#h' || (user_id % 10)
    || CASE WHEN event_id % 5 = 0 THEN '' ELSE '|zone#$#z' || (event_id % 3) END AS labels,
  CAST((1434055562000000000 + event_id * 1000000) // 1000000 AS VARCHAR)
    || '000000' AS time_nano,
  (event_id % 89) || '.5' AS value
FROM events"""


def q_flusher_loki(spark: SparkSession, sf_dir: str) -> DataFrame:
    """flusher_loki (flusher_loki.go:152-227): custom_single line + label
    set per event — DynamicLabels resolved content./tag. with prefix trim,
    misses omitted, StaticLabels filling only absent keys."""
    from .operators.convert import CustomSingleConverter, loki_sink_frame

    df = _converter_frame(spark, sf_dir)
    out = loki_sink_frame(
        df.withColumn("doc_id2", F.col("doc_id")),
        dynamic_labels=["content.method", "tag.log.file.path", "content.gone"],
        static_labels={"job": "loong", "method": "static-loses"},
        conv=CustomSingleConverter(source="10.1.2.3", topic=F.col("__topic__")),
    )
    lbl = F.array_join(
        F.transform(
            F.array_sort(F.map_entries(F.col("labels"))),
            lambda e: F.concat(e.getField("key"), F.lit("="), e.getField("value")),
        ),
        ",",
    )
    return out.select(lbl.alias("label_str"), "ts", "line")


def oracle_flusher_loki() -> str:
    return """SELECT
  'job=loong,log.file.path=/var/log/app.log,method=' || event_type AS label_str,
  1700000000 + event_id % 86400 AS ts,
  '{"contents":{"method":"' || event_type || '","status":"'
    || (event_id % 5) || '"},"tags":{"host.ip":"10.1.2.3",'
    || '"log.file.path":"/var/log/app.log"'
    || CASE WHEN event_id % 2 = 0 THEN ',"log.topic":"web"' ELSE '' END
    || '},"time":' || (1700000000 + event_id % 86400) || '}' AS line
FROM events"""


def q_sls_group_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format=sls HTTP ingestion (pkg/protocol/decoder/sls/decoder.go:30-36):
    one serialized sls_logs.proto LogGroup per request → log rows with group
    topic/source/tags inherited; proto2 required-field failures reject the
    whole request."""
    from .operators.pb import ParseSlsLogGroup, encode_sls_log, encode_sls_log_group

    ev = _events_raw(spark, sf_dir).withColumn(
        "req_no", (F.col("event_id") % 16).cast("int")
    )

    def pack(rows: list[dict]) -> list[tuple]:
        logs = [
            encode_sls_log(
                1434055562 + r["event_id"] % 86400,
                {"etype": r["event_type"], "uid": str(r["user_id"])},
                time_ns=(r["event_id"] % 1000) * 1_000_000,
            )
            for r in rows
        ]
        req = rows[0]["req_no"]
        payload = encode_sls_log_group(
            logs, topic=f"top{req % 3}", source="10.9.8.7", tags={"env": f"e{req % 2}"}
        )
        return [(payload,)]

    cols = ["req_no", "event_id", "event_type", "user_id"]
    payload = [StructField("payload", BinaryType())]
    reqs = group_rows(ev, ["req_no"], cols, payload, pack, order="event_id")
    out = ParseSlsLogGroup("payload", ["req_no"]).apply(reqs)
    return out.select(
        F.col("req_no").cast("int").alias("req_no"),
        "time",
        "time_ns",
        F.element_at("contents", "etype").alias("etype"),
        F.element_at("contents", "uid").alias("uid"),
        "topic",
        "source",
        F.element_at("group_tags", "env").alias("env"),
    )


def oracle_sls_group_decode() -> str:
    return """SELECT CAST(event_id % 16 AS INT) AS req_no,
  1434055562 + event_id % 86400 AS time,
  (event_id % 1000) * 1000000 AS time_ns,
  event_type AS etype,
  CAST(user_id AS VARCHAR) AS uid,
  'top' || ((event_id % 16) % 3) AS topic,
  '10.9.8.7' AS source,
  'e' || ((event_id % 16) % 2) AS env
FROM events"""


def q_otel_pj_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OTLP logs Format=protojson: the payload is one ResourceLogs object
    (wrapped like the trace/metric protojson paths) with an enum-NAME
    severity — same output contract, shares oracle_otel_log."""
    from .operators.otel import OtelLogParser

    sev_names = [
        "SEVERITY_NUMBER_UNSPECIFIED", "SEVERITY_NUMBER_TRACE", "SEVERITY_NUMBER_TRACE2",
        "SEVERITY_NUMBER_TRACE3", "SEVERITY_NUMBER_TRACE4", "SEVERITY_NUMBER_DEBUG",
        "SEVERITY_NUMBER_DEBUG2", "SEVERITY_NUMBER_DEBUG3", "SEVERITY_NUMBER_DEBUG4",
        "SEVERITY_NUMBER_INFO", "SEVERITY_NUMBER_INFO2", "SEVERITY_NUMBER_INFO3",
        "SEVERITY_NUMBER_INFO4", "SEVERITY_NUMBER_WARN", "SEVERITY_NUMBER_WARN2",
        "SEVERITY_NUMBER_WARN3", "SEVERITY_NUMBER_WARN4", "SEVERITY_NUMBER_ERROR",
        "SEVERITY_NUMBER_ERROR2", "SEVERITY_NUMBER_ERROR3", "SEVERITY_NUMBER_ERROR4",
        "SEVERITY_NUMBER_FATAL", "SEVERITY_NUMBER_FATAL2", "SEVERITY_NUMBER_FATAL3",
        "SEVERITY_NUMBER_FATAL4",
    ]
    ev = _events_raw(spark, sf_dir)
    ts = (F.lit(_OTEL_LOG_TS_BASE) + F.col("event_id") * 1000).cast("string")
    sev_arr = F.array(*[F.lit(s) for s in sev_names])
    payload = F.concat(
        F.lit('{"resource":{"attributes":[{"key":"serviceName",'
              '"value":{"stringValue":"svc-'),
        (F.col("user_id") % 5).cast("string"),
        F.lit('"}}]},"scopeLogs":[{"logRecords":[{"timeUnixNano":"'),
        ts,
        F.lit('","severityNumber":"'),
        F.element_at(sev_arr, (F.col("event_id") % 25).cast("int") + 1),
        F.lit('","severityText":"'),
        F.col("event_type"),
        F.lit('","body":{"stringValue":"msg-'),
        F.col("event_type"),
        F.lit('"},"attributes":[{"key":"attr1","value":{"intValue":"'),
        (F.col("event_id") % 100).cast("string"),
        F.lit('"}},{"key":"attr2","value":{"boolValue":'),
        F.when(F.col("event_id") % 2 == 0, F.lit("true")).otherwise(F.lit("false")),
        F.lit('}}]}]}]}'),
    )
    df = to_events(ev.select("doc_id", payload.alias("content")))
    return _otel_log_cols(OtelLogParser(format="protojson").apply(df))


# --- SkyWalking v3 (plugins/input/skywalkingv3) -------------------------------


def q_skywalking_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SkyWalking v3 trace-segment conversion (segment_analyze.go ParseSegment
    + ot_trace.go ToLog): SegmentObject protojson → one span row with the
    OtSpan key set; resource properties broadcast-joined (the reference's
    ResourcePropertiesCache)."""
    from .operators.skywalking import SkywalkingSegmentParser

    ev = _events_raw(spark, sf_dir)
    eid, et = F.col("event_id"), F.col("event_type")
    ut = (F.col("user_id") % 5).cast("string")
    st = F.lit(1663904182000) + eid
    en = st + (eid % 100 + 1)
    stype = F.element_at(
        F.array(F.lit("Entry"), F.lit("Exit"), F.lit("Local")), (eid % 3).cast("int") + 1
    )
    slayer = F.element_at(
        F.array(*[F.lit(x) for x in ("Unknown", "Database", "MQ", "Http")]),
        (eid % 4).cast("int") + 1,
    )
    db_tag = F.when(
        eid % 4 == 1, F.lit(',{"key":"db.type","value":"MySQL"}')
    ).otherwise(F.lit(""))
    mq_tag = F.when(
        eid % 4 == 2,
        F.concat(F.lit(',{"key":"mq.topic","value":"t-'), ut, F.lit('"}')),
    ).otherwise(F.lit(""))
    ek = F.when(eid % 3 == 0, F.lit("OpError")).otherwise(F.lit(""))
    refs = F.when(
        eid % 4 == 0,
        F.concat(
            F.lit(',"refs":[{"traceId":"t-up-'), eid.cast("string"),
            F.lit('","parentTraceSegmentId":"pseg-'), eid.cast("string"),
            F.lit('","parentSpanId":7}]'),
        ),
    ).otherwise(F.lit(""))
    payload = F.concat(
        F.lit('{"traceId":"'), F.md5(F.col("doc_id")),
        F.lit('","traceSegmentId":"seg-'), eid.cast("string"),
        F.lit('","service":"'), et,
        F.lit('","serviceInstance":"inst-'), ut,
        F.lit('","spans":[{"spanId":'), (eid % 100 + 1).cast("string"),
        F.lit(',"parentSpanId":'),
        F.when(eid % 5 == 0, F.lit("-1")).otherwise(F.lit("3")),
        F.lit(',"startTime":'), st.cast("string"),
        F.lit(',"endTime":'), en.cast("string"),
        F.lit(',"operationName":"op-'), et,
        F.lit('","peer":"10.0.0.'), ut,
        F.lit(':3306","spanType":"'), stype,
        F.lit('","spanLayer":"'), slayer,
        F.lit('","isError":'),
        F.when(eid % 3 == 0, F.lit("true")).otherwise(F.lit("false")),
        F.lit(',"tags":[{"key":"url","value":"/api/'), et,
        F.lit('"},{"key":"key-a","value":"v-'), ut, F.lit('"}'),
        db_tag, mq_tag,
        F.lit('],"logs":[{"time":'), (st + 1).cast("string"),
        F.lit(',"data":[{"key":"event","value":"ex"},'
              '{"key":"error.kind","value":"'), ek,
        F.lit('"}]}]'), refs, F.lit("}]}"),
    )
    res = (
        ev.select(et.alias("service"), (F.col("user_id") % 5).alias("__ut__"))
        .distinct()
        .where(F.col("__ut__") % 2 == 0)
        .select(
            "service",
            F.concat(F.lit("inst-"), F.col("__ut__").cast("string")).alias(
                "serviceInstance"
            ),
            F.array(
                F.struct(
                    F.lit("hostname").alias("key"),
                    F.concat(F.lit("h-"), F.col("__ut__").cast("string")).alias("value"),
                ),
                F.struct(F.lit("language").alias("key"), F.lit("java").alias("value")),
            ).alias("properties"),
        )
    )
    df = to_events(ev.select("doc_id", payload.alias("content")))
    out = SkywalkingSegmentParser().apply(df, resources=res)
    keys = [
        "links", "host", "service", "resource", "name", "kind", "traceID",
        "spanID", "parentSpanID", "logs", "traceState", "start", "end",
        "duration", "attribute", "statusCode", "statusMessage",
    ]
    return out.select(
        "doc_id",
        *[fget(k).alias(k) for k in keys],
        fget("__ts_sec__").alias("ts_sec"),
    )


def oracle_skywalking_segment() -> str:
    return """WITH ev AS (
  SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
         event_id AS eid, event_type AS et,
         cast(user_id % 5 AS varchar) AS ut, user_id % 5 AS utn,
         1663904182000 + event_id AS st,
         1663904182000 + event_id + event_id % 100 + 1 AS en
  FROM events
)
SELECT doc_id,
  CASE WHEN eid % 4 = 0 THEN
    '[{"traceID":"t-up-' || eid || '","spanID":"pseg-' || eid ||
    '.7","traceState":"","attributes":null}]'
  ELSE '[]' END AS links,
  CASE WHEN utn % 2 = 0 THEN 'h-' || ut ELSE '' END AS host,
  et AS service,
  CASE WHEN utn % 2 = 0 THEN
    '{"host.name":"h-' || ut || '","telemetry.sdk.language":"java"}'
  ELSE '{}' END AS resource,
  'op-' || et AS name,
  CASE WHEN eid % 4 = 2 THEN
    CASE eid % 3 WHEN 0 THEN 'consumer' WHEN 1 THEN 'producer' ELSE '' END
  ELSE
    CASE eid % 3 WHEN 0 THEN 'server' WHEN 1 THEN 'client' ELSE 'internal' END
  END AS kind,
  md5(doc_id) AS traceID,
  'seg-' || eid || '.' || (eid % 100 + 1) AS spanID,
  CASE WHEN eid % 4 = 0 THEN 'pseg-' || eid || '.7'
       WHEN eid % 5 = 0 THEN ''
       ELSE 'seg-' || eid || '.3' END AS parentSpanID,
  '[{"error.kind":"' || (CASE WHEN eid % 3 = 0 THEN 'OpError' ELSE '' END) ||
    '","event":"ex","time":"' || (st + 1) || '"}]' AS logs,
  '' AS traceState,
  cast(st * 1000 AS varchar) AS "start",
  cast(en * 1000 AS varchar) AS "end",
  cast((eid % 100 + 1) * 1000 AS varchar) AS duration,
  CASE
    WHEN eid % 4 = 1 THEN
      '{' || (CASE WHEN eid % 3 = 1
              THEN '"db.connection_string":"mysql://10.0.0.' || ut || ':3306",'
              ELSE '' END) ||
      '"db.system":"MySQL","http.url":"/api/' || et || '","key-a":"v-' || ut ||
      '","net.peer.ip":"10.0.0.' || ut || '","net.peer.port":"3306"}'
    WHEN eid % 4 = 2 THEN
      '{"http.url":"/api/' || et || '","key-a":"v-' || ut ||
      '","messaging.destination":"t-' || ut ||
      '","messaging.destination_kind":"topic",' ||
      '"messaging.system":"MessagingSystem","mq.topic":"t-' || ut ||
      '","net.peer.ip":"10.0.0.' || ut || '","net.peer.port":"3306"}'
    ELSE
      '{"http.url":"/api/' || et || '","key-a":"v-' || ut ||
      '","net.peer.ip":"10.0.0.' || ut || '","net.peer.port":"3306"}'
  END AS attribute,
  CASE WHEN eid % 3 = 0 THEN 'ERROR' ELSE 'OK' END AS statusCode,
  CASE WHEN eid % 3 = 0 THEN 'OpError' ELSE '' END AS statusMessage,
  cast(en // 1000 AS varchar) AS ts_sec
FROM ev"""


_JVM_POOLS = (
    "CODE_CACHE_USAGE", "NEWGEN_USAGE", "OLDGEN_USAGE",
    "SURVIVOR_USAGE", "PERMGEN_USAGE", "METASPACE_USAGE",
)


def q_skywalking_jvm_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SkyWalking v3 JVM metrics (jvm_metric_handle.go toMetricStoreFormat):
    JVMMetricCollection protojson → 14 skywalking_jvm_* metric logs per
    payload (cpu, 4 memory, 4 pool, 2 gc, 3 thread)."""
    from .operators.skywalking import SkywalkingJvmMetricParser

    ev = _events_raw(spark, sf_dir)
    eid, et = F.col("event_id"), F.col("event_type")
    ut = (F.col("user_id") % 5).cast("string")
    t = F.lit(1663904182000) + eid
    pool = F.element_at(
        F.array(*[F.lit(p) for p in _JVM_POOLS]), (eid % 6).cast("int") + 1
    )
    payload = F.concat(
        F.lit('{"service":"'), et,
        F.lit('","serviceInstance":"inst-'), ut,
        F.lit('","metrics":[{"time":'), t.cast("string"),
        F.lit(',"cpu":{"usagePercent":'), (eid % 100).cast("string"),
        F.lit('},"memory":[{"isHeap":'),
        F.when(eid % 2 == 1, F.lit("true")).otherwise(F.lit("false")),
        F.lit(',"init":'), (eid % 7).cast("string"),
        F.lit(',"max":'), (eid % 11).cast("string"),
        F.lit(',"used":'), (eid % 13).cast("string"),
        F.lit(',"committed":'), (eid % 17).cast("string"),
        F.lit('}],"memoryPool":[{"type":"'), pool,
        F.lit('","init":'), (eid % 7 + 1).cast("string"),
        F.lit(',"max":'), (eid % 11 + 1).cast("string"),
        F.lit(',"used":'), (eid % 13 + 1).cast("string"),
        F.lit(',"committed":'), (eid % 17 + 1).cast("string"),
        F.lit('}],"gc":[{"phrase":"'),
        F.when(eid % 2 == 0, F.lit("NEW")).otherwise(F.lit("OLD")),
        F.lit('","count":'), (eid % 19).cast("string"),
        F.lit(',"time":'), (eid % 23).cast("string"),
        F.lit('}],"thread":{"liveCount":'), (eid % 29).cast("string"),
        F.lit(',"daemonCount":'), (eid % 31).cast("string"),
        F.lit(',"peakCount":'), (eid % 37).cast("string"),
        F.lit("}}]}"),
    )
    df = to_events(ev.select("doc_id", payload.alias("content")))
    out = SkywalkingJvmMetricParser().apply(df)
    return out.select(
        "doc_id",
        fget("__name__").alias("name"),
        fget("__time_nano__").alias("time_nano"),
        fget("__labels__").alias("labels"),
        fget("__value__").alias("value"),
        fget("__ts_sec__").alias("ts_sec"),
    )


def oracle_skywalking_jvm_metric() -> str:
    pools = ", ".join(f"'{p}'" for p in _JVM_POOLS)
    return f"""WITH ev AS (
  SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
         event_id AS eid,
         'service#$#' || event_type || '|serviceInstance#$#inst-' ||
           (user_id % 5) AS base,
         cast(1663904182000 + event_id AS varchar) || '000000' AS tn,
         cast((1663904182000 + event_id) // 1000 AS varchar) AS ts_sec,
         CASE WHEN event_id % 2 = 1 THEN 'heap' ELSE 'nonheap' END AS mtype,
         (ARRAY[{pools}])[cast(event_id % 6 AS int) + 1] AS ptype,
         CASE WHEN event_id % 2 = 0 THEN 'NEW' ELSE 'OLD' END AS phrase
  FROM events
), rows AS (
  SELECT doc_id, 'skywalking_jvm_cpu_usage' AS name, tn AS time_nano,
         base AS labels, cast(eid % 100 AS varchar) AS value, ts_sec FROM ev
  UNION ALL SELECT doc_id, 'skywalking_jvm_memory_committed', tn,
    base || '|type#$#' || mtype, cast(eid % 17 AS varchar), ts_sec FROM ev
  UNION ALL SELECT doc_id, 'skywalking_jvm_memory_init', tn,
    base || '|type#$#' || mtype, cast(eid % 7 AS varchar), ts_sec FROM ev
  UNION ALL SELECT doc_id, 'skywalking_jvm_memory_max', tn,
    base || '|type#$#' || mtype, cast(eid % 11 AS varchar), ts_sec FROM ev
  UNION ALL SELECT doc_id, 'skywalking_jvm_memory_used', tn,
    base || '|type#$#' || mtype, cast(eid % 13 AS varchar), ts_sec FROM ev
  UNION ALL SELECT doc_id, 'skywalking_jvm_memory_pool_committed', tn,
    base || '|type#$#' || ptype, cast(eid % 17 + 1 AS varchar), ts_sec FROM ev
  UNION ALL SELECT doc_id, 'skywalking_jvm_memory_pool_init', tn,
    base || '|type#$#' || ptype, cast(eid % 7 + 1 AS varchar), ts_sec FROM ev
  UNION ALL SELECT doc_id, 'skywalking_jvm_memory_pool_max', tn,
    base || '|type#$#' || ptype, cast(eid % 11 + 1 AS varchar), ts_sec FROM ev
  UNION ALL SELECT doc_id, 'skywalking_jvm_memory_pool_used', tn,
    base || '|type#$#' || ptype, cast(eid % 13 + 1 AS varchar), ts_sec FROM ev
  UNION ALL SELECT doc_id, 'skywalking_jvm_gc_time', tn,
    'phrase#$#' || phrase || '|' || base, cast(eid % 23 AS varchar), ts_sec FROM ev
  UNION ALL SELECT doc_id, 'skywalking_jvm_gc_count', tn,
    'phrase#$#' || phrase || '|' || base, cast(eid % 19 AS varchar), ts_sec FROM ev
  UNION ALL SELECT doc_id, 'skywalking_jvm_threads_live', tn, base,
    cast(eid % 29 AS varchar), ts_sec FROM ev
  UNION ALL SELECT doc_id, 'skywalking_jvm_threads_daemon', tn, base,
    cast(eid % 31 AS varchar), ts_sec FROM ev
  UNION ALL SELECT doc_id, 'skywalking_jvm_threads_peak', tn, base,
    cast(eid % 37 AS varchar), ts_sec FROM ev
)
SELECT doc_id, name, time_nano, labels, value, ts_sec FROM rows"""


def q_skywalking_clr_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SkyWalking v3 CLR metrics (clr_metric_handle.go toMetricStoreFormat):
    CLRMetricCollection protojson → 9 skywalking_clr_* metric logs per
    payload (cpu, 3 gc gens, heap, 4 thread gauges)."""
    from .operators.skywalking import SkywalkingClrMetricParser

    ev = _events_raw(spark, sf_dir)
    eid, et = F.col("event_id"), F.col("event_type")
    ut = (F.col("user_id") % 5).cast("string")
    t = F.lit(1663904182000) + eid
    payload = F.concat(
        F.lit('{"service":"'), et,
        F.lit('","serviceInstance":"inst-'), ut,
        F.lit('","metrics":[{"time":'), t.cast("string"),
        F.lit(',"cpu":{"usagePercent":'), (eid % 100).cast("string"),
        F.lit('},"gc":{"gen0CollectCount":'), (eid % 5).cast("string"),
        F.lit(',"gen1CollectCount":'), (eid % 7).cast("string"),
        F.lit(',"gen2CollectCount":'), (eid % 9).cast("string"),
        F.lit(',"heapMemory":'), ((eid % 1000) * 1000).cast("string"),
        F.lit('},"thread":{"availableCompletionPortThreads":'),
        (eid % 11).cast("string"),
        F.lit(',"availableWorkerThreads":'), (eid % 13).cast("string"),
        F.lit(',"maxCompletionPortThreads":'), (eid % 15).cast("string"),
        F.lit(',"maxWorkerThreads":'), (eid % 17).cast("string"),
        F.lit("}}]}"),
    )
    df = to_events(ev.select("doc_id", payload.alias("content")))
    out = SkywalkingClrMetricParser().apply(df)
    return out.select(
        "doc_id",
        fget("__name__").alias("name"),
        fget("__time_nano__").alias("time_nano"),
        fget("__labels__").alias("labels"),
        fget("__value__").alias("value"),
        fget("__ts_sec__").alias("ts_sec"),
    )


def oracle_skywalking_clr_metric() -> str:
    return """WITH ev AS (
  SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
         event_id AS eid,
         'service#$#' || event_type || '|serviceInstance#$#inst-' ||
           (user_id % 5) AS base,
         cast(1663904182000 + event_id AS varchar) || '000000' AS tn,
         cast((1663904182000 + event_id) // 1000 AS varchar) AS ts_sec
  FROM events
), rows AS (
  SELECT doc_id, 'skywalking_clr_cpu_usage' AS name, tn AS time_nano,
         base AS labels, cast(eid % 100 AS varchar) AS value, ts_sec FROM ev
  UNION ALL SELECT doc_id, 'skywalking_clr_gc_count', tn, 'gen#$#gen0|' || base,
    cast(eid % 5 AS varchar), ts_sec FROM ev
  UNION ALL SELECT doc_id, 'skywalking_clr_gc_count', tn, 'gen#$#gen1|' || base,
    cast(eid % 7 AS varchar), ts_sec FROM ev
  UNION ALL SELECT doc_id, 'skywalking_clr_gc_count', tn, 'gen#$#gen2|' || base,
    cast(eid % 9 AS varchar), ts_sec FROM ev
  UNION ALL SELECT doc_id, 'skywalking_clr_heap_memory', tn, base,
    cast((eid % 1000) * 1000 AS varchar), ts_sec FROM ev
  UNION ALL SELECT doc_id, 'skywalking_clr_threads', tn,
    base || '|type#$#availableCompletionPortThreads',
    cast(eid % 11 AS varchar), ts_sec FROM ev
  UNION ALL SELECT doc_id, 'skywalking_clr_threads', tn,
    base || '|type#$#availableWorkerThreads',
    cast(eid % 13 AS varchar), ts_sec FROM ev
  UNION ALL SELECT doc_id, 'skywalking_clr_threads', tn,
    base || '|type#$#maxCompletionPortThreads',
    cast(eid % 15 AS varchar), ts_sec FROM ev
  UNION ALL SELECT doc_id, 'skywalking_clr_threads', tn,
    base || '|type#$#maxWorkerThreads',
    cast(eid % 17 AS varchar), ts_sec FROM ev
)
SELECT doc_id, name, time_nano, labels, value, ts_sec FROM rows"""


def q_flusher_otlp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """flusher_otlp v1 (plugins/flusher/opentelemetry): per-sink-group OTLP
    LogsData payloads packed from event frames, roundtrip-pinned through the
    otlp_pb decode path + OtelLogParser — encode and decode must agree on
    resource gating (empty source/topic/machine_uuid dropped), contents→
    attributes minus content/level, tag overlay, and ts·1e9."""
    from .operators.convert import otlp_logs_sink_frames
    from .operators.otel import OtelLogParser
    from .operators.otlp_pb import OtelPbToJson

    ev = _events_raw(spark, sf_dir)
    eid = F.col("event_id")
    ut = (F.col("user_id") % 5).cast("string")
    sk = (eid % 3).cast("string")
    lvl = F.element_at(
        F.array(F.lit("INFO"), F.lit("WARN"), F.lit("ERROR"), F.lit("DEBUG")),
        (eid % 4).cast("int") + 1,
    )
    frame = ev.select(
        "event_id",
        F.concat(F.lit("sink-"), sk).alias("sink"),
        F.concat(F.lit("src-"), sk).alias("__src_v__"),
        F.when(eid % 3 == 0, F.lit("")).otherwise(F.concat(F.lit("t-"), sk)).alias(
            "__topic_v__"
        ),
        F.when(eid % 3 == 1, F.lit("")).otherwise(F.concat(F.lit("m-"), sk)).alias(
            "__uuid_v__"
        ),
        F.concat(F.lit("env-"), sk).alias("__env_v__"),
        (F.lit(1663904182) + eid % 86400).alias("ts_sec"),
        F.create_map(
            F.lit("content"), F.concat(F.lit("msg-"), F.col("event_type")),
            F.lit("level"), lvl,
            F.lit("k1"), (eid % 100).cast("string"),
            F.lit("__tag__:pod"), F.concat(F.lit("p-"), ut),
        ).alias(FIELDS),
    )
    enc = otlp_logs_sink_frames(
        frame,
        ["sink"],
        source=F.col("__src_v__"),
        topic=F.col("__topic_v__"),
        machine_uuid=F.col("__uuid_v__"),
        group_tags={"env": F.col("__env_v__")},
        order_col="event_id",
    )
    dec_in = to_events(
        enc.select("sink", F.lower(F.hex("payload")).alias("content"))
    )
    out = OtelLogParser().apply(OtelPbToJson("log").apply(dec_in))
    return out.select(
        "sink",
        fget("time_unix_nano").alias("time_unix_nano"),
        fget("severity_number").alias("severity_number"),
        fget("severity_text").alias("severity_text"),
        fget("content").alias("content"),
        fget("attributes").alias("attributes"),
        fget("resources").alias("resources"),
        "ts_sec",
    )


def oracle_flusher_otlp() -> str:
    return """WITH ev AS (
  SELECT event_id AS eid, event_type AS et, user_id % 5 AS ut,
         event_id % 3 AS sk, 1663904182 + event_id % 86400 AS ts
  FROM events
)
SELECT 'sink-' || sk AS sink,
  cast(ts * 1000000000 AS varchar) AS time_unix_nano,
  '0' AS severity_number,
  (ARRAY['INFO','WARN','ERROR','DEBUG'])[cast(eid % 4 AS int) + 1]
    AS severity_text,
  'msg-' || et AS content,
  '{"env":"env-' || sk || '","host.ip":"src-' || sk || '","k1":"' ||
    (eid % 100) || '",' ||
    CASE WHEN sk <> 0 THEN '"log.topic":"t-' || sk || '",' ELSE '' END ||
    '"pod":"p-' || ut || '"}' AS attributes,
  '{"env":"env-' || sk || '",' ||
    CASE WHEN sk <> 1 THEN '"machine_uuid":"m-' || sk || '",' ELSE '' END ||
    '"source":"src-' || sk || '"' ||
    CASE WHEN sk <> 0 THEN ',"topic":"t-' || sk || '"' ELSE '' END ||
    '}' AS resources,
  cast(ts AS bigint) AS ts_sec
FROM ev"""


# --- service_canal (plugins/input/canal) ---------------------------------------


def _canal_payload() -> F.Column:
    """Row-event JSON fixture: action cycles insert/update/delete by
    event_id%3; enum/set columns; an unknown 5th column every 10th event;
    update events carry one (old, new) pair."""
    eid = F.col("event_id")
    ut = (F.col("user_id") % 5).cast("string")
    action = F.element_at(
        F.array(F.lit("insert"), F.lit("update"), F.lit("delete")),
        (eid % 3).cast("int") + 1,
    )
    extra = F.when(eid % 10 == 0, F.lit(',{"s":"x"}')).otherwise(F.lit(""))
    new_img = F.concat(
        F.lit('[{"i":'), eid.cast("string"),
        F.lit('},{"s":"n-'), ut,
        F.lit('"},{"i":'), (eid % 4).cast("string"),
        F.lit('},{"i":'), (eid % 8).cast("string"),
        F.lit("}"), extra, F.lit("]"),
    )
    old_img = F.concat(
        F.lit('[{"i":'), (eid + 1000).cast("string"),
        F.lit('},{"s":"o-'), ut,
        F.lit('"},{"i":'), ((eid + 1) % 4).cast("string"),
        F.lit('},{"i":'), ((eid + 1) % 8).cast("string"),
        F.lit("}]"),
    )
    rows = F.when(eid % 3 == 1, F.concat(old_img, F.lit(","), new_img)).otherwise(
        new_img
    )
    return F.concat(
        F.lit('{"action":"'), action,
        F.lit('","db":"db-'), ut,
        F.lit('","table":"orders","gtid":"g:'), eid.cast("string"),
        F.lit('","filename":"mysql-bin.000001","header":{"timestamp":'),
        (F.lit(1663904182) + eid % 1000).cast("string"),
        F.lit(',"logPos":'), (eid * 100 + 4).cast("string"),
        F.lit(',"eventSize":'), (F.lit(120) + eid % 10).cast("string"),
        F.lit(',"serverId":1},"columns":['
              '{"name":"id","type":"long"},{"name":"name","type":"string"},'
              '{"name":"status","type":"enum","enumValues":["active","idle","gone"]},'
              '{"name":"flags","type":"set","setValues":["a","b","c"]}],'
              '"rows":['),
        rows, F.lit("]}"),
    )


_CANAL_ENUM_SQL = "CASE {v} WHEN 1 THEN 'active' WHEN 2 THEN 'idle' WHEN 3 THEN 'gone' ELSE cast({v} AS varchar) END"
_CANAL_SET_SQL = (
    "(ARRAY['[]','[a]','[b]','[a b]','[c]','[a c]','[b c]','[a b c]'])"
    "[cast({v} AS int) + 1]"
)


def q_canal_row_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """service_canal OnRow (input_canal.go:346-460): row-event JSON → one
    event per row change with meta fields, enum/set value conversion,
    update old/new pairing and unknow_col index overflow."""
    from .operators.canal import CanalRowEvents

    ev = _events_raw(spark, sf_dir)
    df = to_events(ev.select("doc_id", "event_id", _canal_payload().alias("content")))
    out = CanalRowEvents(host="10.1.1.1:3306", enable_event_meta=True).apply(df)
    keys = [
        "_host_", "_db_", "_table_", "_event_", "_id_", "_gtid_", "_filename_",
        "_offset_", "_event_time_", "_event_log_postion_", "_event_size_",
        "_event_server_id_", "id", "name", "status", "flags",
        "_old_id", "_old_name", "_old_status", "_old_flags", "unknow_col_4",
    ]
    return out.select(
        "doc_id", "ts_sec", *[fget(k).alias(k.lstrip("_")) for k in keys]
    )


def oracle_canal_row_events() -> str:
    enum_new = _CANAL_ENUM_SQL.format(v="eid % 4")
    enum_old = _CANAL_ENUM_SQL.format(v="(eid + 1) % 4")
    set_new = _CANAL_SET_SQL.format(v="eid % 8")
    set_old = _CANAL_SET_SQL.format(v="(eid + 1) % 8")
    return f"""WITH ev AS (
  SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
         event_id AS eid, cast(user_id % 5 AS varchar) AS ut
  FROM events
)
SELECT doc_id,
  cast(1663904182 + eid % 1000 AS bigint) AS ts_sec,
  '10.1.1.1:3306' AS host_,
  'db-' || ut AS db_,
  'orders' AS table_,
  'row_' || (ARRAY['insert','update','delete'])[cast(eid % 3 AS int) + 1]
    AS event_,
  cast(eid AS varchar) AS id_,
  'g:' || eid AS gtid_,
  'mysql-bin.000001' AS filename_,
  cast(eid * 100 + 4 AS varchar) AS offset_,
  cast(1663904182 + eid % 1000 AS varchar) AS event_time_,
  cast(eid * 100 + 4 AS varchar) AS event_log_postion_,
  cast(120 + eid % 10 AS varchar) AS event_size_,
  '1' AS event_server_id_,
  cast(eid AS varchar) AS id,
  'n-' || ut AS name,
  {enum_new} AS status,
  {set_new} AS flags,
  CASE WHEN eid % 3 = 1 THEN cast(eid + 1000 AS varchar) END AS old_id,
  CASE WHEN eid % 3 = 1 THEN 'o-' || ut END AS old_name,
  CASE WHEN eid % 3 = 1 THEN {enum_old} END AS old_status,
  CASE WHEN eid % 3 = 1 THEN {set_old} END AS old_flags,
  CASE WHEN eid % 10 = 0 THEN 'x' END AS unknow_col_4
FROM ev"""


def q_canal_pack_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """service_canal PackValues=true (addData, input_canal.go:217-264): meta
    fields flat, _old_* marshalled into old_data, the rest into data —
    Go-marshal sorted-key JSON, empty map → ''."""
    from .operators.canal import CanalRowEvents

    ev = _events_raw(spark, sf_dir)
    df = to_events(ev.select("doc_id", "event_id", _canal_payload().alias("content")))
    out = CanalRowEvents(host="10.1.1.1:3306", pack_values=True).apply(df)
    keys = ["_event_", "_db_", "_id_", "_offset_", "old_data", "data"]
    return out.select(
        "doc_id", "ts_sec", *[fget(k).alias(k.lstrip("_")) for k in keys]
    )


def oracle_canal_pack_values() -> str:
    enum_new = _CANAL_ENUM_SQL.format(v="eid % 4")
    enum_old = _CANAL_ENUM_SQL.format(v="(eid + 1) % 4")
    set_new = _CANAL_SET_SQL.format(v="eid % 8")
    set_old = _CANAL_SET_SQL.format(v="(eid + 1) % 8")
    return f"""WITH ev AS (
  SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
         event_id AS eid, cast(user_id % 5 AS varchar) AS ut
  FROM events
)
SELECT doc_id,
  cast(1663904182 + eid % 1000 AS bigint) AS ts_sec,
  'row_' || (ARRAY['insert','update','delete'])[cast(eid % 3 AS int) + 1]
    AS event_,
  'db-' || ut AS db_,
  cast(eid AS varchar) AS id_,
  cast(eid * 100 + 4 AS varchar) AS offset_,
  CASE WHEN eid % 3 = 1 THEN
    '{{"_old_flags":"' || {set_old} || '","_old_id":"' || (eid + 1000) ||
    '","_old_name":"o-' || ut || '","_old_status":"' || {enum_old} || '"}}'
  ELSE '' END AS old_data,
  '{{"flags":"' || {set_new} || '","id":"' || eid || '","name":"n-' || ut ||
    '","status":"' || {enum_new} || '"' ||
    CASE WHEN eid % 10 = 0 THEN ',"unknow_col_4":"x"' ELSE '' END ||
    '}}' AS data
FROM ev"""


def q_spl_time_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPL multi-stage pipe expressing the flagship per-sink counts
    end-to-end: parse → broadcast lookup enrich → windowed multi-aggregate
    stats (``bin(ts, 5m)`` fixed-window bucketing + count/sum in ONE stats
    stage). Plan-gated (test_plan_quality) to the native flagship aggregate
    shape: partial/final HashAggregate pair around a single exchange,
    BroadcastHashJoin for the lookup."""
    from .spl import compile_spl

    ev = _events_raw(spark, sf_dir)
    eid = F.col("event_id")
    status = (F.lit(200) + eid % 3 * 100).cast("string")
    line = F.concat(
        F.element_at(
            F.array(F.lit("GET"), F.lit("POST"), F.lit("PUT")), (eid % 3).cast("int") + 1
        ),
        F.lit(" "), status,
        F.lit(" "), (F.lit(1663904182) + eid % 3600).cast("string"),
        F.lit(" "), (eid % 1000 + 100).cast("string"),
    )
    routes = spark.createDataFrame(
        [("200", "sink_a"), ("300", "sink_b"), ("400", "sink_default")],
        "status string, sink string",
    )
    script = (
        r"* | parse-regexp content, '(\w+) (\d+) (\d+) (\d+)'"
        " as method, status, ts, bytes"
        " | lookup routes on status output sink"
        " | stats count() as events, sum(bytes) as bytes_total"
        "   by sink, bin(ts, 5m) as window"
    )
    df = to_events(ev.select("doc_id", line.alias("content")))
    return compile_spl(script, tables={"routes": routes})(df)


def oracle_spl_time_stats() -> str:
    return """WITH ev AS (
  SELECT 'sink_' || (ARRAY['a','b','default'])[cast(event_id % 3 AS int) + 1]
           AS sink,
         (1663904182 + event_id % 3600) // 300 * 300 AS w,
         event_id % 1000 + 100 AS bytes
  FROM events
)
SELECT sink, cast(w AS bigint) AS window,
       count(*) AS events,
       cast(sum(bytes) AS double) AS bytes_total
FROM ev GROUP BY sink, w"""


def q_skywalking_meter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SkyWalking v3 meter payloads (meter_handle.go handleMeterData +
    HistogramData.ToMetricLogs): singlevalue → one metric log; histogram →
    count/sum + cumulative le-bucketed rows with the +Inf terminal."""
    from .operators.skywalking import SkywalkingMeterParser

    ev = _events_raw(spark, sf_dir)
    eid, et = F.col("event_id"), F.col("event_type")
    ut = (F.col("user_id") % 5).cast("string")
    t = F.lit(1663904182000) + eid
    single = F.concat(
        F.lit('"singleValue":{"name":"sv_metric","labels":[{"name":"a","value":"x-'),
        ut,
        F.lit('"}],"value":'), (eid % 97).cast("string"), F.lit("}"),
    )
    c0 = (eid % 5) * 2 + 1  # odd → the 0.5-bucket keeps sums at x.5 exactly
    hist = F.concat(
        F.lit('"histogram":{"name":"h_metric","labels":[{"name":"ip","value":"9.9.9.'),
        ut,
        F.lit('"}],"values":[{"bucket":0.5,"count":'), c0.cast("string"),
        F.lit('},{"bucket":50,"count":'), (eid % 7).cast("string"),
        F.lit('},{"bucket":88,"count":'), (eid % 11).cast("string"),
        F.lit("}]}"),
    )
    payload = F.concat(
        F.lit('{"timestamp":'), t.cast("string"),
        F.lit(',"service":"'), et,
        F.lit('","serviceInstance":"inst-'), ut, F.lit('",'),
        F.when(eid % 2 == 0, single).otherwise(hist),
        F.lit("}"),
    )
    df = to_events(ev.select("doc_id", payload.alias("content")))
    out = SkywalkingMeterParser().apply(df)
    return out.select(
        "doc_id",
        fget("__name__").alias("name"),
        fget("__time_nano__").alias("time_nano"),
        fget("__labels__").alias("labels"),
        fget("__value__").alias("value"),
        fget("__ts_sec__").alias("ts_sec"),
    )


def oracle_skywalking_meter() -> str:
    return """WITH ev AS (
  SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
         event_id AS eid, event_type AS et, cast(user_id % 5 AS varchar) AS ut,
         cast(1663904182000 + event_id AS varchar) || '000000' AS tn,
         cast((1663904182000 + event_id) // 1000 AS varchar) AS ts_sec,
         (event_id % 5) * 2 + 1 AS c0, event_id % 7 AS c1, event_id % 11 AS c2
  FROM events
), sv AS (SELECT * FROM ev WHERE eid % 2 = 0), hg AS (
  SELECT *, 'ip#$#9.9.9.' || ut || '|' AS ipl,
         '|service#$#' || et || '|serviceInstance#$#inst-' || ut AS svc
  FROM ev WHERE eid % 2 = 1
), rows AS (
  SELECT doc_id, 'sv_metric' AS name, tn AS time_nano,
         'a#$#x-' || ut || '|service#$#' || et || '|serviceInstance#$#inst-'
           || ut AS labels,
         cast(eid % 97 AS varchar) AS value, ts_sec FROM sv
  UNION ALL SELECT doc_id, 'h_metric_count', tn,
    ipl || substring(svc, 2), cast(c0 + c1 + c2 AS varchar), ts_sec FROM hg
  UNION ALL SELECT doc_id, 'h_metric_sum', tn,
    ipl || substring(svc, 2),
    cast(0.5 * c0 + 50 * c1 + 88 * c2 AS varchar), ts_sec FROM hg
  UNION ALL SELECT doc_id, 'h_metric_bucket', tn,
    ipl || 'le#$#50' || svc, cast(c0 AS varchar), ts_sec FROM hg
  UNION ALL SELECT doc_id, 'h_metric_bucket', tn,
    ipl || 'le#$#88' || svc, cast(c0 + c1 AS varchar), ts_sec FROM hg
  UNION ALL SELECT doc_id, 'h_metric_bucket', tn,
    ipl || 'le#$#+Inf' || svc, cast(c0 + c1 + c2 AS varchar), ts_sec FROM hg
)
SELECT doc_id, name, time_nano, labels, value, ts_sec FROM rows"""


def q_skywalking_logging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SkyWalking v3 logging payloads (logging_handle.go convertFormat):
    LogData → the fixed log-event key set with body-type dispatch, Go-marshal
    attribute/resource JSON, and conditional trace context."""
    from .operators.skywalking import SkywalkingLoggingParser

    ev = _events_raw(spark, sf_dir)
    eid, et = F.col("event_id"), F.col("event_type")
    ut = (F.col("user_id") % 5).cast("string")
    t = F.lit(1663904182000) + eid
    body = (
        F.when(
            eid % 3 == 0,
            F.concat(F.lit('{"type":"TEXT","text":{"text":"t-'), et, F.lit('"}}')),
        )
        .when(
            eid % 3 == 1,
            F.concat(F.lit('{"type":"json","json":{"json":"j-'), et, F.lit('"}}')),
        )
        .otherwise(
            F.concat(F.lit('{"type":"yaml","yaml":{"yaml":"y-'), et, F.lit('"}}'))
        )
    )
    trace = F.when(
        eid % 4 != 3,
        F.concat(
            F.lit(',"traceContext":{"traceId":"'), F.md5(F.col("doc_id")),
            F.lit('","traceSegmentId":"seg-'), eid.cast("string"),
            F.lit('","spanId":'), (eid % 50).cast("string"), F.lit("}"),
        ),
    ).otherwise(F.lit(""))
    payload = F.concat(
        F.lit('{"timestamp":'), t.cast("string"),
        F.lit(',"service":"'), et,
        F.lit('","serviceInstance":"inst-'), ut,
        F.lit('","endpoint":"ep-'), et,
        F.lit('","body":'), body,
        trace,
        F.lit(',"tags":{"data":[{"key":"k","value":"v-'), ut, F.lit('"}]}}')
    )
    df = to_events(ev.select("doc_id", payload.alias("content")))
    out = SkywalkingLoggingParser().apply(df)
    keys = ["otlp.name", "attribute", "service", "content", "traceID",
            "spanID", "resource", "timeUnixNano"]
    return out.select(
        "doc_id",
        *[fget(k).alias(k.replace(".", "_")) for k in keys],
        fget("__ts_sec__").alias("ts_sec"),
    )


def oracle_skywalking_logging() -> str:
    return """WITH ev AS (
  SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
         event_id AS eid, event_type AS et, cast(user_id % 5 AS varchar) AS ut,
         1663904182000 + event_id AS t
  FROM events
)
SELECT doc_id,
  'apache-skywalking' AS otlp_name,
  '{"endpoint":"ep-' || et || '","k":"v-' || ut || '"}' AS attribute,
  et AS service,
  (ARRAY['t-','j-','y-'])[cast(eid % 3 AS int) + 1] || et AS content,
  CASE WHEN eid % 4 <> 3 THEN md5(doc_id) END AS traceID,
  CASE WHEN eid % 4 <> 3 THEN 'seg-' || eid || '.' || (eid % 50) END AS spanID,
  '{"serviceInstance":"inst-' || ut || '"}' AS resource,
  cast(t AS varchar) AS timeUnixNano,
  cast(t // 1000 AS varchar) AS ts_sec
FROM ev"""


def q_skywalking_browser_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SkyWalking browser error logs (logging_handle.go:153-173
    convertBrowserErrorLog) — incl. the reference's rune renderings of
    line/col and the errorUrl←Col parity bug."""
    from .operators.skywalking import SkywalkingBrowserErrorParser

    ev = _events_raw(spark, sf_dir)
    eid, et = F.col("event_id"), F.col("event_type")
    ut = (F.col("user_id") % 5).cast("string")
    cat = F.element_at(
        F.array(*[F.lit(x) for x in ("ajax", "resource", "vue", "promise", "js", "unknown")]),
        (eid % 6).cast("int") + 1,
    )
    payload = F.concat(
        F.lit('{"uniqueId":"u-'), F.substring(F.md5(F.col("doc_id")), 1, 8),
        F.lit('","service":"'), et,
        F.lit('","serviceVersion":"v'), (eid % 5).cast("string"),
        F.lit('","time":'), (F.lit(1663904182000) + eid).cast("string"),
        F.lit(',"pagePath":"/page/'), ut,
        F.lit('","category":"'), cat,
        F.lit('","grade":"ERROR","message":"m-'), et,
        F.lit('","line":'), (F.lit(65) + eid % 26).cast("string"),
        F.lit(',"col":'), (F.lit(97) + eid % 26).cast("string"),
        F.lit(',"stack":"st-'), et,
        F.lit('","errorUrl":"/real/url","firstReportedError":'),
        F.when(eid % 2 == 0, F.lit("true")).otherwise(F.lit("false")),
        F.lit("}"),
    )
    df = to_events(ev.select("doc_id", payload.alias("content")))
    out = SkywalkingBrowserErrorParser().apply(df)
    keys = ["otlp.name", "service", "uniqueId", "serviceVersion", "category",
            "pagePath", "grade", "message", "line", "col", "stack",
            "errorUrl", "firstReportedError"]
    return out.select(
        "doc_id",
        *[fget(k).alias(k.replace(".", "_")) for k in keys],
        fget("__ts_sec__").alias("ts_sec"),
    )


def oracle_skywalking_browser_error() -> str:
    return """WITH ev AS (
  SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
         event_id AS eid, event_type AS et, cast(user_id % 5 AS varchar) AS ut
  FROM events
)
SELECT doc_id,
  'apache-skywalking' AS otlp_name,
  et AS service,
  'u-' || substring(md5(doc_id), 1, 8) AS uniqueId,
  'v' || (eid % 5) AS serviceVersion,
  (ARRAY['ajax','resource','vue','promise','js','unknown'])
    [cast(eid % 6 AS int) + 1] AS category,
  '/page/' || ut AS pagePath,
  'ERROR' AS grade,
  'm-' || et AS message,
  chr(cast(65 + eid % 26 AS int)) AS line,
  chr(cast(97 + eid % 26 AS int)) AS col,
  'st-' || et AS stack,
  chr(cast(97 + eid % 26 AS int)) AS errorUrl,
  CASE WHEN eid % 2 = 0 THEN 'true' ELSE 'false' END AS firstReportedError,
  cast((1663904182000 + eid) // 1000 AS varchar) AS ts_sec
FROM ev"""


def q_flusher_otlp_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """flusher_otlp Export path, metric direction
    (ConvertPipelineEventToOtlpMetric): per-sink-group MetricsData payloads
    (gauge → Gauge, counter → DELTA Sum, untyped skipped), roundtrip-pinned
    through otlp_pb.decode_metrics + OtelMetricParser."""
    from .operators.convert import otlp_metrics_sink_frames
    from .operators.otel import OtelMetricParser
    from .operators.otlp_pb import OtelPbToJson

    ev = _events_raw(spark, sf_dir)
    eid = F.col("event_id")
    ut = (F.col("user_id") % 5).cast("string")
    sk = (eid % 3).cast("string")
    mtype = F.when(eid % 5 == 0, F.lit("untyped")).otherwise(
        F.when(eid % 2 == 0, F.lit("gauge")).otherwise(F.lit("counter"))
    )
    frame = ev.select(
        "event_id",
        F.concat(F.lit("sink-"), sk).alias("sink"),
        F.concat(F.lit("c"), sk).alias("__cluster__"),
        F.concat(F.lit("m_"), (eid % 7).cast("string")).alias("metric_name"),
        mtype.alias("metric_type"),
        F.create_map(F.lit("host"), F.concat(F.lit("h"), ut)).alias("tags"),
        ((eid % 89).cast("double") + 0.5).alias("value"),
        (F.lit(1663904182000000000) + eid * 1000).alias("ts_ns"),
    )
    enc = otlp_metrics_sink_frames(
        frame, ["sink"],
        resource_tags={"cluster": F.col("__cluster__")},
        order_col="event_id",
    )
    dec_in = to_events(enc.select("sink", F.lower(F.hex("payload")).alias("content")))
    out = OtelMetricParser().apply(OtelPbToJson("metric").apply(dec_in))
    return out.select(
        "sink",
        fget("__name__").alias("name"),
        fget("__labels__").alias("labels"),
        fget("__time_nano__").alias("time_nano"),
        fget("__value__").alias("value"),
    )


def oracle_flusher_otlp_metric() -> str:
    return """WITH ev AS (
  SELECT event_id AS eid, 'sink-' || (event_id % 3) AS sink,
         'c' || (event_id % 3) AS cl,
         'm_' || (event_id % 7) AS name,
         'host#$#h' || (user_id % 5) AS hostl,
         cast(1663904182000000000 + event_id * 1000 AS varchar) AS tn,
         (event_id % 89) || '.5' AS v
  FROM events WHERE event_id % 5 <> 0
)
SELECT sink, name,
  'cluster#$#' || cl || '|' || hostl AS labels,
  tn AS time_nano, v AS value
FROM ev WHERE eid % 2 = 0
UNION ALL
SELECT sink, name,
  'cluster#$#' || cl || '|' || hostl || '|otlp_metric_ismonotonic#$#false'
    AS labels,
  tn AS time_nano, v AS value
FROM ev WHERE eid % 2 = 1"""


def q_skywalking_resources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SkyWalking management handler (ReportInstanceProperties →
    ResourcePropertiesCache, management_handle.go:105-115): a stream of
    property reports → the latest-wins resource lookup table with the
    OT key mapping + filterProperties semantics, rendered the way the
    segment parser consumes it (sorted-key JSON + host)."""
    from .operators.skywalking import (
        convert_resource_ot,
        go_map_json,
        resource_properties_table,
    )

    ev = _events_raw(spark, sf_dir)
    eid, et = F.col("event_id"), F.col("event_type")
    ut = (F.col("user_id") % 5).cast("string")
    ns = F.when(eid % 2 == 0, F.concat(F.lit("ns-"), ut)).otherwise(F.lit(""))
    payload = F.concat(
        F.lit('{"service":"'), et,
        F.lit('","serviceInstance":"inst-'), ut,
        F.lit('","properties":[{"key":"hostname","value":"h-'), ut,
        F.lit("-"), (eid % 4).cast("string"),
        F.lit('"},{"key":"Start Time","value":"x"},'
              '{"key":"namespace","value":"'), ns,
        F.lit('"},{"key":"language","value":"java"}]}'),
    )
    df = ev.select("doc_id", "event_id", payload.alias("content"))
    res = resource_properties_table(
        to_events(df.select("event_id", "content")), order_col="event_id"
    )
    ent = convert_resource_ot(F.col("properties"))
    return res.select(
        "service",
        "serviceInstance",
        go_map_json(ent).alias("resource"),
        F.aggregate(
            ent,
            F.lit(""),
            lambda acc, e: F.when(
                e.getField("k") == "host.name", e.getField("v")
            ).otherwise(acc),
        ).alias("host"),
    ).orderBy("service", "serviceInstance")


def oracle_skywalking_resources() -> str:
    return """WITH ev AS (
  SELECT event_id AS eid, event_type AS et, cast(user_id % 5 AS varchar) AS ut
  FROM events
), latest AS (
  SELECT et, ut, max(eid) AS me FROM ev GROUP BY et, ut
)
SELECT et AS service, 'inst-' || ut AS serviceInstance,
  '{"host.name":"h-' || ut || '-' || (me % 4) || '",' ||
  CASE WHEN me % 2 = 0 THEN '"service.namespace":"ns-' || ut || '",'
       ELSE '"namespace":"",' END ||
  '"telemetry.sdk.language":"java"}' AS resource,
  'h-' || ut || '-' || (me % 4) AS host
FROM latest"""


def q_flusher_otlp_trace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """flusher_otlp Export path, trace direction
    (ConvertPipelineEventToOtlpSpan): per-sink-group TracesData payloads —
    hex ids to bytes with the empty-on-bad-length rule, parent span ids,
    status code+message — roundtrip-pinned through otlp_pb.decode_traces +
    OtelTraceParser."""
    from .operators.convert import otlp_traces_sink_frames
    from .operators.otel import OtelTraceParser
    from .operators.otlp_pb import OtelPbToJson

    ev = _events_raw(spark, sf_dir)
    eid = F.col("event_id")
    ut = (F.col("user_id") % 5).cast("string")
    sk = (eid % 3).cast("string")
    start = F.lit(1663904182000000000) + eid * 1000
    frame = ev.select(
        "event_id",
        F.concat(F.lit("sink-"), sk).alias("sink"),
        F.concat(F.lit("h"), sk).alias("__host__"),
        F.concat(F.lit("s"), sk).alias("__svc__"),
        F.concat(F.lit("c"), sk).alias("__cluster__"),
        F.md5(F.col("doc_id")).alias("trace_id"),
        F.substring(F.md5(F.concat(F.col("doc_id"), F.lit("s"))), 1, 16).alias("span_id"),
        F.when(eid % 4 == 0, F.lit("")).otherwise(
            F.substring(F.md5(F.concat(F.col("doc_id"), F.lit("p"))), 1, 16)
        ).alias("parent_span_id"),
        F.concat(F.lit("op-"), F.col("event_type")).alias("span_name"),
        (eid % 5 + 1).cast("int").alias("kind"),
        start.alias("start_ns"),
        (start + (eid % 100 + 1) * 1000000).alias("end_ns"),
        F.create_map(
            F.lit("http.status"), (F.lit(200) + F.col("user_id") % 5 * 100).cast("string")
        ).alias("tags"),
        (eid % 3).cast("int").alias("status_code"),
        F.when(eid % 3 == 2, F.lit("boom")).otherwise(F.lit("")).alias("status_message"),
    )
    enc = otlp_traces_sink_frames(
        frame, ["sink"],
        status_message_col="status_message",
        resource_tags={
            "host.name": F.col("__host__"),
            "service.name": F.col("__svc__"),
            "cluster": F.col("__cluster__"),
        },
        scope_name="io.otel", scope_version="1.0",
        order_col="event_id",
    )
    dec_in = to_events(enc.select("sink", F.lower(F.hex("payload")).alias("content")))
    out = OtelTraceParser().apply(OtelPbToJson("trace").apply(dec_in))
    keys = ["host", "service", "traceID", "spanID", "parentSpanID", "kind",
            "name", "start", "end", "duration", "attribute", "statusCode",
            "statusMessage", "resource"]
    return out.select("sink", *[fget(k).alias(k) for k in keys])


def oracle_flusher_otlp_trace() -> str:
    return """WITH ev AS (
  SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
         event_id AS eid, 'sink-' || (event_id % 3) AS sink,
         cast(event_id % 3 AS varchar) AS sks,
         user_id % 5 AS ut, event_type,
         1663904182000000000 + event_id * 1000 AS st
  FROM events
)
SELECT sink,
  'h' || sks AS host,
  's' || sks AS service,
  md5(doc_id) AS traceID,
  substring(md5(doc_id || 's'), 1, 16) AS spanID,
  CASE WHEN eid % 4 = 0 THEN ''
       ELSE substring(md5(doc_id || 'p'), 1, 16) END AS parentSpanID,
  CASE eid % 5 + 1
    WHEN 1 THEN 'internal' WHEN 2 THEN 'server' WHEN 3 THEN 'client'
    WHEN 4 THEN 'producer' WHEN 5 THEN 'consumer' END AS kind,
  'op-' || event_type AS name,
  cast(st // 1000 AS varchar) AS "start",
  cast((st + (eid % 100 + 1) * 1000000) // 1000 AS varchar) AS "end",
  cast((eid % 100 + 1) * 1000 AS varchar) AS duration,
  '{"http.status":"' || (200 + ut * 100) || '"}' AS attribute,
  CASE eid % 3 WHEN 2 THEN 'ERROR' WHEN 1 THEN 'OK' ELSE 'UNSET' END
    AS statusCode,
  CASE WHEN eid % 3 = 2 THEN 'boom' ELSE '' END AS statusMessage,
  '{"cluster":"c' || sks || '"}' AS resource
FROM ev"""


def q_nginx_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """metric_nginx_status (plugins/input/nginx/input_nginx.go:114-190):
    stub_status body parse + _server_/_port_ URL tags (explicit port wins,
    else scheme default)."""
    from .operators.statuspage import NginxStatusParser

    ev = _events_raw(spark, sf_dir)
    eid = F.col("event_id")
    ut = (F.col("user_id") % 5).cast("string")
    body = F.concat(
        F.lit("Active connections: "), (eid % 300 + 1).cast("string"), F.lit(" \n"),
        F.lit("server accepts handled requests\n "),
        (eid * 3).cast("string"), F.lit(" "),
        (eid * 3 - eid % 2).cast("string"), F.lit(" "),
        (eid * 7).cast("string"), F.lit(" \n"),
        F.lit("Reading: "), (eid % 10).cast("string"),
        F.lit(" Writing: "), (eid % 20).cast("string"),
        F.lit(" Waiting: "), (eid % 30).cast("string"), F.lit(" \n"),
    )
    url = F.concat(
        F.when(eid % 3 == 0, F.lit("https")).otherwise(F.lit("http")),
        F.lit("://ngx-"), ut,
        F.when(eid % 2 == 0, F.lit(":8080")).otherwise(F.lit("")),
        F.lit("/nginx_status"),
    )
    df = to_events(ev.select("doc_id", url.alias("url"), body.alias("content")))
    out = NginxStatusParser().apply(df)
    keys = ["active", "accepts", "handled", "requests", "reading", "writing",
            "waiting", "_server_", "_port_"]
    return out.select("doc_id", *[fget(k).alias(k.strip("_") or k) for k in keys])


def oracle_nginx_status() -> str:
    return """SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
  cast(event_id % 300 + 1 AS varchar) AS active,
  cast(event_id * 3 AS varchar) AS accepts,
  cast(event_id * 3 - event_id % 2 AS varchar) AS handled,
  cast(event_id * 7 AS varchar) AS requests,
  cast(event_id % 10 AS varchar) AS reading,
  cast(event_id % 20 AS varchar) AS writing,
  cast(event_id % 30 AS varchar) AS waiting,
  'ngx-' || (user_id % 5) AS server,
  CASE WHEN event_id % 2 = 0 THEN '8080'
       WHEN event_id % 3 = 0 THEN '443' ELSE '80' END AS port
FROM events"""


def q_redis_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """metric_redis (plugins/input/redis/input_redis.go:178-268): INFO body
    scan — section whitelist, Tracking renames, Keyspace fan-in + total_db_*
    roll-up, the hard 'ERR' break (every 11th body), server/port URL tags."""
    from .operators.statuspage import RedisInfoParser

    ev = _events_raw(spark, sf_dir)
    eid = F.col("event_id")
    s = lambda c: c.cast("string")  # noqa: E731
    err_row = eid % 11 == 0
    body = F.concat(
        F.lit("# Server\r\nredis_version:7.0."), s(eid % 5),
        F.lit("\r\nredis_git_sha1:deadbeef\r\nuptime_in_seconds:"), s(eid * 10),
        F.lit("\r\n\r\n# Clients\r\nconnected_clients:"), s(eid % 100),
        F.lit("\r\n\r\n# Replication\r\nrole:"),
        F.when(eid % 4 == 0, F.lit("slave")).otherwise(F.lit("master")),
        F.lit("\r\n"),
        F.when(err_row, F.lit("-ERR oops\r\n")).otherwise(F.lit("")),
        F.lit("# Keyspace\r\ndb0:keys="), s(eid % 1000),
        F.lit(",expires="), s(eid % 7),
        F.lit(",avg_ttl="), s((eid % 50) * 100),
        F.lit("\r\ndb1:keys="), s(F.col("user_id") % 300),
        F.lit(",expires=0,avg_ttl="), s((eid % 30) * 10),
        F.lit("\r\n"),
    )
    url = F.concat(
        F.lit("tcp://redis-"), s(F.col("user_id") % 5),
        F.when(eid % 2 == 0, F.lit(":7000")).otherwise(F.lit("")),
    )
    df = to_events(ev.select("doc_id", url.alias("url"), body.alias("content")))
    out = RedisInfoParser().apply(df)
    keys = ["redis_version", "uptime", "clients", "replication_role",
            "db0_keys", "db1_avg_ttl", "total_db_count", "total_db_keys",
            "total_db_avg_ttl", "total_db_expires", "server", "port"]
    return out.select("doc_id", *[fget(k).alias(k) for k in keys])


def oracle_redis_info() -> str:
    return """SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
  '7.0.' || (event_id % 5) AS redis_version,
  cast(event_id * 10 AS varchar) AS uptime,
  cast(event_id % 100 AS varchar) AS clients,
  CASE WHEN event_id % 4 = 0 THEN 'slave' ELSE 'master' END AS replication_role,
  CASE WHEN event_id % 11 = 0 THEN NULL
       ELSE cast(event_id % 1000 AS varchar) END AS db0_keys,
  CASE WHEN event_id % 11 = 0 THEN NULL
       ELSE cast((event_id % 30) * 10 AS varchar) END AS db1_avg_ttl,
  CASE WHEN event_id % 11 = 0 THEN '0' ELSE '2' END AS total_db_count,
  CASE WHEN event_id % 11 = 0 THEN '0'
       ELSE cast((event_id % 1000) + (user_id % 300) AS varchar) END AS total_db_keys,
  CASE WHEN event_id % 11 = 0 THEN '0'
       ELSE cast(((event_id % 50) * 100 + (event_id % 30) * 10) // 2 AS varchar)
       END AS total_db_avg_ttl,
  CASE WHEN event_id % 11 = 0 THEN '0'
       ELSE cast(event_id % 7 AS varchar) END AS total_db_expires,
  'redis-' || (user_id % 5) AS server,
  CASE WHEN event_id % 2 = 0 THEN '7000' ELSE '6379' END AS port
FROM events"""


def q_wineventlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """service_wineventlog (plugins/input/input_wineventlog/eventlog/
    eventlog.go:67-163): Record.ToEvent — ignore-zero addValue fields,
    message line-ending normalization, event_data/user_data Go-marshal
    packing with Data renumbering, user block gated on user_identifier —
    behind the documented EventID include/range/exclude config filter."""
    from .operators.wineventlog import WinEventLogConverter, compile_event_id_filter

    ev = _events_raw(spark, sf_dir)
    eid = F.col("event_id")
    s = lambda c: c.cast("string")  # noqa: E731
    rec = ev.select(
        "doc_id",
        F.lit("wineventlog").alias("api"),
        F.lit("Application").alias("channel"),
        F.concat(F.lit("prov-"), s(F.col("user_id") % 7)).alias("provider_name"),
        F.concat(F.lit("host-"), s(F.col("user_id") % 5)).alias("computer"),
        eid.alias("record_id"),
        (F.lit(4600) + eid % 300).alias("eventid"),
        (eid % 4).alias("version"),
        F.element_at(
            F.array(F.lit("Information"), F.lit("Warning"), F.lit("Error"), F.lit("Critical")),
            (eid % 4 + 1).cast("int"),
        ).alias("level"),
        F.when(eid % 2 == 0, F.array(F.lit("Audit Success"))).alias("keywords"),
        F.concat(F.lit("a\r\nb-"), s(eid)).alias("message"),
        (eid % 50).alias("process_id"),
        F.when(eid % 6 != 0, F.concat(F.lit("S-1-5-"), s(F.col("user_id") % 10))).otherwise(
            F.lit("")
        ).alias("user_identifier"),
        F.concat(F.lit("u"), s(F.col("user_id") % 10)).alias("user_name"),
        F.array(
            F.struct(F.lit("K1").alias("k"), F.col("event_type").alias("v")),
            F.struct(F.lit("").alias("k"), F.concat(F.lit("x"), s(eid % 9)).alias("v")),
        ).alias("event_data"),
        F.concat(F.lit("UD"), s(eid % 2)).alias("user_data_name"),
    )
    rec = rec.filter(compile_event_id_filter("4624,4700-4800,-4735", F.col("eventid")))
    out = WinEventLogConverter().apply(rec)
    keys = ["event_id", "level", "version", "keywords", "message", "process_id",
            "user_identifier", "user_name", "event_data", "user_data"]
    return out.select("doc_id", *[fget(k).alias("w_" + k) for k in keys])


def oracle_wineventlog() -> str:
    return """SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
  cast(4600 + event_id % 300 AS varchar) AS w_event_id,
  CASE event_id % 4 WHEN 0 THEN 'Information' WHEN 1 THEN 'Warning'
       WHEN 2 THEN 'Error' ELSE 'Critical' END AS w_level,
  CASE WHEN event_id % 4 = 0 THEN NULL
       ELSE cast(event_id % 4 AS varchar) END AS w_version,
  CASE WHEN event_id % 2 = 0 THEN '[Audit Success]' ELSE NULL END AS w_keywords,
  'a' || chr(10) || 'b-' || event_id AS w_message,
  CASE WHEN event_id % 50 = 0 THEN NULL
       ELSE cast(event_id % 50 AS varchar) END AS w_process_id,
  CASE WHEN event_id % 6 = 0 THEN NULL
       ELSE 'S-1-5-' || (user_id % 10) END AS w_user_identifier,
  CASE WHEN event_id % 6 = 0 THEN NULL
       ELSE 'u' || (user_id % 10) END AS w_user_name,
  '{"Data1":"x' || (event_id % 9) || '","K1":"' || event_type || '"}' AS w_event_data,
  '{"xml_name":"UD' || (event_id % 2) || '"}' AS w_user_data
FROM events
WHERE (4600 + event_id % 300) = 4624
   OR ((4600 + event_id % 300) BETWEEN 4700 AND 4800
       AND (4600 + event_id % 300) <> 4735)"""


def _pprof_payloads(ev: DataFrame) -> DataFrame:
    """q_pprof_profile's fixture: (doc_id, user_id, payload) with the pprof
    wire bytes built per event in one ``payload_rows`` Arrow stage."""
    from .operators.pprof_profile import PprofBuilder

    def rows_of(r: dict) -> list[tuple]:
        e = r["event_id"]
        b = PprofBuilder()
        b.sample_type("samples", "count")
        leaf = b.location([b.function(f"fn{e % 5}", "a.go")])
        root = b.location([b.function("base", "b.go")])
        b.sample([leaf, root], [e % 20 + 1])
        if e % 3 == 0:
            b.sample([root], [e % 7 + 1])
        payload = b.build(
            time_nanos=1_700_000_000_000_000_000 + e * 1_000_000,
            duration_nanos=5_000_000,
            period=10_000_000,
            period_type=("cpu", "nanoseconds"),
            gzipped=e % 2 == 0,
        )
        return [(payload,)]

    payload = [StructField("payload", BinaryType())]
    return payload_rows(ev, ["event_id"], ["doc_id", "user_id"], payload, rows_of)


def q_pprof_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pprof profile ingestion (pkg/helper/profile/pyroscope/pprof/pprof.go
    extractLogs + extractProfileV1): wire decode (plain + gzipped), stack
    resolution, samples→nanoseconds period scaling, xxhash64 stack IDs,
    label marshal with _sample_rate_, profile TimeNanos timestamps."""
    from .operators.pprof_profile import PprofProfileParser

    frame = _pprof_payloads(_events_raw(spark, sf_dir)).select(
        "doc_id",
        "payload",
        F.lit("go").alias("spy_name"),
        F.lit(100).cast("long").alias("sample_rate"),
        F.create_map(
            F.lit("app"), F.concat(F.lit("ap"), (F.col("user_id") % 3).cast("string"))
        ).alias("meta_tags"),
    )
    out = PprofProfileParser(passthrough=["doc_id"]).apply(frame)
    return out.select(
        "doc_id", "name", "stack", "stackID", "val", "units", "valueTypes",
        "aggTypes", "type", "durationNs", "time_sec", "labels",
    )


def oracle_pprof_profile() -> str:
    from .operators.xxh import xxh64_hex

    leaf_ids = " ".join(
        f"WHEN {k} THEN '{xxh64_hex(f'fn{k} a.gobase b.go'.encode())}'"
        for k in range(5)
    )
    root_id = xxh64_hex(b"base b.go")
    return f"""WITH base AS (
  SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
         event_id AS e, user_id AS u
  FROM events
)
SELECT doc_id, 'fn' || (e % 5) || ' a.go' AS name, 'base b.go' AS stack,
  CASE e % 5 {leaf_ids} END AS stackID,
  cast((e % 20 + 1) * 10000000 AS varchar) || '.00' AS val,
  'nanoseconds' AS units, 'cpu' AS valueTypes, 'sum' AS aggTypes,
  'profile_cpu' AS type, cast(5000000 AS bigint) AS durationNs,
  cast(1700000000 + e // 1000 AS bigint) AS time_sec,
  '{{"_sample_rate_":"100","app":"ap' || (u % 3) || '"}}' AS labels
FROM base
UNION ALL
SELECT doc_id, 'base b.go', '', '{root_id}',
  cast((e % 7 + 1) * 10000000 AS varchar) || '.00',
  'nanoseconds', 'cpu', 'sum', 'profile_cpu', cast(5000000 AS bigint),
  cast(1700000000 + e // 1000 AS bigint),
  '{{"_sample_rate_":"100","app":"ap' || (u % 3) || '"}}'
FROM base WHERE e % 3 = 0"""


def q_jfr_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JFR ingestion (pkg/helper/profile/pyroscope/jfr/parser.go parseChunk):
    execution samples (STATE_RUNNABLE → cpu tree, event=cpu gate drops wall),
    TLAB allocation objects+bytes fan-out, LabelsSnapshot pb context labels,
    samples→ns scaling, xxhash64 stack IDs."""
    from .operators.jfr import _EVENT_T, JfrChunkParser, encode_labels_snapshot

    ev = _events_raw(spark, sf_dir)
    eid = F.col("event_id")
    none = [F.lit(None)] * 5

    def evt(kind, ctx, state, name, value, tlab, frames):
        return F.struct(
            F.lit(kind).alias("kind"),
            ctx.cast("long").alias("context_id"),
            state.alias("state"),
            name.alias("name"),
            value.alias("value"),
            tlab.cast("long").alias("tlab_size"),
            F.lit(None).cast("long").alias("alloc_size"),
            F.lit(None).cast("long").alias("duration"),
            frames.alias("frames"),
        )

    def frame(t, m):
        return F.struct(t.alias("type"), m.alias("method"))

    setting = evt(
        "active_setting", F.lit(0), none[0].cast("string"), F.lit("event"),
        F.lit("cpu"), none[1], F.lit(None).cast("array<struct<type:string,method:string>>"),
    )
    sample = evt(
        "execution_sample", eid % 3,
        F.when(eid % 2 == 0, F.lit("STATE_RUNNABLE")).otherwise(F.lit("STATE_SLEEPING")),
        none[2].cast("string"), none[3].cast("string"), none[4],
        F.array(
            frame(F.concat(F.lit("Cls"), (eid % 4).cast("string")), F.lit("m")),
            frame(F.lit("Base"), F.lit("run")),
        ),
    )
    alloc = evt(
        "alloc_in_new_tlab", F.lit(0), F.lit(None).cast("string"),
        F.lit(None).cast("string"), F.lit(None).cast("string"), eid % 100 + 1,
        F.array(frame(F.lit("Alloc"), F.lit("a"))),
    )
    events = F.when(
        eid % 5 == 0, F.array(setting, sample, alloc)
    ).otherwise(F.array(setting, sample)).cast(_EVENT_T)

    pb = encode_labels_snapshot(
        {1: {1: 2}, 2: {1: 3}}, {1: "region", 2: "eu", 3: "us"}
    )
    frame_df = ev.select(
        "doc_id",
        events.alias("events"),
        F.lit(bytearray(pb)).alias("labels_pb"),
        F.lit(100).cast("long").alias("sample_rate"),
        F.lit(1_700_000_000_000_000_000).alias("start_ns"),
        F.lit(1_700_000_000_005_000_000).alias("end_ns"),
        F.create_map(F.lit("app"), F.lit("svc")).alias("meta_tags"),
    )
    out = JfrChunkParser(passthrough=["doc_id"]).apply(frame_df)
    return out.select(
        "doc_id", "name", "stack", "stackID", "val", "units", "valueTypes",
        "aggTypes", "type", "durationNs", "time_sec", "labels",
    )


def oracle_jfr_profile() -> str:
    from .operators.xxh import xxh64_hex

    cpu_ids = " ".join(
        f"WHEN {k} THEN '{xxh64_hex(f'Cls{k}.mBase.run'.encode())}'" for k in range(4)
    )
    alloc_id = xxh64_hex(b"Alloc.a")
    return f"""WITH base AS (
  SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
         event_id AS e
  FROM events
), lab AS (
  SELECT e, doc_id,
    CASE e % 3 WHEN 0 THEN '{{"_sample_rate_":"100","app":"svc"}}'
      WHEN 1 THEN '{{"_sample_rate_":"100","app":"svc","region":"eu"}}'
      ELSE '{{"_sample_rate_":"100","app":"svc","region":"us"}}' END AS labels
  FROM base
)
SELECT doc_id, 'Cls' || (e % 4) || '.m' AS name, 'Base.run' AS stack,
  CASE e % 4 {cpu_ids} END AS stackID,
  '10000000.00' AS val, 'nanoseconds' AS units, 'cpu' AS valueTypes,
  'sum' AS aggTypes, 'profile_cpu' AS type,
  cast(5000000 AS bigint) AS durationNs,
  cast(1700000000 AS bigint) AS time_sec, labels
FROM lab WHERE e % 2 = 0
UNION ALL
SELECT doc_id, 'Alloc.a', '', '{alloc_id}', '1.00', 'objects',
  'alloc_in_new_tlab_objects', 'sum', 'profile_mem',
  cast(5000000 AS bigint), cast(1700000000 AS bigint),
  '{{"_sample_rate_":"100","app":"svc"}}'
FROM base WHERE e % 5 = 0
UNION ALL
SELECT doc_id, 'Alloc.a', '', '{alloc_id}',
  cast(e % 100 + 1 AS varchar) || '.00', 'bytes', 'alloc_in_new_tlab_bytes',
  'sum', 'profile_mem', cast(5000000 AS bigint), cast(1700000000 AS bigint),
  '{{"_sample_rate_":"100","app":"svc"}}'
FROM base WHERE e % 5 = 0"""


def q_k8smetav1_pods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kubernetesmetav1 pods (kubernetes_collect_core.go:51-95 +
    addPodParents): restart roll-up, workload regexes, container.N attrs,
    Node parent via the node mapping, Deployment/Service parents via
    label-selector matchers, addresses consumed by the parent wiring."""
    from .operators.k8smetav1 import K8sMetaV1Converter

    ev = _events_raw(spark, sf_dir)
    eid = F.col("event_id")
    s = lambda c: c.cast("string")  # noqa: E731
    name = F.when(
        eid % 3 != 0, F.concat(F.lit("app"), s(eid % 4), F.lit("-5d4b8cf9d8-x2abc"))
    ).otherwise(F.lit("standalone"))
    pods = ev.select(
        "doc_id",
        F.concat(F.lit("p-"), s(eid)).alias("uid"),
        name.alias("name"),
        F.concat(F.lit("ns"), s(eid % 2)).alias("namespace"),
        F.create_map(F.lit("app"), F.concat(F.lit("a"), s(eid % 4))).alias("labels"),
        F.when(eid % 5 == 0, F.lit("Pending")).otherwise(F.lit("Running")).alias("phase"),
        F.concat(F.lit("10.0."), s(eid % 200), F.lit(".1")).alias("pod_ip"),
        F.concat(F.lit("node-"), s(eid % 3)).alias("node_name"),
        F.array((eid % 3).cast("int"), (eid % 2).cast("int")).alias("restart_counts"),
        F.when(eid % 4 == 0, F.array(F.concat(F.lit("pvc-"), s(eid % 7)))).alias("claim_names"),
        (eid % 6 == 0).alias("host_network"),
        F.array(
            F.struct(F.lit("c0").alias("name"), F.concat(F.lit("img"), s(eid % 9)).alias("image"))
        ).alias("containers"),
        (F.lit(1700000000) + eid % 1000).alias("creation_ts"),
        s(eid % 50).alias("resource_version"),
    )
    nodes = spark.createDataFrame(
        [(f"n-{i}", f"node-{i}") for i in range(3)], "uid string, name string"
    )
    wl_schema = (
        "uid string, name string, namespace string, labels map<string,string>, "
        "selector map<string,string>, creation_ts long, resource_version string"
    )
    deployments = spark.createDataFrame(
        [(f"d-ns{n}-{k}", f"dep{k}", f"ns{n}", {}, {"app": f"a{k}"}, 1, "1")
         for n in range(2) for k in range(4)],
        wl_schema,
    )
    services = spark.createDataFrame(
        [(f"s-ns{n}", "svc", f"ns{n}", {}, {"app": "a0"}, 1, "1") for n in range(2)],
        wl_schema,
    )
    conv = K8sMetaV1Converter()
    m = conv.matchers_frame(deployments=deployments, services=services)
    return conv.pod_nodes(pods, nodes=nodes, matchers=m, keep=["doc_id"]).select(
        "doc_id", "id", "type", "attributes", "labels", "parents"
    )


def oracle_k8smetav1_pods() -> str:
    return """SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
  'p-' || event_id AS id, 'Pod' AS type,
  '{"container.0.container_name":"c0","container.0.image_name":"img'
    || (event_id % 9) || '","creation_time":' || (1700000000 + event_id % 1000)
    || CASE WHEN event_id % 6 = 0 THEN ',"host_network":"true"' ELSE '' END
    || ',"name":"'
    || CASE WHEN event_id % 3 <> 0
         THEN 'app' || (event_id % 4) || '-5d4b8cf9d8-x2abc'
         ELSE 'standalone' END
    || '","namespace":"ns' || (event_id % 2) || '","phase":"'
    || CASE WHEN event_id % 5 = 0 THEN 'Pending' ELSE 'Running' END
    || '","pod_ip":"10.0.' || (event_id % 200) || '.1","resource_version":"'
    || (event_id % 50) || '","restart_count":' || (event_id % 3 + event_id % 2)
    || CASE WHEN event_id % 4 = 0
         THEN ',"volume_claim":"pvc-' || (event_id % 7) || '"' ELSE '' END
    || ',"workload":"'
    || CASE WHEN event_id % 3 <> 0 THEN 'app' || (event_id % 4)
         ELSE 'standalone' END
    || '"}' AS attributes,
  '{"app":"a' || (event_id % 4) || '"}' AS labels,
  '["Node:n-' || (event_id % 3) || ':node-' || (event_id % 3)
    || '","Deployment:d-ns' || (event_id % 2) || '-' || (event_id % 4)
    || ':dep' || (event_id % 4) || '"'
    || CASE WHEN event_id % 4 = 0
         THEN ',"Service:s-ns' || (event_id % 2) || ':svc"' ELSE '' END
    || ']' AS parents
FROM events"""


def q_k8smetav1_workloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kubernetesmetav1 workloads (kubernetes_collect_apps.go / _batch.go):
    deployment numeric attrs (nil-replicas → 1), the statefulset
    strconv.Itoa string quirk, cronjob suspend/active roll-up + job
    CronJob parents via active refs."""
    from .operators.k8smetav1 import K8sMetaV1Converter

    ev = _events_raw(spark, sf_dir)
    eid = F.col("event_id")
    s = lambda c: c.cast("string")  # noqa: E731
    conv = K8sMetaV1Converter()
    base = ev.select(
        "doc_id",
        F.concat(F.lit("w-"), s(eid)).alias("uid"),
        F.concat(F.lit("wl"), s(eid % 10)).alias("name"),
        F.concat(F.lit("ns"), s(eid % 2)).alias("namespace"),
        F.create_map(F.lit("t"), s(eid % 3)).alias("labels"),
        F.create_map().cast("map<string,string>").alias("selector"),
        (F.lit(1700000000) + eid % 100).alias("creation_ts"),
        s(eid % 5).alias("resource_version"),
        (eid % 7).alias("observed_generation"),
        F.when(eid % 5 != 0, eid % 9 + 1).alias("desired_replicas"),
        (eid % 9).alias("replicas"),
        (eid % 4).alias("updated_replicas"),
        (eid % 3).alias("available_replicas"),
        (eid % 2).alias("unavailable_replicas"),
        F.lit("RollingUpdate").alias("strategy"),
        (eid % 2).alias("misscheduled_replicas"),
    )
    dep = conv.workload_nodes(base.where(eid % 3 == 0), "Deployment", keep=["doc_id"])
    sts = conv.workload_nodes(base.where(eid % 3 == 1), "StatefulSet", keep=["doc_id"])
    crons = ev.where(eid % 3 == 2).select(
        "doc_id",
        F.concat(F.lit("cj-"), s(eid)).alias("uid"),
        F.concat(F.lit("cron"), s(eid % 10)).alias("name"),
        F.concat(F.lit("ns"), s(eid % 2)).alias("namespace"),
        F.create_map().cast("map<string,string>").alias("labels"),
        F.lit("*/5 * * * *").alias("schedule"),
        F.when(eid % 4 == 2, F.lit(True)).alias("suspend"),
        F.when(eid % 2 == 0, F.array(F.concat(F.lit("j-"), s(eid)))).alias("active_refs"),
        F.when(eid % 6 == 2, F.lit(1700000500) + eid % 50).alias("last_schedule_time"),
        (F.lit(1700000000) + eid % 100).alias("creation_ts"),
        s(eid % 5).alias("resource_version"),
    )
    cj = conv.workload_nodes(crons, "CronJob", keep=["doc_id"])
    out = dep.unionByName(sts).unionByName(cj)
    return out.select("doc_id", "id", "type", "attributes", "labels", "parents")


def oracle_k8smetav1_workloads() -> str:
    common = (
        "',\"name\":\"wl' || (event_id % 10) || '\",\"namespace\":\"ns'"
        " || (event_id % 2) || '\"'"
    )
    return f"""WITH base AS (
  SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
         event_id AS e FROM events
)
SELECT doc_id, 'w-' || e AS id, 'Deployment' AS type,
  '{{"available_replicas":' || (e % 3) || ',"creation_time":'
  || (1700000000 + e % 100) || ',"desired_replicas":'
  || CASE WHEN e % 5 <> 0 THEN e % 9 + 1 ELSE 1 END
  || ',"name":"wl' || (e % 10) || '","namespace":"ns' || (e % 2)
  || '","observed_generation":' || (e % 7) || ',"replicas":' || (e % 9)
  || ',"resource_version":"' || (e % 5) || '","strategy":"RollingUpdate"'
  || ',"unavailable_replicas":' || (e % 2) || ',"updated_replicas":' || (e % 4)
  || '}}' AS attributes,
  '{{"t":"' || (e % 3) || '"}}' AS labels, '[]' AS parents
FROM base WHERE e % 3 = 0
UNION ALL
SELECT doc_id, 'w-' || e, 'StatefulSet',
  '{{"creation_time":' || (1700000000 + e % 100) || ',"desired_replicas":"'
  || CASE WHEN e % 5 <> 0 THEN e % 9 + 1 ELSE 1 END
  || '","name":"wl' || (e % 10) || '","namespace":"ns' || (e % 2)
  || '","observed_generation":' || (e % 7) || ',"replicas":"' || (e % 9)
  || '","resource_version":"' || (e % 5) || '","updated_replicas":"'
  || (e % 4) || '"}}',
  '{{"t":"' || (e % 3) || '"}}', '[]'
FROM base WHERE e % 3 = 1
UNION ALL
SELECT doc_id, 'cj-' || e, 'CronJob',
  '{{"active_jobs":' || CASE WHEN e % 2 = 0 THEN 1 ELSE 0 END
  || ',"creation_time":' || (1700000000 + e % 100)
  || CASE WHEN e % 6 = 2
       THEN ',"last_schedule_time":' || (1700000500 + e % 50) ELSE '' END
  || ',"name":"cron' || (e % 10) || '","namespace":"ns' || (e % 2)
  || '","resource_version":"' || (e % 5)
  || '","schedule":"*/5 * * * *","suspend":'
  || CASE WHEN e % 4 = 2 THEN 'true' ELSE 'false' END || '}}',
  '{{}}', '[]'
FROM base WHERE e % 3 = 2"""


def q_systemv2_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """metric_system_v2 (plugins/input/systemv2/input_system_v2.go:111-373):
    per-host snapshot rounds → delta-derived metric logs (cpu busy/total
    rates, disk/net per-device rates with the synthetic totals, tcp retran
    util) + non-delta gauges; one host-keyed lag window."""
    from .operators.systemv2 import SystemV2Metrics

    ev = _events_raw(spark, sf_dir)
    eid = F.col("event_id")
    e = eid.cast("double")
    host = (F.col("user_id") % 5).cast("string")
    snap = ev.select(
        F.concat(F.lit("h"), host).alias("hostname"),
        F.concat(F.lit("10.0.0."), host).alias("ip"),
        (F.lit(1_700_000_000_000) + eid * 1000).alias("ts_ms"),
        F.struct(
            ((eid % 7).cast("double") + 0.25).alias("load1"),
            F.lit(1.0).alias("load5"), F.lit(2.0).alias("load15"),
        ).alias("load"),
        F.lit(1_690_000_000).alias("boot_time"),
        F.lit(4).cast("int").alias("ncpus"),
        F.lit(None).cast("int").alias("cpu_share_request"),
        F.struct(
            (e * 3).alias("user"), e.alias("system"), (e * 4).alias("idle"),
            F.lit(0.0).alias("nice"), F.lit(0.0).alias("iowait"),
            F.lit(0.0).alias("irq"), F.lit(0.0).alias("softirq"),
            F.lit(0.0).alias("steal"), F.lit(0.0).alias("guest"),
            F.lit(0.0).alias("guest_nice"),
        ).alias("cpu"),
        F.struct(
            ((eid % 90).cast("double") + 0.5).alias("used_percent"),
            F.lit(1.0).alias("cached"), F.lit(2.0).alias("free"),
            F.lit(3.0).alias("available"), F.lit(4.0).alias("used"),
            F.lit(5.0).alias("total"),
        ).alias("mem"),
        F.lit(None).cast("double").alias("swap_used_percent"),
        F.expr(
            "array()"
        ).cast(
            "array<struct<device:string,path:string,fs_type:string,"
            "used_percent:double,inodes_used_percent:double,used:long,total:long,"
            "inodes_total:long,inodes_used:long>>"
        ).alias("mounts"),
        F.array(
            F.struct(
                F.lit("sda").alias("name"),
                (eid * 1000).alias("read_bytes"), (eid * 500).alias("write_bytes"),
                (eid * 10).alias("read_count"), (eid * 5).alias("write_count"),
                (eid * 20).alias("read_time"), (eid * 10).alias("write_time"),
                (eid * 10).alias("io_time"),
            )
        ).alias("disks"),
        F.array(
            F.struct(
                F.lit("eth0").alias("name"),
                (eid * 2000).alias("bytes_recv"), (eid * 1000).alias("bytes_sent"),
                (eid * 100).alias("packets_recv"), (eid * 50).alias("packets_sent"),
                (eid * 3).alias("errin"), F.lit(0).cast("long").alias("errout"),
                (eid * 3).alias("dropin"), F.lit(0).cast("long").alias("dropout"),
            )
        ).alias("nets"),
        F.struct(
            (eid * 400).alias("in_segs"), (eid * 200).alias("out_segs"),
            (eid * 10).alias("retrans_segs"),
        ).alias("tcp"),
    )
    out = SystemV2Metrics().apply(snap)
    keep = ["system_load1", "mem_util", "cpu_util", "cpu_user_util",
            "disk_rbps", "disk_util", "net_in", "net_drop_util",
            "protocol_tcp_retran_util"]
    name = fget("__name__")
    return out.where(name.isin(keep)).select(
        "hostname", "ts_ms",
        name.alias("name"),
        fget("__labels__").alias("labels"),
        fget("__value__").alias("value"),
        fget("__time_nano__").alias("time_nano"),
    )


def oracle_systemv2_metrics() -> str:
    return """WITH s AS (
  SELECT event_id AS e, cast(user_id % 5 AS varchar) AS h,
    lag(event_id) OVER (PARTITION BY user_id % 5 ORDER BY event_id) AS pe
  FROM events
), b AS (
  SELECT e, pe, 'h' || h AS hostname, 1700000000000 + e * 1000 AS ts_ms,
    'hostname#$#h' || h || '|ip#$#10.0.0.' || h AS base,
    cast(1700000000000000000 + e * 1000000000 AS varchar) AS tn
  FROM s
)
SELECT hostname, ts_ms, 'system_load1' AS name, base AS labels,
  (e % 7) || '.25' AS value, tn AS time_nano FROM b
UNION ALL
SELECT hostname, ts_ms, 'mem_util', base,
  CASE WHEN e % 90 = 0 THEN '0.5' ELSE (e % 90) || '.5' END, tn FROM b
UNION ALL
SELECT hostname, ts_ms, 'cpu_util', base, '50', tn FROM b WHERE pe IS NOT NULL
UNION ALL
SELECT hostname, ts_ms, 'cpu_user_util', base, '37.5', tn FROM b WHERE pe IS NOT NULL
UNION ALL
SELECT hostname, ts_ms, 'disk_rbps', 'disk#$#total|' || base, '1000', tn
FROM b WHERE pe IS NOT NULL
UNION ALL
SELECT hostname, ts_ms, 'disk_rbps', 'disk#$#sda|' || base, '1000', tn
FROM b WHERE pe IS NOT NULL
UNION ALL
SELECT hostname, ts_ms, 'disk_util', 'disk#$#sda|' || base, '1', tn
FROM b WHERE pe IS NOT NULL
UNION ALL
SELECT hostname, ts_ms, 'net_in',
  'hostname#$#h' || substr(hostname, 2) || '|interface#$#eth0|ip#$#10.0.0.'
  || substr(hostname, 2), '2000', tn FROM b WHERE pe IS NOT NULL
UNION ALL
SELECT hostname, ts_ms, 'net_in',
  'hostname#$#h' || substr(hostname, 2) || '|interface#$#total|ip#$#10.0.0.'
  || substr(hostname, 2), '2000', tn FROM b WHERE pe IS NOT NULL
UNION ALL
SELECT hostname, ts_ms, 'net_drop_util',
  'hostname#$#h' || substr(hostname, 2) || '|interface#$#eth0|ip#$#10.0.0.'
  || substr(hostname, 2), '2', tn FROM b WHERE pe IS NOT NULL
UNION ALL
SELECT hostname, ts_ms, 'net_drop_util',
  'hostname#$#h' || substr(hostname, 2) || '|interface#$#total|ip#$#10.0.0.'
  || substr(hostname, 2), '2', tn FROM b WHERE pe IS NOT NULL
UNION ALL
SELECT hostname, ts_ms, 'protocol_tcp_retran_util', base, '5', tn
FROM b WHERE pe IS NOT NULL"""


def q_command_output(spark: SparkSession, sf_dir: str) -> DataFrame:
    """input_command stdout conversion (input_command.go:207-231): literal
    LineSplitSep split, content + script_md5 fields."""
    from .operators.split import command_output_logs

    ev = _events_raw(spark, sf_dir)
    eid = F.col("event_id")
    stdout = F.concat(
        F.lit("metric.a="), (eid % 50).cast("string"), F.lit("||metric.b="),
        (eid % 7).cast("string"),
        F.when(eid % 3 == 0, F.lit("||tail")).otherwise(F.lit("")),
    )
    df = ev.select("doc_id", stdout.alias("stdout"))
    out = command_output_logs(df, "echo metrics", line_split_sep="||")
    return out.select("doc_id", fget("content").alias("content"),
                      fget("script_md5").alias("script_md5"))


def oracle_command_output() -> str:
    import hashlib

    md5 = hashlib.md5(b"echo metrics").hexdigest()
    return f"""WITH base AS (
  SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
         event_id AS e FROM events
)
SELECT doc_id, 'metric.a=' || (e % 50) AS content, '{md5}' AS script_md5 FROM base
UNION ALL
SELECT doc_id, 'metric.b=' || (e % 7), '{md5}' FROM base
UNION ALL
SELECT doc_id, 'tail', '{md5}' FROM base WHERE e % 3 = 0"""


def q_netping_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """metric_netping (plugins/input/netping/netping.go:263-346): probe
    result fan-out — counts, success-gated rtt stats, httping rt/bytes +
    cert-ttl under the cert label set, dns resolve outcomes, invalid
    results dropped."""
    from .operators.netping import NetPingMetrics

    ev = _events_raw(spark, sf_dir)
    eid = F.col("event_id")
    s = lambda c: c.cast("string")  # noqa: E731
    m4 = eid % 4
    typ = (
        F.when(m4 == 0, F.lit("ping")).when(m4 == 1, F.lit("tcping"))
        .when(m4 == 2, F.lit("httping")).otherwise(F.lit("dns"))
    )
    ent = lambda k, v: F.struct(F.lit(k).alias("k"), v.alias("v"))  # noqa: E731
    label = F.array(
        ent("name", F.concat(F.lit("probe"), s(eid % 5))),
        ent("src", F.lit("10.0.0.1")),
        ent("dst", F.concat(F.lit("10.1."), s(eid % 9), F.lit(".1"))),
    )
    res = ev.select(
        (F.lit(1_700_000_000_000) + eid * 1000).alias("ts_ms"),
        (eid % 7 != 0).alias("valid"),
        typ.alias("type"),
        label.alias("label"),
        F.lit(10).cast("int").alias("total"),
        (eid % 11).cast("int").alias("success"),
        (10 - eid % 11).cast("int").alias("failed"),
        ((eid % 5).cast("double") + 0.5).alias("min_rtt_ms"),
        ((eid % 5).cast("double") + 9.5).alias("max_rtt_ms"),
        ((eid % 5).cast("double") + 4.25).alias("avg_rtt_ms"),
        F.lit(100.5).alias("total_rtt_ms"),
        F.lit(1.25).alias("stddev_rtt_ms"),
        (eid % 300).cast("int").alias("http_rt_ms"),
        (eid % 5000).cast("int").alias("http_response_size"),
        (eid % 2 == 0).alias("has_https_cert"),
        F.array(
            ent("url", F.concat(F.lit("https://t"), s(eid % 3))),
            ent("issuer_commmon_name", F.lit("CA")),
        ).alias("cert_label"),
        (eid % 90).cast("int").alias("cert_ttl_day"),
        (eid % 2 == 0).alias("dns_success"),
        ((eid % 30).cast("double") + 0.5).alias("dns_rt_ms"),
    )
    out = NetPingMetrics().apply(res)
    return out.select(
        "ts_ms",
        fget("__name__").alias("name"),
        fget("__labels__").alias("labels"),
        fget("__value__").alias("value"),
    )


def oracle_netping_metrics() -> str:
    return """WITH b AS (
  SELECT event_id AS e, 1700000000000 + event_id * 1000 AS ts_ms,
    CASE event_id % 4 WHEN 0 THEN 'ping' WHEN 1 THEN 'tcping' ELSE 'httping' END AS t,
    'dst#$#10.1.' || (event_id % 9) || '.1|name#$#probe' || (event_id % 5)
      || '|src#$#10.0.0.1' AS lbl
  FROM events
), probes AS (SELECT * FROM b WHERE e % 4 IN (0, 1, 2) AND e % 7 <> 0)
SELECT ts_ms, t || '_total' AS name, lbl AS labels, '10' AS value FROM probes
UNION ALL
SELECT ts_ms, t || '_success', lbl, cast(e % 11 AS varchar) FROM probes
UNION ALL
SELECT ts_ms, t || '_failed', lbl, cast(10 - e % 11 AS varchar) FROM probes
UNION ALL
SELECT ts_ms, t || '_rtt_min_ms', lbl, (e % 5) || '.5'
FROM probes WHERE e % 4 IN (0, 1) AND e % 11 > 0
UNION ALL
SELECT ts_ms, t || '_rtt_max_ms', lbl, (e % 5 + 9) || '.5'
FROM probes WHERE e % 4 IN (0, 1) AND e % 11 > 0
UNION ALL
SELECT ts_ms, t || '_rtt_avg_ms', lbl, (e % 5 + 4) || '.25'
FROM probes WHERE e % 4 IN (0, 1) AND e % 11 > 0
UNION ALL
SELECT ts_ms, t || '_rtt_total_ms', lbl, '100.5'
FROM probes WHERE e % 4 IN (0, 1) AND e % 11 > 0
UNION ALL
SELECT ts_ms, t || '_rtt_stddev_ms', lbl, '1.25'
FROM probes WHERE e % 4 IN (0, 1) AND e % 11 > 0
UNION ALL
SELECT ts_ms, 'httping_rt_ms', lbl, cast(e % 300 AS varchar)
FROM probes WHERE e % 4 = 2 AND e % 11 > 0
UNION ALL
SELECT ts_ms, 'httping_response_bytes', lbl, cast(e % 5000 AS varchar)
FROM probes WHERE e % 4 = 2 AND e % 11 > 0
UNION ALL
SELECT ts_ms, 'httping_cert_ttl_days',
  'issuer_commmon_name#$#CA|url#$#https://t' || (e % 3), cast(e % 90 AS varchar)
FROM probes WHERE e % 4 = 2 AND e % 2 = 0
UNION ALL
SELECT ts_ms, 'dns_resolve_rt_ms', lbl, (e % 30) || '.5'
FROM b WHERE e % 4 = 3 AND e % 2 = 0
UNION ALL
SELECT ts_ms, 'dns_resolve_success', lbl,
  CASE WHEN e % 2 = 0 THEN '1' ELSE '0' END FROM b WHERE e % 4 = 3
UNION ALL
SELECT ts_ms, 'dns_resolve_failed', lbl,
  CASE WHEN e % 2 = 0 THEN '0' ELSE '1' END FROM b WHERE e % 4 = 3"""


def q_process_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """metric_process_v2 (plugins/input/process/input_process.go:86-273):
    second-observation gating, jiffy-delta cpu rates (100·Δ/userHZ/Δt),
    cpu-or-rss threshold selection, NewMetricLog emission."""
    from .operators.process_input import ProcessMetrics

    ev = _events_raw(spark, sf_dir)
    eid = F.col("event_id")
    s = lambda c: c.cast("string")  # noqa: E731
    host = (F.col("user_id") % 3).cast("string")
    base = ev.select(
        F.concat(F.lit("h"), host).alias("hostname"),
        F.concat(F.lit("10.0."), host, F.lit(".1")).alias("ip"),
        eid.cast("int").alias("pid"),
        F.concat(F.lit("p"), s(eid % 6)).alias("comm"),
        F.lit("/bin/p").alias("exe"),
        F.lit("p --serve").alias("cmdline"),
        ((eid % 100) * 1024).alias("rss"),
        F.lit(1).cast("long").alias("swap"),
        F.lit(2).cast("long").alias("vsz"),
        F.lit(3).cast("long").alias("data"),
        F.lit(0).cast("long").alias("threads"),
        F.lit(0).cast("long").alias("fds"),
        F.lit(None).cast(
            "struct<in_bytes:long,in_packet:long,out_bytes:long,out_packet:long>"
        ).alias("net"),
        F.lit(None).cast(
            "struct<read_count:long,read_bytes:long,write_count:long,write_bytes:long>"
        ).alias("io"),
        eid,
    )
    snap = base.select(
        "*",
        F.explode(
            F.array(
                F.struct(
                    F.lit(1_700_000_000_000).alias("ts_ms"),
                    F.lit(100).cast("long").alias("utime"),
                    F.lit(50).cast("long").alias("stime"),
                ),
                F.struct(
                    (F.lit(1_700_000_002_000)).alias("ts_ms"),
                    (F.lit(100) + (eid % 40) * 2).alias("utime"),
                    (F.lit(50) + (eid % 10) * 2).alias("stime"),
                ),
            )
        ).alias("__s__"),
    ).select(
        "hostname", "ip", F.col("__s__.ts_ms").alias("ts_ms"), "pid", "comm",
        "exe", "cmdline", F.col("__s__.utime").alias("utime"),
        F.col("__s__.stime").alias("stime"), "rss", "swap", "vsz", "data",
        "threads", "fds", "net", "io",
    )
    out = ProcessMetrics(
        min_cpu_limit_percent=20.0, min_memory_limit_kb=50,
        max_process_count=1_000_000,
    ).apply(snap)
    return out.select(
        "hostname", "ts_ms", "pid",
        fget("__name__").alias("name"),
        fget("__labels__").alias("labels"),
        fget("__value__").alias("value"),
    )


def oracle_process_metrics() -> str:
    return """WITH k AS (
  SELECT event_id AS e, cast(user_id % 3 AS varchar) AS h,
    (e % 40) + (e % 10) AS cpu
  FROM (SELECT event_id, user_id, event_id AS e FROM events)
  WHERE (event_id % 40) + (event_id % 10) >= 20 OR (event_id % 100) >= 50
), b AS (
  SELECT e, 'h' || h AS hostname, cast(1700000002000 AS bigint) AS ts_ms,
    cast(e AS int) AS pid, cpu,
    'comm#$#p' || (e % 6) || '|hostname#$#h' || h || '|ip#$#10.0.' || h
      || '.1|pid#$#' || e AS lbl
  FROM k
)
SELECT hostname, ts_ms, pid, 'process_cpu_percent' AS name, lbl AS labels,
  cast(cpu AS varchar) AS value FROM b
UNION ALL
SELECT hostname, ts_ms, pid, 'process_cpu_stime_percent', lbl,
  cast(e % 10 AS varchar) FROM b
UNION ALL
SELECT hostname, ts_ms, pid, 'process_cpu_utime_percent', lbl,
  cast(e % 40 AS varchar) FROM b
UNION ALL
SELECT hostname, ts_ms, pid, 'process_mem_rss', lbl,
  cast((e % 100) * 1024 AS varchar) FROM b
UNION ALL
SELECT hostname, ts_ms, pid, 'process_mem_swap', lbl, '1' FROM b
UNION ALL
SELECT hostname, ts_ms, pid, 'process_mem_vsz', lbl, '2' FROM b
UNION ALL
SELECT hostname, ts_ms, pid, 'process_mem_data', lbl, '3' FROM b"""


def q_snmp_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """service_snmp PDU variable emission (input_snmp.go:536-563 +
    Asn1BER2String :275-323): OctetString bytes-as-text vs big-int decimal
    values, the 7 fixed fields, the "Boolean " type-name quirk."""
    from .operators.snmp import SnmpVariableLogs

    ev = _events_raw(spark, sf_dir)
    eid = F.col("event_id")
    s = lambda c: c.cast("string")  # noqa: E731
    codes = F.array(*[F.lit(c) for c in (0x02, 0x04, 0x41, 0x42, 0x46, 0x01, 0x05)])
    df = ev.select(
        "doc_id",
        (eid % 3).cast("int").alias("target_index"),
        F.concat(F.lit("10.9."), s(eid % 3), F.lit(".1")).alias("target"),
        F.concat(F.lit("ifInOctets"), s(eid % 4)).alias("field"),
        F.concat(F.lit(".1.3.6.1.2.1.2.2.1.10."), s(eid % 8)).alias("oid"),
        F.lit("int").alias("conversion"),
        F.element_at(codes, (eid % 7 + 1).cast("int")).alias("type_code"),
        F.encode(F.concat(F.lit("txt-"), s(eid % 5)), "UTF-8").alias("value_bytes"),
        (eid * 3 + 1).alias("value_num"),
    )
    out = SnmpVariableLogs().apply(df)
    keys = ["_targetindex_", "_target_", "_field_", "_oid_", "_conversion_",
            "_type_", "_content_"]
    return out.select("doc_id", *[fget(k).alias(k.strip("_")) for k in keys])


def oracle_snmp_variables() -> str:
    return """SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
  cast(event_id % 3 AS varchar) AS targetindex,
  '10.9.' || (event_id % 3) || '.1' AS target,
  'ifInOctets' || (event_id % 4) AS field,
  '.1.3.6.1.2.1.2.2.1.10.' || (event_id % 8) AS oid,
  'int' AS conversion,
  CASE event_id % 7 WHEN 0 THEN 'Integer' WHEN 1 THEN 'OctetString'
    WHEN 2 THEN 'Counter32' WHEN 3 THEN 'Gauge32' WHEN 4 THEN 'Counter64'
    WHEN 5 THEN 'Boolean ' ELSE 'Null' END AS type,
  CASE WHEN event_id % 7 = 1 THEN 'txt-' || (event_id % 5)
       ELSE cast(event_id * 3 + 1 AS varchar) END AS content
FROM events"""


def _k8s_cfg():
    from .operators.k8smeta import K8sMetaConfig

    return K8sMetaConfig(
        cluster_id="c-k8s", interval=30, enable_labels=True, container=True,
        relations={"Node2Pod": "runs", "Pod2Container": "contains",
                   "Service2Pod": "routes_to", "Deployment2Pod": ""},
        cluster_relations={"node": "contains_node"},
    )


def q_k8s_pod_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """service_kubernetes_meta pod path (plugins/input/kubernetesmetav2/
    meta_collector_core.go:14-117): Pod manifests → pod entity logs +
    per-container child entities."""
    from .operators.k8smeta import K8sEntityConverter

    ev = _events_raw(spark, sf_dir)
    k = F.col("event_id")
    u = F.col("user_id")
    ks, us = k.cast("string"), u.cast("string")
    even = k % 2 == 0
    main = F.concat(
        F.lit('{"name":"main","image":"img:'), (k % 9).cast("string"),
        F.lit('","resources":{"requests":{"cpu":"'),
        F.when(even, F.lit("250m")).otherwise(F.lit("500m")),
        F.lit('"}'),
        F.when(even, F.lit(
            ',"limits":{"cpu":"1","memory":"128Mi"}},'
            '"ports":[{"containerPort":80},{"containerPort":9090}],'
            '"volumeMounts":[{"name":"cfg","mountPath":"/etc/cfg"}]}'
        )).otherwise(F.lit("}}")),
    )
    containers = F.concat(
        F.lit("["), main,
        F.when(even, F.lit(',{"name":"sidecar","image":"envoy:2"}')).otherwise(F.lit("")),
        F.lit("]"),
    )
    payload = F.concat(
        F.lit('{"apiVersion":"v1","kind":"Pod","metadata":'
              '{"creationTimestamp":"2024-03-01T10:00:00Z",'
              '"labels":{"tier":"t'), (k % 2).cast("string"),
        F.lit('","app":"ap-'), (u % 5).cast("string"),
        F.lit('"}},"spec":{"containers":'), containers,
        F.lit('},"status":{"phase":"'),
        F.when(k % 4 == 0, F.lit("Pending")).otherwise(F.lit("Running")),
        F.lit('","podIP":"10.0.0.'), (k % 250).cast("string"), F.lit('"}}'),
    )
    obs = ev.select(
        "doc_id",
        F.lit("Pod").alias("kind"),
        F.concat(F.lit("ns-"), (u % 3).cast("string")).alias("namespace"),
        F.concat(F.lit("pod-"), ks).alias("name"),
        F.lit("Update").alias("method"),
        k.alias("first_observed_time"),
        (k + 60).alias("last_observed_time"),
        payload.alias("payload"),
    )
    conv = K8sEntityConverter(_k8s_cfg())
    keys = ["__entity_type__", "__entity_id__", "name", "status", "labels",
            "containers", "instance_ip", "image", "cpu_request", "memory_request",
            "cpu_limit", "memory_limit", "container_ports", "volumes",
            "__keep_alive_seconds__"]
    aliases = ["entity_type", "entity_id", "name", "status", "labels",
               "containers", "instance_ip", "image", "cpu_request", "memory_request",
               "cpu_limit", "memory_limit", "container_ports", "volumes",
               "keep_alive"]

    def proj(df: DataFrame) -> DataFrame:
        return df.select(
            "doc_id", *[fget(kk).alias(a) for kk, a in zip(keys, aliases)]
        )

    return proj(conv.apply(obs)).unionByName(proj(conv.container_entities(obs)))


def oracle_k8s_pod_entities() -> str:
    return """WITH base AS (
  SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
         event_id AS k, user_id AS u,
         'ns-' || (user_id % 3) AS ns, 'pod-' || event_id AS pname,
         'img:' || (event_id % 9) AS img
  FROM events
), pod AS (
  SELECT doc_id, 'k8s.pod' AS entity_type,
    md5('c-k8s' || 'Pod' || ns || pname) AS entity_id, pname AS name,
    CASE WHEN k % 4 = 0 THEN 'Pending' ELSE 'Running' END AS status,
    '{"app":"ap-' || (u % 5) || '","tier":"t' || (k % 2) || '"}' AS labels,
    CASE WHEN k % 2 = 0
      THEN '[{"image":"' || img || '","name":"main"},{"image":"envoy:2","name":"sidecar"}]'
      ELSE '[{"image":"' || img || '","name":"main"}]' END AS containers,
    '10.0.0.' || (k % 250) AS instance_ip,
    NULL AS image, NULL AS cpu_request, NULL AS memory_request,
    NULL AS cpu_limit, NULL AS memory_limit, NULL AS container_ports,
    NULL AS volumes, '60' AS keep_alive
  FROM base
), main AS (
  SELECT doc_id, 'k8s.container' AS entity_type,
    md5('c-k8s' || 'container' || ns || pname || 'main') AS entity_id,
    'main' AS name, NULL AS status, NULL AS labels, NULL AS containers,
    NULL AS instance_ip, img AS image,
    CASE WHEN k % 2 = 0 THEN '250m' ELSE '500m' END AS cpu_request,
    '0' AS memory_request,
    CASE WHEN k % 2 = 0 THEN '1' ELSE '' END AS cpu_limit,
    CASE WHEN k % 2 = 0 THEN '128Mi' ELSE '' END AS memory_limit,
    CASE WHEN k % 2 = 0 THEN '[80,9090]' ELSE '[]' END AS container_ports,
    CASE WHEN k % 2 = 0
      THEN '[{"volumeMountName":"cfg","volumeMountPath":"/etc/cfg"}]'
      ELSE '[]' END AS volumes,
    '60' AS keep_alive
  FROM base
), side AS (
  SELECT doc_id, 'k8s.container' AS entity_type,
    md5('c-k8s' || 'container' || ns || pname || 'sidecar') AS entity_id,
    'sidecar' AS name, NULL AS status, NULL AS labels, NULL AS containers,
    NULL AS instance_ip, 'envoy:2' AS image, '' AS cpu_request,
    '' AS memory_request, '' AS cpu_limit, '' AS memory_limit,
    '[]' AS container_ports, '[]' AS volumes, '60' AS keep_alive
  FROM base WHERE k % 2 = 0
)
SELECT * FROM pod UNION ALL SELECT * FROM main UNION ALL SELECT * FROM side"""


def q_k8s_workload_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """service_kubernetes_meta per-kind switches (meta_collector_core.go
    Node/Service/PVC, _app.go Deployment, _batch.go Job/CronJob): six kinds
    round-robined over events, one CASE-on-kind projection pass."""
    from .operators.k8smeta import K8sEntityConverter

    ev = _events_raw(spark, sf_dir)
    k, u = F.col("event_id"), F.col("user_id")
    m6 = k % 6
    ks = k.cast("string")
    kind = (
        F.when(m6 == 0, F.lit("Node"))
        .when(m6 == 1, F.lit("Service"))
        .when(m6 == 2, F.lit("Deployment"))
        .when(m6 == 3, F.lit("Job"))
        .when(m6 == 4, F.lit("CronJob"))
        .otherwise(F.lit("PersistentVolumeClaim"))
    )
    name = F.concat(F.lower(kind), F.lit("-"), ks)
    ns = F.when(m6 == 0, F.lit("")).otherwise(
        F.concat(F.lit("ns-"), (u % 3).cast("string"))
    )
    meta = F.lit('"metadata":{"creationTimestamp":"2024-05-01T00:00:00Z"}')
    node_p = F.concat(
        F.lit('{"apiVersion":"v1","kind":"Node",'), meta,
        F.lit(',"spec":{"providerID":"p-'), (u % 4).cast("string"),
        F.lit('"},"status":{"conditions":[{"type":"Ready","status":"True"}],'
              '"addresses":[{"type":"InternalIP","address":"192.168.0.'),
        (k % 250).cast("string"),
        F.lit('"}],"capacity":{"pods":"110","cpu":"8"}}}'),
    )
    svc_p = F.concat(
        F.lit('{"apiVersion":"v1","kind":"Service",'), meta,
        F.lit(',"spec":{"selector":{"app":"s'), (u % 5).cast("string"),
        F.lit('"},"type":"'),
        F.when(k % 2 == 0, F.lit("NodePort")).otherwise(F.lit("ClusterIP")),
        F.lit('","clusterIP":"10.96.0.'), (k % 250).cast("string"),
        F.lit('","ports":[{"port":80,"targetPort":8080,"protocol":"TCP"}'),
        F.when(k % 2 == 0,
               F.lit(',{"port":9100,"targetPort":"metrics","protocol":"TCP"}')
               ).otherwise(F.lit("")),
        F.lit("]}}"),
    )
    dep_p = F.concat(
        F.lit('{"apiVersion":"apps/v1","kind":"Deployment",'), meta,
        F.lit(',"spec":{"selector":{"matchLabels":{"app":"d'), (u % 5).cast("string"),
        F.lit('"}},"replicas":'), (k % 7).cast("string"),
        F.lit(',"template":{"spec":{"containers":[{"name":"web","image":"web:'),
        (k % 5).cast("string"), F.lit('"}]}}},"status":{'),
        F.when(k % 3 != 0, F.concat(F.lit('"readyReplicas":'), (k % 7).cast("string"))
               ).otherwise(F.lit("")),
        F.lit("}}"),
    )
    job_p = F.concat(
        F.lit('{"apiVersion":"batch/v1","kind":"Job",'), meta,
        F.lit(',"spec":{"suspend":'),
        F.when(k % 2 == 0, F.lit("true")).otherwise(F.lit("false")),
        F.lit(',"backoffLimit":6'),
        F.when(k % 2 == 0, F.lit(',"completions":1')).otherwise(F.lit("")),
        F.lit(',"template":{"spec":{"containers":[{"name":"j","image":"j:1"}]}}},'
              '"status":{"active":'), (k % 2).cast("string"),
        F.lit(',"succeeded":'), (k % 3).cast("string"),
        F.lit(',"failed":'), (k % 5).cast("string"), F.lit("}}"),
    )
    cron_p = F.concat(
        F.lit('{"apiVersion":"batch/v1","kind":"CronJob",'), meta,
        F.lit(',"spec":{"schedule":"*/'), (k % 10 + 1).cast("string"),
        F.lit(' * * * *","suspend":'),
        F.when(k % 3 == 0, F.lit("true")).otherwise(F.lit("false")), F.lit("}}"),
    )
    pvc_p = F.concat(
        F.lit('{"apiVersion":"v1","kind":"PersistentVolumeClaim",'), meta,
        F.lit(',"spec":{"storageClassName":"fast","volumeName":"pv-'), ks,
        F.lit('","resources":{"requests":{"storage":"'), (k % 9 + 1).cast("string"),
        F.lit('Gi"}}},"status":{"phase":"Bound"}}'),
    )
    payload = (
        F.when(m6 == 0, node_p).when(m6 == 1, svc_p).when(m6 == 2, dep_p)
        .when(m6 == 3, job_p).when(m6 == 4, cron_p).otherwise(pvc_p)
    )
    obs = ev.select(
        "doc_id", kind.alias("kind"), ns.alias("namespace"), name.alias("name"),
        F.lit("Update").alias("method"), k.alias("first_observed_time"),
        (k + 60).alias("last_observed_time"), payload.alias("payload"),
    )
    out = K8sEntityConverter(_k8s_cfg()).apply(obs)
    keys = {
        "entity_type": "__entity_type__", "entity_id": "__entity_id__",
        "name": "name", "create_time": "create_time", "status": "status",
        "capacity": "capacity", "addresses": "addresses", "internal_ip": "internal_ip",
        "ports": "ports", "cluster_ip": "cluster_ip", "match_labels": "match_labels",
        "replicas": "replicas", "ready_replicas": "ready_replicas",
        "schedule": "schedule", "suspend": "suspend",
        "storeage_requests": "storeage_requests", "volume_name": "volume_name",
    }
    return out.select("doc_id", *[fget(v).alias(a) for a, v in keys.items()])


def oracle_k8s_workload_entities() -> str:
    return """WITH base AS (
  SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
         event_id AS k, user_id AS u, event_id % 6 AS m
  FROM events
), named AS (
  SELECT *,
    CASE m WHEN 0 THEN 'Node' WHEN 1 THEN 'Service' WHEN 2 THEN 'Deployment'
           WHEN 3 THEN 'Job' WHEN 4 THEN 'CronJob'
           ELSE 'PersistentVolumeClaim' END AS kind,
    CASE WHEN m = 0 THEN '' ELSE 'ns-' || (u % 3) END AS ns
  FROM base
)
SELECT doc_id,
  'k8s.' || lower(kind) AS entity_type,
  md5('c-k8s' || kind || ns || lower(kind) || '-' || k) AS entity_id,
  lower(kind) || '-' || k AS name,
  '2024-05-01T00:00:00Z' AS create_time,
  CASE m WHEN 0 THEN '[{"status":"True","type":"Ready"}]'
         WHEN 3 THEN '{' ||
            CASE WHEN k % 2 <> 0 THEN '"active":' || (k % 2) ELSE '' END ||
            CASE WHEN k % 2 <> 0 AND k % 3 <> 0 THEN ',' ELSE '' END ||
            CASE WHEN k % 3 <> 0 THEN '"succeeded":' || (k % 3) ELSE '' END ||
            CASE WHEN (k % 2 <> 0 OR k % 3 <> 0) AND k % 5 <> 0 THEN ',' ELSE '' END ||
            CASE WHEN k % 5 <> 0 THEN '"failed":' || (k % 5) ELSE '' END || '}'
         WHEN 5 THEN 'Bound' END AS status,
  CASE m WHEN 0 THEN '{"cpu":"8","pods":"110"}' END AS capacity,
  CASE m WHEN 0 THEN '[{"type":"InternalIP","address":"192.168.0.' || (k % 250) || '"}]' END AS addresses,
  CASE m WHEN 0 THEN '192.168.0.' || (k % 250) END AS internal_ip,
  CASE m WHEN 1 THEN '[{"port":"80","protocol":"TCP","targetPort":"8080"}' ||
    CASE WHEN k % 2 = 0 THEN ',{"port":"9100","protocol":"TCP","targetPort":"metrics"}' ELSE '' END
    || ']' END AS ports,
  CASE m WHEN 1 THEN '10.96.0.' || (k % 250) END AS cluster_ip,
  CASE m WHEN 2 THEN '{"app":"d' || (u % 5) || '"}' END AS match_labels,
  CASE m WHEN 2 THEN cast(k % 7 AS varchar) END AS replicas,
  CASE m WHEN 2 THEN CASE WHEN k % 3 <> 0 THEN cast(k % 7 AS varchar) ELSE '0' END END AS ready_replicas,
  CASE m WHEN 4 THEN '*/' || (k % 10 + 1) || ' * * * *' END AS schedule,
  CASE m WHEN 3 THEN CASE WHEN k % 2 = 0 THEN 'true' ELSE 'false' END
         WHEN 4 THEN CASE WHEN k % 3 = 0 THEN 'true' ELSE 'false' END END AS suspend,
  CASE m WHEN 5 THEN (k % 9 + 1) || 'Gi' END AS storeage_requests,
  CASE m WHEN 5 THEN 'pv-' || k END AS volume_name
FROM named"""


def q_k8s_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """service_kubernetes_meta link path (meta_collector_core.go:317-400
    processXYLink family + meta_collector.go:205-222/430-448 cluster links):
    relation pairs → entity-link logs; unconfigured pair kinds drop; Node
    entities additionally fan out a cluster→node link."""
    from .operators.k8smeta import K8sEntityConverter, K8sLinkConverter

    ev = _events_raw(spark, sf_dir)
    k, u = F.col("event_id"), F.col("user_id")
    m4 = k % 4
    ks = k.cast("string")
    ns = F.concat(F.lit("ns-"), (u % 3).cast("string"))
    pod = F.concat(F.lit("pod-"), ks)
    link = (
        F.when(m4 == 0, F.lit("Node2Pod"))
        .when(m4 == 1, F.lit("Pod2Container"))
        .when(m4 == 2, F.lit("Service2Pod"))
        .otherwise(F.lit("Deployment2Pod"))  # relation "" → dropped
    )
    src_kind = (
        F.when(m4 == 0, F.lit("Node")).when(m4 == 1, F.lit("Pod"))
        .when(m4 == 2, F.lit("Service")).otherwise(F.lit("Deployment"))
    )
    src_ns = F.when(m4 == 0, F.lit("")).otherwise(ns)
    src_name = (
        F.when(m4 == 0, F.concat(F.lit("node-"), (u % 4).cast("string")))
        .when(m4 == 1, pod)
        .when(m4 == 2, F.concat(F.lit("svc-"), (u % 5).cast("string")))
        .otherwise(F.concat(F.lit("dep-"), (u % 5).cast("string")))
    )
    dest_kind = F.when(m4 == 1, F.lit("container")).otherwise(F.lit("Pod"))
    dest_name = F.when(m4 == 1, F.concat(pod, F.lit("main"))).otherwise(pod)
    pairs = ev.select(
        "doc_id", link.alias("link"), src_kind.alias("src_kind"),
        src_ns.alias("src_namespace"), src_name.alias("src_name"),
        dest_kind.alias("dest_kind"), ns.alias("dest_namespace"),
        dest_name.alias("dest_name"), F.lit("Update").alias("method"),
        k.alias("first_observed_time"), (k + 60).alias("last_observed_time"),
    )
    cfg = _k8s_cfg()
    links = K8sLinkConverter(cfg).apply(pairs)

    # node entities (every m4==0 row) fan out a direct cluster→node link
    node_payload = F.concat(
        F.lit('{"apiVersion":"v1","kind":"Node","metadata":'
              '{"creationTimestamp":"2024-05-01T00:00:00Z"},"status":{}}'),
    )
    conv = K8sEntityConverter(cfg)
    nodes = conv.apply(
        ev.where(k % 4 == 0).select(
            "doc_id", F.lit("Node").alias("kind"), F.lit("").alias("namespace"),
            F.concat(F.lit("node-"), (u % 4).cast("string")).alias("name"),
            F.lit("Update").alias("method"), k.alias("first_observed_time"),
            (k + 60).alias("last_observed_time"), node_payload.alias("payload"),
        )
    )
    keys = {
        "category": "__category__", "src_type": "__src_entity_type__",
        "src_id": "__src_entity_id__", "dest_type": "__dest_entity_type__",
        "dest_id": "__dest_entity_id__", "relation": "__relation_type__",
        "method": "__method__", "fot": "__first_observed_time__",
        "lot": "__last_observed_time__",
    }

    def proj(df: DataFrame) -> DataFrame:
        return df.select("doc_id", *[fget(v).alias(a) for a, v in keys.items()])

    return proj(links).unionByName(proj(conv.cluster_links(nodes)))


def oracle_k8s_links() -> str:
    return """WITH base AS (
  SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
         event_id AS k, user_id AS u, event_id % 4 AS m,
         'ns-' || (user_id % 3) AS ns, 'pod-' || event_id AS pod
  FROM events
), pairs AS (
  SELECT doc_id, 'entity_link' AS category,
    CASE m WHEN 0 THEN 'k8s.node' WHEN 1 THEN 'k8s.pod' ELSE 'k8s.service' END AS src_type,
    CASE m WHEN 0 THEN md5('c-k8s' || 'Node' || '' || 'node-' || (u % 4))
           WHEN 1 THEN md5('c-k8s' || 'Pod' || ns || pod)
           ELSE md5('c-k8s' || 'Service' || ns || 'svc-' || (u % 5)) END AS src_id,
    CASE m WHEN 1 THEN 'k8s.container' ELSE 'k8s.pod' END AS dest_type,
    CASE m WHEN 1 THEN md5('c-k8s' || 'container' || ns || pod || 'main')
           ELSE md5('c-k8s' || 'Pod' || ns || pod) END AS dest_id,
    CASE m WHEN 0 THEN 'runs' WHEN 1 THEN 'contains' ELSE 'routes_to' END AS relation,
    'Update' AS method, cast(k AS varchar) AS fot, cast(k + 60 AS varchar) AS lot
  FROM base WHERE m < 3
), cluster AS (
  SELECT doc_id, 'entity_link' AS category,
    'k8s.cluster' AS src_type, md5('c-k8s' || 'cluster' || '' || '') AS src_id,
    'k8s.node' AS dest_type,
    md5('c-k8s' || 'Node' || '' || 'node-' || (u % 4)) AS dest_id,
    'contains_node' AS relation, 'Update' AS method,
    cast(k AS varchar) AS fot, cast(k + 60 AS varchar) AS lot
  FROM base WHERE m = 0
)
SELECT * FROM pairs UNION ALL SELECT * FROM cluster"""


# --- SkyWalking v2 (plugins/input/skywalkingv2) -------------------------------


def _sw2_instances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry-cache table analog: instances registered for even user
    buckets only (odd-bucket segments exercise the cache-miss drop)."""
    ev = _events_raw(spark, sf_dir)
    utn = (F.col("user_id") % 5).cast("int")
    return (
        ev.select(utn.alias("__ut__"))
        .distinct()
        .where(F.col("__ut__") % 2 == 0)
        .select(
            F.col("__ut__").alias("instanceId"),
            F.concat(F.lit("app-"), F.col("__ut__").cast("string")).alias(
                "applicationName"
            ),
            F.concat(F.lit("uuid-"), F.col("__ut__").cast("string")).alias("uuid"),
            F.array(
                F.struct(
                    F.lit("host_name").alias("key"),
                    F.concat(F.lit("h-"), F.col("__ut__").cast("string")).alias(
                        "value"
                    ),
                ),
                F.struct(F.lit("language").alias("key"), F.lit("java").alias("value")),
                F.struct(F.lit("build_no").alias("key"), F.lit("drop").alias("value")),
            ).alias("properties"),
        )
    )


def q_skywalking_v2_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SkyWalking v2 trace-segment conversion
    (trace_segment_report_handle.go): UpstreamSegment protojson → OtSpan
    rows with jaeger/original id formats; registry cache as broadcast
    lookups (instance miss drops the segment, endpoint miss drops the
    span)."""
    from .operators.skywalking_v2 import SkywalkingV2SegmentParser

    ev = _events_raw(spark, sf_dir)
    eid, et = F.col("event_id"), F.col("event_type")
    ut = (F.col("user_id") % 5).cast("string")
    utn = (F.col("user_id") % 5).cast("int")
    st = F.lit(1663904182000) + eid
    en = st + (eid % 100 + 1)
    jaeger = eid % 2 == 0
    gid = F.when(
        jaeger, F.concat(F.lit("[648495579,"), eid.cast("string"), F.lit("]"))
    ).otherwise(F.concat(F.lit("["), eid.cast("string"), F.lit(",7]")))
    seg_part = (F.lit(1000000000000) + eid).cast("string")
    stype = F.element_at(
        F.array(F.lit("Entry"), F.lit("Exit"), F.lit("Local")),
        (eid % 3).cast("int") + 1,
    )
    slayer = F.element_at(
        F.array(*[F.lit(x) for x in ("Unknown", "Database", "MQ", "Http")]),
        (eid % 4).cast("int") + 1,
    )
    op_id = F.when(eid % 7 == 1, F.lit("1")).when(eid % 7 == 2, F.lit("2")).otherwise(
        F.lit("0")
    )
    db_tag = F.when(
        eid % 4 == 1, F.lit(',{"key":"db.type","value":"MySQL"}')
    ).otherwise(F.lit(""))
    mq_tag = F.when(
        eid % 4 == 2,
        F.concat(F.lit(',{"key":"mq.topic","value":"t-'), ut, F.lit('"}')),
    ).otherwise(F.lit(""))
    ek = F.when(eid % 3 == 0, F.lit("OpError")).otherwise(F.lit(""))
    refs = F.when(
        eid % 4 == 0,
        F.concat(
            F.lit(',"refs":[{"parentTraceSegmentId":{"idParts":['),
            eid.cast("string"),
            F.lit(',9]},"parentSpanId":7,"parentServiceInstanceId":'),
            (eid % 50).cast("string"),
            F.lit("}]"),
        ),
    ).otherwise(F.lit(""))
    payload = F.concat(
        F.lit('{"globalTraceIds":[{"idParts":'), gid,
        F.lit('}],"segment":{"traceSegmentId":{"idParts":['), seg_part,
        F.lit(',42]},"serviceInstanceId":'), utn.cast("string"),
        F.lit(',"spans":[{"spanId":'), (eid % 100 + 1).cast("string"),
        F.lit(',"parentSpanId":'),
        F.when(eid % 5 == 0, F.lit("-1")).otherwise(F.lit("3")),
        F.lit(',"startTime":'), st.cast("string"),
        F.lit(',"endTime":'), en.cast("string"),
        F.lit(',"operationNameId":'), op_id,
        F.lit(',"operationName":"op-'), et,
        F.lit('","peer":"10.0.0.'), ut,
        F.lit(':3306","spanType":"'), stype,
        F.lit('","spanLayer":"'), slayer,
        F.lit('","componentId":'), (eid % 10).cast("string"),
        F.lit(',"isError":'),
        F.when(eid % 3 == 0, F.lit("true")).otherwise(F.lit("false")),
        F.lit(',"tags":[{"key":"url","value":"/api/'), et,
        F.lit('"},{"key":"key-a","value":"v-'), ut, F.lit('"}'),
        db_tag, mq_tag,
        F.lit('],"logs":[{"time":'), (st + 1).cast("string"),
        F.lit(',"data":[{"key":"event","value":"ex"},'
              '{"key":"error.kind","value":"'), ek,
        F.lit('"}]}]'), refs, F.lit("}]}}"),
    )
    inst = _sw2_instances(spark, sf_dir)
    eps = spark.createDataFrame(
        [(1, "ep-one")], "endpointId int, endpointName string"
    )
    df = to_events(ev.select("doc_id", payload.alias("content")))
    out = SkywalkingV2SegmentParser(component_mapping={5: "rocketmq"}).apply(
        df, instances=inst, endpoints=eps
    )
    keys = [
        "links", "host", "service", "resource", "name", "kind", "traceID",
        "spanID", "parentSpanID", "logs", "traceState", "start", "end",
        "duration", "attribute", "statusCode", "statusMessage",
    ]
    return out.select(
        "doc_id",
        *[fget(k).alias(k) for k in keys],
        fget("__ts_sec__").alias("ts_sec"),
    )


def oracle_skywalking_v2_segment() -> str:
    return """WITH ev AS (
  SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
         event_id AS eid, event_type AS et,
         cast(user_id % 5 AS varchar) AS ut, user_id % 5 AS utn,
         event_id % 2 = 0 AS jaeger,
         cast(1000000000000 + event_id AS varchar) || '.42' AS seg,
         event_id % 100 + 1 AS spanid,
         1663904182000 + event_id AS st,
         1663904182000 + event_id + event_id % 100 + 1 AS en
  FROM events
  WHERE (user_id % 5) % 2 = 0 AND event_id % 7 <> 2
), ids AS (
  SELECT *,
    CASE WHEN jaeger THEN printf('%016x', eid) ELSE eid || '.7' END AS trace_id,
    CASE WHEN eid % 4 = 0 THEN
      CASE WHEN jaeger THEN printf('%08x', eid % 50) || '00000007'
           ELSE eid || '.9.7' END
    END AS ref_parent
  FROM ev
)
SELECT doc_id,
  CASE WHEN eid % 4 = 0 THEN
    '[{"traceID":"' || trace_id || '","spanID":"' || ref_parent ||
    '","traceState":"","attributes":null}]'
  ELSE '[]' END AS links,
  'h-' || ut AS host,
  'app-' || utn AS service,
  '{"host.name":"h-' || ut || '","telemetry.sdk.language":"java"}' AS resource,
  CASE WHEN eid % 7 = 1 THEN 'ep-one' ELSE 'op-' || et END AS name,
  CASE WHEN eid % 4 = 2 THEN
    CASE eid % 3 WHEN 0 THEN 'consumer' WHEN 1 THEN 'producer' ELSE '' END
  ELSE
    CASE eid % 3 WHEN 0 THEN 'server' WHEN 1 THEN 'client' ELSE 'internal' END
  END AS kind,
  trace_id AS traceID,
  CASE WHEN jaeger THEN substr(seg, length(seg) - 11) || printf('%04x', spanid)
       ELSE seg || '.' || spanid END AS spanID,
  CASE WHEN eid % 4 = 0 THEN ref_parent
       WHEN eid % 5 = 0 THEN ''
       WHEN jaeger THEN substr(seg, length(seg) - 11) || '0003'
       ELSE seg || '.3' END AS parentSpanID,
  '[{"error.kind":"' || (CASE WHEN eid % 3 = 0 THEN 'OpError' ELSE '' END) ||
    '","event":"ex","time":"' || (st + 1) || '"}]' AS logs,
  '' AS traceState,
  cast(st * 1000 AS varchar) AS "start",
  cast(en * 1000 AS varchar) AS "end",
  cast((eid % 100 + 1) * 1000 AS varchar) AS duration,
  CASE
    WHEN eid % 4 = 1 THEN
      '{"db.system":"MySQL","http.url":"/api/' || et || '","key-a":"v-' || ut ||
      '","net.peer.ip":"10.0.0.' || ut || '","net.peer.port":"3306"}'
    WHEN eid % 4 = 2 THEN
      '{"http.url":"/api/' || et || '","key-a":"v-' || ut ||
      '","messaging.destination":"t-' || ut ||
      '","messaging.destination_kind":"topic","messaging.system":"' ||
      (CASE WHEN eid % 10 = 5 THEN 'rocketmq' ELSE 'MessagingSystem' END) ||
      '","mq.topic":"t-' || ut ||
      '","net.peer.ip":"10.0.0.' || ut || '","net.peer.port":"3306"}'
    ELSE
      '{"http.url":"/api/' || et || '","key-a":"v-' || ut ||
      '","net.peer.ip":"10.0.0.' || ut || '","net.peer.port":"3306"}'
  END AS attribute,
  CASE WHEN eid % 3 = 0 THEN 'ERROR' ELSE 'OK' END AS statusCode,
  CASE WHEN eid % 3 = 0 THEN 'OpError' ELSE '' END AS statusMessage,
  cast(en // 1000 AS varchar) AS ts_sec
FROM ids"""


def q_skywalking_v2_jvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SkyWalking v2 JVM metrics (jvm_metric_handle.go toMetricStoreFormat):
    JVMMetrics protojson + instance registry → 11 skywalking_jvm_* metric
    logs per payload (cpu, 4 memory, 4 pool, 2 gc — no thread gauges in v2),
    with the CloneInto gc-phrase quirk (gc_time: enum, gc_count:
    Young/Old)."""
    from .operators.skywalking_v2 import SkywalkingV2JvmMetricParser

    ev = _events_raw(spark, sf_dir)
    eid = F.col("event_id")
    utn = (F.col("user_id") % 5).cast("int")
    t = F.lit(1663904182000) + eid
    pool = F.element_at(
        F.array(*[F.lit(p) for p in _JVM_POOLS]), (eid % 6).cast("int") + 1
    )
    payload = F.concat(
        F.lit('{"applicationInstanceId":'), utn.cast("string"),
        F.lit(',"metrics":[{"time":'), t.cast("string"),
        F.lit(',"cpu":{"usagePercent":'), (eid % 100).cast("string"),
        F.lit('},"memory":[{"isHeap":'),
        F.when(eid % 2 == 1, F.lit("true")).otherwise(F.lit("false")),
        F.lit(',"init":'), (eid % 7).cast("string"),
        F.lit(',"max":'), (eid % 11).cast("string"),
        F.lit(',"used":'), (eid % 13).cast("string"),
        F.lit(',"committed":'), (eid % 17).cast("string"),
        F.lit('}],"memoryPool":[{"type":"'), pool,
        F.lit('","init":'), (eid % 7 + 1).cast("string"),
        F.lit(',"max":'), (eid % 11 + 1).cast("string"),
        F.lit(',"used":'), (eid % 13 + 1).cast("string"),
        F.lit(',"commited":'), (eid % 17 + 1).cast("string"),
        F.lit('}],"gc":[{"phrase":"'),
        F.when(eid % 2 == 0, F.lit("NEW")).otherwise(F.lit("OLD")),
        F.lit('","count":'), (eid % 19).cast("string"),
        F.lit(',"time":'), (eid % 23).cast("string"),
        F.lit("}]}]}"),
    )
    df = to_events(ev.select("doc_id", payload.alias("content")))
    out = SkywalkingV2JvmMetricParser().apply(
        df, instances=_sw2_instances(spark, sf_dir)
    )
    return out.select(
        "doc_id",
        fget("__name__").alias("name"),
        fget("__time_nano__").alias("time_nano"),
        fget("__labels__").alias("labels"),
        fget("__value__").alias("value"),
        fget("__ts_sec__").alias("ts_sec"),
    )


def oracle_skywalking_v2_jvm() -> str:
    pools = ", ".join(f"'{p}'" for p in _JVM_POOLS)
    return f"""WITH ev AS (
  SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
         event_id AS eid,
         'host#$#h-' || (user_id % 5) || '|service#$#app-' || (user_id % 5) ||
           '|serviceInstance#$#uuid-' || (user_id % 5) AS base,
         'host#$#h-' || (user_id % 5) AS hp,
         '|service#$#app-' || (user_id % 5) ||
           '|serviceInstance#$#uuid-' || (user_id % 5) AS sp,
         cast(1663904182000 + event_id AS varchar) || '000000' AS tn,
         cast((1663904182000 + event_id) // 1000 AS varchar) AS ts_sec,
         CASE WHEN event_id % 2 = 1 THEN 'heap' ELSE 'nonheap' END AS mtype,
         (ARRAY[{pools}])[cast(event_id % 6 AS int) + 1] AS ptype,
         CASE WHEN event_id % 2 = 0 THEN 'NEW' ELSE 'OLD' END AS phrase,
         CASE WHEN event_id % 2 = 0 THEN 'Young' ELSE 'Old' END AS phrase2
  FROM events
  WHERE (user_id % 5) % 2 = 0
), rows AS (
  SELECT doc_id, 'skywalking_jvm_cpu_usage' AS name, tn AS time_nano,
         base AS labels, cast(eid % 100 AS varchar) AS value, ts_sec FROM ev
  UNION ALL SELECT doc_id, 'skywalking_jvm_memory_committed', tn,
    base || '|type#$#' || mtype, cast(eid % 17 AS varchar), ts_sec FROM ev
  UNION ALL SELECT doc_id, 'skywalking_jvm_memory_init', tn,
    base || '|type#$#' || mtype, cast(eid % 7 AS varchar), ts_sec FROM ev
  UNION ALL SELECT doc_id, 'skywalking_jvm_memory_max', tn,
    base || '|type#$#' || mtype, cast(eid % 11 AS varchar), ts_sec FROM ev
  UNION ALL SELECT doc_id, 'skywalking_jvm_memory_used', tn,
    base || '|type#$#' || mtype, cast(eid % 13 AS varchar), ts_sec FROM ev
  UNION ALL SELECT doc_id, 'skywalking_jvm_memory_pool_committed', tn,
    base || '|type#$#' || ptype, cast(eid % 17 + 1 AS varchar), ts_sec FROM ev
  UNION ALL SELECT doc_id, 'skywalking_jvm_memory_pool_init', tn,
    base || '|type#$#' || ptype, cast(eid % 7 + 1 AS varchar), ts_sec FROM ev
  UNION ALL SELECT doc_id, 'skywalking_jvm_memory_pool_max', tn,
    base || '|type#$#' || ptype, cast(eid % 11 + 1 AS varchar), ts_sec FROM ev
  UNION ALL SELECT doc_id, 'skywalking_jvm_memory_pool_used', tn,
    base || '|type#$#' || ptype, cast(eid % 13 + 1 AS varchar), ts_sec FROM ev
  UNION ALL SELECT doc_id, 'skywalking_jvm_gc_time', tn,
    hp || '|phrase#$#' || phrase || sp, cast(eid % 23 AS varchar), ts_sec FROM ev
  UNION ALL SELECT doc_id, 'skywalking_jvm_gc_count', tn,
    hp || '|phrase#$#' || phrase2 || sp, cast(eid % 19 AS varchar), ts_sec FROM ev
)
SELECT doc_id, name, time_nano, labels, value, ts_sec FROM rows"""


# --- metric_meta_host (plugins/input/hostmeta) ---------------------------------


def q_hostmeta_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """metric_meta_host conversion (input_host_meta.go): host + process fact
    rows → MetaNode logs (id/type/attributes/labels/parents) with the
    CPU/MEM/DISK attribute categories, the process stat filters and
    ProcessNamesRegex, and the HOST parent link. Pure per-row projection —
    zero shuffle."""
    from .operators.hostmeta import HostMetaConverter

    ev = _events_raw(spark, sf_dir)
    eid, et = F.col("event_id"), F.col("event_type")
    utn = (F.col("user_id") % 5).cast("int")
    ut = utn.cast("string")

    hosts = (
        ev.select(utn.alias("__ut__"))
        .distinct()
        .select(
            F.concat(F.lit("host-"), F.col("__ut__").cast("string")).alias("doc_id"),
            F.concat(F.lit("hn-"), F.col("__ut__").cast("string")).alias("hostname"),
            F.concat(F.lit("10.0.0."), F.col("__ut__").cast("string")).alias("ip"),
            F.when(F.col("__ut__") == 3, F.lit(None).cast("string"))
            .otherwise(F.concat(F.lit("hid-"), F.col("__ut__").cast("string")))
            .alias("host_id"),
            (F.lit(1663900000) + F.col("__ut__")).cast("long").alias("boot_time"),
            F.lit("linux").alias("os"),
            F.lit("ubuntu").alias("platform"),
            F.lit("debian").alias("platform_family"),
            F.lit("22.04").alias("platform_version"),
            F.lit("5.15.0").alias("kernel_version"),
            F.lit("x86_64").alias("kernel_arch"),
            F.lit("kvm").alias("virtualization_system"),
            F.lit("guest").alias("virtualization_role"),
            F.struct(
                (F.col("__ut__") + 1).alias("processor_count"),
                (2 * (F.col("__ut__") + 1)).alias("core_count"),
                F.lit("GenuineIntel").alias("vendor_id"),
                F.lit("6").alias("family"),
                F.lit("85").alias("model"),
                F.lit("Xeon").alias("model_name"),
                F.lit(2400.0).alias("mhz"),
                F.lit(1024).alias("cache_size"),
            ).alias("cpu"),
            F.struct(
                (F.lit(1000000) + F.col("__ut__")).cast("long").alias("mem_total"),
                F.col("__ut__").cast("long").alias("swap_total"),
                F.lit(123).cast("long").alias("vsz_total"),
            ).alias("mem"),
            F.array(
                F.struct(
                    F.lit("/dev/sda1").alias("device"),
                    F.lit("rw").alias("opts"),
                    F.lit("ext4").alias("fstype"),
                    F.lit("/").alias("mount_point"),
                )
            ).alias("disk"),
        )
    )
    procs = ev.select(
        "doc_id",
        F.concat(F.lit("hn-"), ut).alias("hostname"),
        F.concat(F.lit("10.0.0."), ut).alias("ip"),
        F.when(utn == 3, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("hid-"), ut))
        .alias("host_id"),
        (eid % 1000).alias("pid"),
        eid.alias("start_time"),
        F.when(eid % 11 == 0, F.lit(""))
        .when(eid % 13 == 0, F.concat(F.lit("other-"), et))
        .otherwise(F.concat(F.lit("proc-"), et, F.lit(" --id "), eid.cast("string")))
        .alias("cmd"),
        F.concat(F.lit("/bin/"), et).alias("exe"),
        et.alias("comm"),
        F.lit(1).cast("long").alias("ppid"),
        (eid % 7).alias("rss"),
    )
    conv = HostMetaConverter(
        cpu=True, memory=True, disk=True,
        labels={"env": "prod"}, process_names_regex=["proc-.*"],
    )
    return conv.host_nodes(hosts, keep=["doc_id"]).unionByName(
        conv.process_nodes(procs, keep=["doc_id"])
    )


def oracle_hostmeta_nodes() -> str:
    return """WITH u AS (
  SELECT DISTINCT user_id % 5 AS utn FROM events
), hosts AS (
  SELECT 'host-' || utn AS doc_id,
    CASE WHEN utn = 3 THEN 'no_hostID_10.0.0.3'
         ELSE 'hid-' || utn || '_10.0.0.' || utn END AS id,
    'HOST' AS type,
    '{"CPU":{"cache_size":1024,"core_count":' || (2 * (utn + 1)) ||
      ',"family":"6","mhz":2400,"model":"85","model_name":"Xeon",' ||
      '"processor_count":' || (utn + 1) || ',"vendor_id":"GenuineIntel"},' ||
      '"DISK":[{"device":"/dev/sda1","fstype":"ext4","mount_point":"/",' ||
      '"opts":"rw"}],' ||
      '"MEM":{"mem_total":' || (1000000 + utn) || ',"swap_total":' || utn ||
      ',"vsz_total":123}}' AS attributes,
    '{"boot_time":"' || (1663900000 + utn) || '","env":"prod","host_id":"' ||
      (CASE WHEN utn = 3 THEN '' ELSE 'hid-' || utn END) ||
      '","hostname":"hn-' || utn || '","ip":"10.0.0.' || utn ||
      '","kernel_arch":"x86_64","kernel_version":"5.15.0","os":"linux",' ||
      '"platform":"ubuntu","platform_family":"debian",' ||
      '"platform_version":"22.04","virtualization_role":"guest",' ||
      '"virtualization_system":"kvm"}' AS labels,
    '[]' AS parents
  FROM u
), procs AS (
  SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
    'hn-' || (user_id % 5) || '_10.0.0.' || (user_id % 5) || '_PROCESS_' ||
      (event_id % 1000) || '_' || event_id AS id,
    'PROCESS' AS type,
    '{"command":"proc-' || event_type || ' --id ' || event_id ||
      '","exe":"/bin/' || event_type || '","name":"' || event_type ||
      '","pid":' || (event_id % 1000) || ',"ppid":1}' AS attributes,
    '{"env":"prod","hostname":"hn-' || (user_id % 5) || '","ip":"10.0.0.' ||
      (user_id % 5) || '"}' AS labels,
    '["HOST:' || (CASE WHEN user_id % 5 = 3 THEN 'no_hostID'
                       ELSE 'hid-' || (user_id % 5) END) ||
      '_10.0.0.' || (user_id % 5) || ':hn-' || (user_id % 5) || '"]' AS parents
  FROM events
  WHERE event_id % 1000 <> 0 AND event_id % 11 <> 0 AND event_id % 13 <> 0
    AND event_id % 7 <> 0
)
SELECT * FROM hosts UNION ALL SELECT * FROM procs"""


# --- flusher_http (plugins/flusher/http) ---------------------------------------


def q_flusher_http(spark: SparkSession, sf_dir: str) -> DataFrame:
    """flusher_http request frames (flusher_http.go): per-event POST with
    %{content.x} variable substitution in query/header values, Go
    url.Values.Encode query rendering (sorted keys, QueryEscape),
    canonical-MIME header names, Content-Encoding/Content-Type defaults,
    custom_single JSON body."""
    from .operators.convert import http_sink_frames

    df = _converter_frame(spark, sf_dir)
    return http_sink_frames(
        df,
        "http://sink.example/logs",
        query={"q": "a b*c~d", "project": "p-%{content.method}"},
        headers={"x-trace": "%{content.status}-%{content.nope}"},
        compression="gzip",
    ).select("doc_id", "url", "headers", "body")


def oracle_flusher_http() -> str:
    return """SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
  'http://sink.example/logs?project=p-' || event_type || '&q=a+b%2Ac~d' AS url,
  '{"Content-Encoding":"gzip","Content-Type":"application/json",' ||
    '"X-Trace":"' || (event_id % 5) || '-content.nope"}' AS headers,
  '{"contents":{"method":"' || event_type || '","status":"' || (event_id % 5) ||
    '"},"tags":{"host.ip":"","log.file.path":"/var/log/app.log"},"time":' ||
    (1700000000 + event_id % 86400) || '}' AS body
FROM events"""


# --- input_mysql / rdb incremental collect (plugins/input/mysql, rdb) ----------


def q_rdb_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """input_mysql/rdb collect round (mysql.go ParseRows + rdb.go checkpoint
    contract): rows past the checkpoint in checkpoint order capped at
    MaxSyncSize, every column a string field (ColumnsHash rename, SQL NULL
    → "null")."""
    from .operators.base import fget
    from .operators.rdb import RdbIncremental

    ev = _events_raw(spark, sf_dir)
    table = ev.select(
        F.col("event_id").alias("id"),
        F.col("event_type").alias("name"),
        F.col("user_id").alias("val"),
        F.when(F.col("event_id") % 9 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("n-"), (F.col("event_id") % 4).cast("string")))
        .alias("note"),
    )
    r = RdbIncremental(
        checkpoint_column="id",
        checkpoint_start="100",
        columns_hash={"val": "user_value"},
        max_sync_size=500,
    )
    out = r.collect(table)
    return out.select(
        fget("id").alias("id"),
        fget("name").alias("name"),
        fget("user_value").alias("user_value"),
        fget("note").alias("note"),
    )


def oracle_rdb_incremental() -> str:
    return """SELECT cast(event_id AS varchar) AS id,
  event_type AS name,
  cast(user_id AS varchar) AS user_value,
  CASE WHEN event_id % 9 = 0 THEN 'null'
       ELSE 'n-' || (event_id % 4) END AS note
FROM events WHERE event_id > 100
ORDER BY event_id LIMIT 500"""


# --- registry ------------------------------------------------------------------


def _registry() -> tuple[dict[str, Callable], dict[str, str]]:
    """Every ``q_<name>`` defined in this module, ``dataops.queries`` or
    ``queries_r5``, registered under ``<name>`` with the SQL of its
    ``oracle_<name>()``, looked up in the query's own module and then in
    ``oracles``. A query without an oracle fails the import."""
    found: dict[str, Callable] = {}
    sql: dict[str, str] = {}
    for mod in (sys.modules[__name__], dataops_queries, queries_r5):
        for attr, fn in vars(mod).items():
            if not (attr.startswith("q_") and callable(fn) and fn.__module__ == mod.__name__):
                continue
            name = attr[2:]
            oracle = getattr(mod, f"oracle_{name}", None) or getattr(oracles, f"oracle_{name}", None)
            if oracle is None:
                raise ImportError(f"{mod.__name__}.{attr} has no oracle_{name}")
            found[name], sql[name] = fn, oracle()
    return found, sql


QUERIES, ORACLES = _registry()
