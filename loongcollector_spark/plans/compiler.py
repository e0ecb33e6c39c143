"""Pipeline-config compiler: a loongcollector-style pipeline config (dict —
parsed YAML/JSON) → a composed DataFrame program.

Reference lifecycle (SURVEY.md §3.1): config watcher → CollectionPipeline::Init
builds input/processor/flusher plugin instances from the JSON IR
(core/collection_pipeline/CollectionPipeline.cpp:121-261), Router inits from
per-flusher Match conditions (route/Router.cpp:26-48). Here the "plugin
registry" is PROCESSOR_REGISTRY and the built pipeline is a Chain + Router —
the physical plan is whatever Catalyst makes of the composed expressions.

Config shape (mirrors the reference's pipeline YAML):

    {
      "processors": [
        {"Type": "processor_parse_regex_native", "SourceKey": "content",
         "Regex": "...", "Keys": [...], "KeepingSourceWhenParseFail": true},
        ...
      ],
      "flushers": [
        {"Type": "flusher_sink", "Name": "sink_a",
         "Match": {"Key": "env", "Value": "prod"}},
        {"Type": "flusher_sink", "Name": "sink_default"}
      ]
    }
"""

from __future__ import annotations

from typing import Any, Callable, Mapping

from pyspark.sql import DataFrame

from ..operators.base import Chain, Operator
from ..operators.common import ParserOptions
from ..operators.enrich import DictMap
from ..operators.filters import FilterKeyRegex, FilterNative, FilterRegex
from ..operators.parse import (
    ApsaraParser,
    CsvParser,
    DelimiterParser,
    GrokParser,
    JsonExpand,
    JsonParser,
    RegexParser,
    TimestampParser,
)
from ..operators.split import MergeMultilineByFlag, SplitLogString, SplitMultiline
from ..operators.transforms import (
    AddFields,
    Anchor,
    Appender,
    Base64Decode,
    Base64Encode,
    Desensitize,
    Drop,
    DropLastKey,
    FieldsWithCondition,
    KeyValueSplitter,
    Md5,
    PackJson,
    PickKey,
    Rename,
    StringReplace,
)
from ..routing import RouteCondition, Router


def _parser_options(cfg: Mapping[str, Any]) -> ParserOptions:
    """CommonParserOptions keys, reference names
    (core/plugin/processor/CommonParserOptions.cpp:28-117)."""
    return ParserOptions(
        source_key=cfg.get("SourceKey", "content"),
        keep_fail=cfg.get("KeepingSourceWhenParseFail", False),
        keep_succeed=cfg.get("KeepingSourceWhenParseSucceed", False),
        renamed_source_key=cfg.get("RenamedSourceKey"),
        coping_raw_log=cfg.get("CopingRawLog", False),
    )


def _regex(cfg) -> Operator:
    return RegexParser(cfg["Regex"], cfg["Keys"], _parser_options(cfg))


def _delimiter(cfg) -> Operator:
    return DelimiterParser(
        cfg["Separator"],
        cfg["Keys"],
        _parser_options(cfg),
        allow_shortened=cfg.get("AllowingShortenedFields", False),
        overflow=cfg.get("OverflowedFieldsTreatment", "extend"),
        quote=cfg.get("Quote"),
    )


def _json(cfg) -> Operator:
    return JsonParser(_parser_options(cfg))


def _grok(cfg) -> Operator:
    return GrokParser(
        cfg["Match"],
        _parser_options(cfg),
        custom_patterns=cfg.get("CustomPatterns"),
        ignore_parse_failure=cfg.get("IgnoreParseFailure", True),
    )


PROCESSOR_REGISTRY: dict[str, Callable[[Mapping[str, Any]], Operator]] = {
    # parsers (§2.1)
    "processor_parse_regex_native": _regex,
    "processor_regex": _regex,
    "processor_parse_delimiter_native": _delimiter,
    "processor_parse_json_native": _json,
    "processor_parse_apsara_native": lambda c: ApsaraParser(_parser_options(c)),
    "processor_parse_timestamp_native": lambda c: TimestampParser(
        c["SourceFormat"], _parser_options(c), timezone=c.get("SourceTimezone")
    ),
    "processor_grok": _grok,
    "processor_csv": lambda c: CsvParser(
        c["SplitKeys"],
        _parser_options(c),
        split_sep=c.get("SplitSep", ","),
        preserve_others=c.get("PreserveOthers", False),
        expand_others=c.get("ExpandOthers", False),
        expand_prefix=c.get("ExpandKeyPrefix", "expand_"),
    ),
    "processor_json": lambda c: JsonExpand(
        _parser_options(c),
        expand_depth=c.get("ExpandDepth", 0),
        expand_connector=c.get("ExpandConnector", "_"),
        prefix=c.get("Prefix", ""),
        use_source_key_as_prefix=c.get("UseSourceKeyAsPrefix", False),
    ),
    "processor_split_key_value": lambda c: KeyValueSplitter(
        source_key=c.get("SourceKey", "content"),
        delimiter=c.get("Delimiter", "\t"),
        separator=c.get("Separator", ":"),
        quote=c.get("Quote"),
        keep_source=c.get("KeepSource", False),
    ),
    # cardinality (§2.2)
    "processor_split_log_string_native": lambda c: SplitLogString(
        source_key=c.get("SourceKey", "content"),
        split_char=c.get("SplitChar", "\n"),
        enable_position_meta=c.get("EnableLogPositionMeta", False),
    ),
    "processor_split_multiline_log_string_native": lambda c: SplitMultiline(
        start_pattern=c["StartPattern"],
        source_key=c.get("SourceKey", "content"),
        end_pattern=c.get("EndPattern"),
        unmatched=c.get("UnmatchedContentTreatment", "discard"),
    ),
    "processor_merge_multiline_log_native": lambda c: MergeMultilineByFlag(
        flag_key=c.get("FlagKey", "_part_"), source_key=c.get("SourceKey", "content")
    ),
    # filters (§2.3)
    "processor_filter_native": lambda c: FilterNative(
        condition_exp=c.get("ConditionExp"), include=c.get("Include")
    ),
    "processor_filter_regex": lambda c: FilterRegex(
        include=c.get("Include", {}), exclude=c.get("Exclude", {})
    ),
    "processor_filter_key_regex": lambda c: FilterKeyRegex(
        include=c.get("Include", ()), exclude=c.get("Exclude", ())
    ),
    # transforms / enrich (§2.4)
    "processor_add_fields": lambda c: AddFields(
        c["Fields"], ignore_if_exist=c.get("IgnoreIfExist", False)
    ),
    # no-op passthrough (plugins/processor/defaultone/processor_default.go:35-37)
    "processor_default": lambda c: Chain(),
    "processor_rename": lambda c: Rename(
        dict(zip(c["SourceKeys"], c["DestKeys"]))
    ),
    "processor_drop": lambda c: Drop(c["DropKeys"]),
    "processor_pick_key": lambda c: PickKey(
        include=c.get("Include", ()), exclude=c.get("Exclude", ())
    ),
    "processor_drop_last_key": lambda c: DropLastKey(c["DropKey"], c["Include"]),
    "processor_dict_map": lambda c: DictMap(
        c["MapDict"],
        c["SourceKey"],
        dest_key=c.get("DestKey"),
        handle_missing=c.get("HandleMissing", False),
        missing=c.get("Missing", "Unknown"),
        mode=c.get("Mode", "overwrite"),
    ),
    "processor_string_replace": lambda c: StringReplace(
        source_key=c["SourceKey"],
        method=c.get("Method", "regex"),
        match=c.get("Match", ""),
        replace_string=c.get("ReplaceString", ""),
        dest_key=c.get("DestKey"),
    ),
    "processor_desensitize_native": lambda c: Desensitize(
        source_key=c["SourceKey"],
        method=c.get("Method", "const"),
        content_pattern=c.get("ReplacedContentPattern", ""),
        prefix_pattern=c.get("ContentPatternBeforeReplacedString", ""),
        replacing_string=c.get("ReplacingString", "********"),
        replacing_all=c.get("ReplacingAll", True),
    ),
    "processor_gotime": lambda c: _gotime(c),
    "processor_strptime": lambda c: _strptime(c),
    "processor_rate_limit": lambda c: _rate_limit(c),
    "processor_log_to_sls_metric": lambda c: _log_to_metric(c),
    "processor_geoip": lambda c: _geoip(c),
    # cloud metadata is resolved driver-side (no ECS metadata service in a
    # Spark job); the config carries the already-resolved key→value map
    "processor_cloud_meta": lambda c: AddFields(
        c.get("Metadata", {}), ignore_if_exist=False
    ),
    "processor_base64_encoding": lambda c: Base64Encode(c["SourceKey"], c["NewKey"]),
    "processor_base64_decoding": lambda c: Base64Decode(c["SourceKey"], c["NewKey"]),
    "processor_md5": lambda c: Md5(c["SourceKey"], c["NewKey"]),
    "processor_packjson": lambda c: PackJson(
        c["SourceKeys"], c["DestKey"], keep=c.get("Keep", True)
    ),
    "processor_anchor": lambda c: Anchor(
        source_key=c["SourceKey"],
        start=c["Start"],
        stop=c["Stop"],
        field_name=c["FieldName"],
    ),
    "processor_appender": lambda c: Appender(
        key=c["Key"], value=c["Value"], sort_labels=c.get("SortLabels", False)
    ),
    "processor_fields_with_condition": lambda c: FieldsWithCondition(
        cases=c["Cases"], drop_if_not_match=c.get("DropIfNotMatchCondition", False)
    ),
    # ingestion-boundary: decodes a binary payload column of serialized
    # LoongSuite PipelineEventGroups (ProcessorParseFromPBNative.cpp:34-121);
    # sits FIRST in a pipeline whose input carries wire bytes
    "processor_parse_from_pb_native": lambda c: _parse_from_pb(c),
}


def _parse_from_pb(c):
    from ..operators.pb import ParseFromPB

    proto = c.get("Protocol", "LoongSuite")
    if proto != "LoongSuite":  # sSupportedProtocols — cpp:34-36
        raise ValueError(f"unsupported protocol {proto!r}")
    return ParseFromPB(
        payload_col=c.get("PayloadColumn", "payload"),
        passthrough=c.get("Passthrough", []),
    )


def _rate_limit(c):
    from ..operators.filters import RateLimit

    limit_str = c.get("Limit", "100/s")
    num, _, unit = limit_str.partition("/")
    window = {"s": "1 second", "m": "1 minute", "h": "1 hour"}[unit or "s"]
    return RateLimit(
        fields_keys=c.get("Fields", []),
        limit=int(num),
        window=window,
        time_col=c.get("TimeCol"),
    )


def _log_to_metric(c):
    from ..operators.transforms import LogToMetric

    return LogToMetric(
        metric_labels=c.get("MetricLabelKeys", []),
        metric_values=c.get("MetricValues", {}),
        time_col=c.get("MetricTimeKey"),
    )


class _LazyGeoIp:
    """processor_geoip registry shim: the range table parquet (built by
    tools/geoip_ingest.py from the GeoLite2 CSV export — the relational
    stand-in for the config's mmdb DBPath) is read lazily from the input
    frame's own session at apply() time, since the compiler has no
    SparkSession."""

    def __init__(self, cfg):
        self.cfg = cfg

    def apply(self, df: DataFrame) -> DataFrame:
        from ..operators.enrich import GeoIpProcessor

        ranges = df.sparkSession.read.parquet(self.cfg["RangeTablePath"])
        return GeoIpProcessor(
            ranges,
            source_key=self.cfg.get("SourceKey", "ip"),
            keep_source=self.cfg.get("KeepSource", True),
            no_city=self.cfg.get("NoCity", False),
            no_province=self.cfg.get("NoProvince", False),
            no_country=self.cfg.get("NoCountry", False),
            no_country_code=self.cfg.get("NoCountryCode", False),
        ).apply(df)


def _geoip(c):
    return _LazyGeoIp(c)


def _strptime(c):
    from ..operators.parse import TimestampParser, strptime_to_spark

    tz = None
    if c.get("AdjustUTCOffset") and c.get("UTCOffset") is not None:
        off = int(c["UTCOffset"])
        sign = "+" if off >= 0 else "-"
        off = abs(off)
        tz = f"GMT{sign}{off // 3600:02d}:{off % 3600 // 60:02d}"
    return TimestampParser(
        strptime_to_spark(c["Format"]),
        ParserOptions(
            source_key=c.get("SourceKey", "time"),
            keep_succeed=c.get("KeepSource", True),
            keep_fail=True,  # strptime never drops the event on parse failure
        ),
        timezone=tz,
        precise_timestamp_key=(
            c.get("PreciseTimestampKey", "precise_timestamp")
            if c.get("EnablePreciseTimestamp")
            else None
        ),
        precise_timestamp_unit={"ms": "ms", "us": "us", "ns": "ns"}.get(
            c.get("PreciseTimestampUnit", "ms"), "ms"
        ),
    )


def _gotime(c):
    from ..operators.transforms import GoTime

    return GoTime(
        source_key=c["SourceKey"],
        source_format=c["SourceFormat"],
        dest_key=c["DestKey"],
        dest_format=c["DestFormat"],
        source_location=c.get("SourceLocation", 0),
        dest_location=c.get("DestLocation", 0),
        set_time=c.get("SetTime", False),
        keep_source=c.get("KeepSource", True),
    )


def compile_processors(configs: list[Mapping[str, Any]]) -> Chain:
    """Processor line → operator Chain (unknown Type is a config error, like
    PluginRegistry::CreateProcessor failing)."""
    ops = []
    for cfg in configs:
        t = cfg["Type"]
        if t not in PROCESSOR_REGISTRY:
            raise KeyError(f"unknown processor type: {t}")
        ops.append(PROCESSOR_REGISTRY[t](cfg))
    return Chain(*ops)


def compile_router(flushers: list[Mapping[str, Any]]) -> Router:
    """Per-flusher Match conditions → Router (unconditioned flusher always
    matches, Router.cpp:34)."""
    rules = []
    for f in flushers:
        m = f.get("Match")
        name = f.get("Name") or f["Type"]
        if m is None:
            rules.append(RouteCondition(name))
        else:
            rules.append(
                RouteCondition(
                    name,
                    m["Key"],
                    m["Value"],
                    discard_tag=m.get("DiscardingTag", False),
                    use_fields=m.get("UseFields", False),
                )
            )
    return Router(rules)


class CompiledPipeline:
    """A compiled pipeline: processors + optional router, applied lazily."""

    def __init__(self, config: Mapping[str, Any]):
        self.config = config
        self.processors = compile_processors(config.get("processors", []))
        self.router = (
            compile_router(config["flushers"]) if config.get("flushers") else None
        )

    def apply(self, df: DataFrame) -> DataFrame:
        out = self.processors.apply(df)
        if self.router is not None:
            out = self.router.apply(out)
        return out


def compile_pipeline(config: Mapping[str, Any]) -> CompiledPipeline:
    return CompiledPipeline(config)


def compile_input(
    spark,
    cfg: Mapping[str, Any],
    mock: bool = False,
    schema=None,
):
    """Input plugin → (streaming) DataFrame in the canonical event shape
    (``content`` string + meta columns; run to_events + the processor chain
    downstream).

    - ``input_file`` / ``static_file``: parquet-directory file stream
      (streaming/pipeline.read_stream) — the agent's file-tail analog.
    - ``service_kafka`` (plugins/input/kafka/input_kafka.go:39-56: Brokers,
      Topics, ConsumerGroup, Offset): ``spark.readStream.format("kafka")``
      with the mapped options; each record's value becomes ``content``, the
      Kafka (topic, partition, offset, timestamp) ride along as meta columns
      (≙ the reference's tag fields). ``mock=True`` swaps in a rate source
      shaped identically — the in-sandbox stand-in (no broker, no connector
      jar); the wiring is otherwise the production path.
    """
    t = cfg["Type"]
    if t in ("input_file", "static_file"):
        from ..streaming.pipeline import read_stream

        return read_stream(
            spark, cfg["FilePaths"], schema, cfg.get("MaxFilesPerTrigger")
        )
    if t in ("service_kafka", "input_kafka"):
        import pyspark.sql.functions as F

        if mock:
            rate = (
                spark.readStream.format("rate")
                .option("rowsPerSecond", str(cfg.get("MockRowsPerSecond", 100)))
                .load()
            )
            return rate.select(
                F.lit((cfg.get("Topics") or ["mock"])[0]).alias("topic"),
                F.lit(0).cast("int").alias("partition"),
                F.col("value").alias("offset"),
                F.col("timestamp"),
                F.concat(F.lit("msg-"), F.col("value").cast("string")).alias("content"),
            )
        reader = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", ",".join(cfg["Brokers"]))
            .option("subscribe", ",".join(cfg["Topics"]))
            .option(
                "startingOffsets",
                {"oldest": "earliest", "newest": "latest"}.get(
                    cfg.get("Offset", "oldest"), "earliest"
                ),
            )
        )
        if cfg.get("ConsumerGroup"):
            reader = reader.option("kafka.group.id", cfg["ConsumerGroup"])
        if cfg.get("MaxMessageLen"):
            reader = reader.option(
                "kafka.fetch.max.bytes", str(cfg["MaxMessageLen"])
            )
        raw = reader.load()
        return kafka_records_to_events(raw)
    raise KeyError(f"unknown input type: {t}")


def kafka_records_to_events(raw):
    """The service_kafka record→event projection (input_kafka.go:58-76: each
    record's value becomes the log ``content``; topic/partition/offset/
    timestamp ride along as the reference's tag fields). Shared by the
    production readStream path and batch replay over a kafka-record-shaped
    table (e.g. a Connect/archive dump) — the mapping is identical."""
    import pyspark.sql.functions as F

    return raw.select(
        "topic",
        "partition",
        "offset",
        "timestamp",
        F.col("value").cast("string").alias("content"),
    )


def compile_metric_input(cfg: Mapping[str, Any]):
    """Metric-input plugin → DataFrame stage over its fact/snapshot table —
    the config factory for the r4 host-collector family (the agent-side
    reads are out of the table model; these are the derivations). Keyed by
    the reference's registered plugin Type strings."""
    t = cfg["Type"]
    if t == "metric_system_v2":
        from ..operators.systemv2 import SystemV2Metrics

        return SystemV2Metrics(
            cpu=cfg.get("CPU", True), cpu_percent=cfg.get("CPUPercent", True),
            mem=cfg.get("Mem", True), disk=cfg.get("Disk", True),
            net=cfg.get("Net", True), protocol=cfg.get("Protocol", True),
            labels=dict(cfg.get("Labels", {})),
        ).apply
    if t == "metric_process_v2":
        from ..operators.process_input import ProcessMetrics

        return ProcessMetrics(
            process_names_regex=list(cfg.get("ProcessNamesRegex", [])),
            max_process_count=int(cfg.get("MaxProcessCount", 100)),
            top_n_cpu=int(cfg.get("TopNCPU", 0)),
            top_n_mem=int(cfg.get("TopNMem", 0)),
            min_cpu_limit_percent=float(cfg.get("MinCPULimitPercent", 0.0)),
            min_memory_limit_kb=int(cfg.get("MinMemoryLimitKB", 0)),
            thread=cfg.get("Thread", False), open_fd=cfg.get("OpenFD", False),
            net_io=cfg.get("NetIO", False), io=cfg.get("IO", False),
            labels=dict(cfg.get("Labels", {})),
        ).apply
    if t == "metric_netping":
        from ..operators.netping import NetPingMetrics

        return NetPingMetrics().apply
    if t == "metric_redis":
        from ..operators.statuspage import RedisInfoParser

        return RedisInfoParser(url_col=cfg.get("UrlCol", "url")).apply
    if t == "metric_nginx_status":
        from ..operators.statuspage import NginxStatusParser

        return NginxStatusParser(url_col=cfg.get("UrlCol", "url")).apply
    if t == "service_gpu_metric":
        from ..operators.systemv2 import GpuMetrics

        return GpuMetrics().apply
    if t == "service_snmp":
        from ..operators.snmp import SnmpVariableLogs

        return SnmpVariableLogs().apply
    if t == "metric_meta_kubernetes":
        from ..operators.k8smetav1 import K8sMetaV1Converter

        conv = K8sMetaV1Converter(
            labels=dict(cfg.get("Labels", {})),
            disable_report_parents=cfg.get("DisableReportParents", False),
        )
        kind = cfg.get("Kind", "Pod")
        if kind == "Pod":
            return conv.pod_nodes
        if kind == "Node":
            return conv.node_nodes
        if kind in ("Deployment", "DaemonSet", "StatefulSet", "Job", "CronJob"):
            return lambda df: conv.workload_nodes(df, kind)
        return lambda df: conv.simple_nodes(df, kind)
    raise KeyError(f"unknown metric input type: {t}")


def compile_decoder(cfg: Mapping[str, Any]):
    """HTTP/gRPC ingestion decoder factory — the table analog of
    ``pkg/protocol/decoder/decoder.go`` GetDecoderWithOptions keyed by the
    same ``Format`` strings (common/comon_util.go:32-41). Returns a
    ``DataFrame -> DataFrame`` stage.

    Input contract by format family:
    - text protocols (``influx``/``influxdb``, ``statsd``, ``pyroscope``,
      ``raw``): the canonical event frame (``fields['content']`` carries the
      request body text);
    - binary protocols (``sls``, ``prometheus``): a binary ``payload``
      column (``PayloadCol``/``Passthrough`` options), decoded by the Python
      wire codecs (``ParseSlsLogGroup``, ``PromRemoteWriteDecoder``);
    - OTLP (``otlp_logv1``/``otlp_metricv1``/``otlp_tracev1``): hex-encoded
      wire bytes in ``fields['content']`` (OtelPbToJson), chained into the
      shared OTLP parsers.
    """
    fmt = cfg.get("Format", "raw")
    if fmt in ("influx", "influxdb"):
        from ..operators.influx import InfluxDecoder

        return InfluxDecoder(
            default_ts_ns=int(cfg.get("DefaultTsNs", 0)),
        ).apply
    if fmt == "statsd":
        from ..operators.statsd import StatsdDecoder

        return StatsdDecoder(
            default_ts_ns=int(cfg.get("DefaultTsNs", 0)),
        ).apply
    if fmt == "pyroscope":
        # the reference's pyroscope endpoint sub-dispatches by the request's
        # profile format (decoder.go:60-78): pprof wire / jfr parsed chunks /
        # collapsed groups text (default)
        pf = cfg.get("ProfileFormat", "groups")
        if pf == "pprof":
            from ..operators.pprof_profile import PprofProfileParser

            return PprofProfileParser(
                cfg.get("PayloadCol", "payload"), list(cfg.get("Passthrough", []))
            ).apply
        if pf == "jfr":
            from ..operators.jfr import JfrChunkParser

            return JfrChunkParser(
                cfg.get("EventsCol", "events"), list(cfg.get("Passthrough", []))
            ).apply
        from ..operators.pyroscope import PyroscopeGroupsDecoder

        return PyroscopeGroupsDecoder().apply
    if fmt == "sls":
        from ..operators.pb import ParseSlsLogGroup

        return ParseSlsLogGroup(
            cfg.get("PayloadCol", "payload"), list(cfg.get("Passthrough", []))
        ).apply
    if fmt == "prometheus":
        from ..operators.prom_rw import PromRemoteWriteDecoder

        return PromRemoteWriteDecoder(
            cfg.get("PayloadCol", "payload"), list(cfg.get("Passthrough", []))
        ).apply
    if fmt in ("otlp_logv1", "otlp_metricv1", "otlp_tracev1"):
        from ..operators.otel import OtelLogParser, OtelMetricParser, OtelTraceParser
        from ..operators.otlp_pb import OtelPbToJson

        signal = {"otlp_logv1": "log", "otlp_metricv1": "metric",
                  "otlp_tracev1": "trace"}[fmt]
        parser = {
            "log": OtelLogParser(),
            "metric": OtelMetricParser(),
            "trace": OtelTraceParser(),
        }[signal]
        front = OtelPbToJson(signal, binary_encoding=cfg.get("BinaryEncoding", "hex"))
        return lambda df: parser.apply(front.apply(df))
    if fmt == "raw":
        return lambda df: df
    raise KeyError(f"unknown decoder format: {fmt}")
