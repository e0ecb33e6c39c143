"""Flusher-side protocol converters: event frames → serialized sink payloads.

The reference's flushers (kafka v2, http, pulsar, …) serialize event groups
through ``pkg/protocol/converter``:

- protocol/encoding matrix + the tag-conversion maps
  (``converter.go:28-121``), per-log content/tag split with ``__tag__:``
  prefix handling, k8s renames, host.ip/log.topic injection and
  TagKeyRenameMap semantics (``converter.go:230-315`` convertLogToMap /
  addTagIfRequired);
- ``custom_single`` — one JSON object per log, ``{"time","contents","tags"}``
  with ProtocolKeyRenameMap (``custom_single_log.go:32-95``, HTML escaping
  disabled);
- ``custom_single_flatten`` — contents+tags merged flat, OnlyContents option
  (``converter_single_log_flatten.go:23-81``);
- ``jsonline`` — the flatten JSONs newline-joined (``jsonline.go:16-42``);
- ``influxdb`` — metric-shaped logs re-encoded as influx line protocol via
  metricReader (``influxdb_metric.go:32-86``,
  ``converter_sls_metric.go:93-233``);
- ``raw`` — byte-array events joined with a separator
  (``converter_raw.go:24-54``).

Spark mapping: all converters are Column-expression serializers over the
event frame (``fields: map<string,string>`` + top-level meta columns) —
JVM-side, codegen-able, no Python in the hot path. Go's ``json.Marshal``
emits map keys SORTED, so JSON objects are rendered from
``array_sort(map_entries(m))``; Go disables HTML escaping here
(SetEscapeHTML(false)), which matches Spark's ``to_json`` escaping exactly.

Group-level framing (jsonline / influx / raw join whole groups into one
payload) is a ``groupBy(...).agg(array_join(array_sort(...)))`` over the
per-row serialization — at scale that is one partial-aggregatable shuffle on
the sink key, mirroring the reference's per-LogGroup batching.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Mapping

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.types import BinaryType, StructField

from .base import FIELDS, Operator, group_rows

# converter.go:79-98 — agent tag names → public names.
TAG_CONVERSION: dict[str, str] = {
    "__path__": "log.file.path",
    "__hostname__": "host.name",
    "_node_ip_": "k8s.node.ip",
    "_node_name_": "k8s.node.name",
    "_namespace_": "k8s.namespace.name",
    "_pod_name_": "k8s.pod.name",
    "_pod_ip_": "k8s.pod.ip",
    "_pod_uid_": "k8s.pod.uid",
    "_container_name_": "container.name",
    "_container_ip_": "container.ip",
    "_image_name_": "container.image.name",
}

# converter.go:94-98 — k8s overrides for the container tags.
K8S_TAG_CONVERSION: dict[str, str] = {
    "_container_name_": "k8s.container.name",
    "_container_ip_": "k8s.container.ip",
    "_image_name_": "k8s.container.image.name",
}

_TAG_PREFIX = "__tag__:"


def json_quote(c: Column) -> Column:
    """JSON-escape + quote a string via to_json(array(x)) → strip brackets
    (byte-identical to Go json.Marshal of a string with HTML escaping off)."""
    arr = F.to_json(F.array(c))
    return arr.substr(F.lit(2), F.length(arr) - 2)


def _conv_map(k8s: bool) -> dict[str, str]:
    conv = dict(TAG_CONVERSION)
    if k8s:
        conv.update(K8S_TAG_CONVERSION)
    return conv


def _lit_map(d: Mapping[str, str]) -> Column:
    args: list[Column] = []
    for k, v in d.items():
        args.append(F.lit(k))
        args.append(F.lit(v))
    return F.create_map(*args) if args else F.expr("map()")


@dataclass
class LogGroupMaps:
    """convertLogToMap (converter.go:230-315): split an event's ``fields``
    map into (contents, tags) with tag-name conversion, group-tag merge,
    host.ip / log.topic injection and TagKeyRenameMap semantics
    (rename-to-empty drops the tag; addTagIfRequired converter.go:309-315).

    ``group_tags`` are the LogGroup.LogTags (static config or column values);
    ``source``/``topic`` are columns or literals (LogGroup.Source/Topic)."""

    tag_key_rename: Mapping[str, str] = field(default_factory=dict)
    group_tags: Mapping[str, Column | str] = field(default_factory=dict)
    source: Column | str = ""
    topic: Column | str = ""
    k8s: bool = False

    def _rename(self, name: Column) -> Column:
        """addTagIfRequired: in map + empty → drop (render NULL key, filtered
        later); in map + non-empty → renamed; absent → unchanged."""
        if not self.tag_key_rename:
            return name
        ren = _lit_map(dict(self.tag_key_rename))
        hit = F.element_at(ren, name)
        return (
            F.when(hit.isNull(), name)
            .when(hit == "", F.lit(None).cast("string"))
            .otherwise(hit)
        )

    def maps(self, fields: Column) -> tuple[Column, Column]:
        conv = _lit_map(_conv_map(self.k8s))
        entries = F.map_entries(fields)

        # Classify each content entry: dest 'c' (content) / 't' (tag) /
        # 'x' (dropped __tag__:__user_defined_id__).
        def classify(e: Column) -> Column:
            k, v = e.getField("key"), e.getField("value")
            is_pref = k.startswith(_TAG_PREFIX)
            bare_name = F.substring(k, len(_TAG_PREFIX) + 1, 2**30)
            converted_bare = F.element_at(conv, k)
            tag_name = F.when(is_pref, F.coalesce(F.element_at(conv, bare_name), bare_name)).otherwise(
                converted_bare
            )
            dest = (
                F.when(k == "__log_topic__", F.lit("t"))
                .when(k == _TAG_PREFIX + "__user_defined_id__", F.lit("x"))
                .when(is_pref | converted_bare.isNotNull(), F.lit("t"))
                .otherwise(F.lit("c"))
            )
            name = F.when(k == "__log_topic__", F.lit("log.topic")).otherwise(
                F.coalesce(tag_name, k)
            )
            return F.struct(dest.alias("d"), name.alias("k"), v.alias("v"))

        classified = F.transform(entries, classify)
        kv = lambda e: F.struct(e.getField("k").alias("key"), e.getField("v").alias("value"))  # noqa: E731
        contents = F.map_from_entries(
            F.transform(F.filter(classified, lambda e: e.getField("d") == "c"), kv)
        )
        content_tags = F.transform(
            F.filter(classified, lambda e: e.getField("d") == "t"),
            lambda e: F.struct(
                self._rename(e.getField("k")).alias("key"), e.getField("v").alias("value")
            ),
        )

        # LogGroup.LogTags (skip __user_defined_id__/__pack_id__, convert
        # names, rename) then host.ip = Source, log.topic = Topic.
        conv_py = _conv_map(self.k8s)
        extra: list[Column] = []
        for k, v in self.group_tags.items():
            if k in ("__user_defined_id__", "__pack_id__"):
                continue
            name = conv_py.get(k, k)
            vc = v if isinstance(v, Column) else F.lit(v)
            extra.append(
                F.struct(
                    self._rename(F.lit(name)).alias("key"), vc.cast("string").alias("value")
                )
            )
        src = self.source if isinstance(self.source, Column) else F.lit(self.source)
        extra.append(
            F.struct(self._rename(F.lit("host.ip")).alias("key"), src.cast("string").alias("value"))
        )
        topic = self.topic if isinstance(self.topic, Column) else F.lit(self.topic)
        topic_entry = F.when(
            topic != "",
            F.array(
                F.struct(
                    self._rename(F.lit("log.topic")).alias("key"),
                    topic.cast("string").alias("value"),
                )
            ),
        ).otherwise(F.array().cast("array<struct<key:string,value:string>>"))

        all_tags = F.concat(content_tags, F.array(*extra), topic_entry)
        # Dropped tags (rename-to-empty) have NULL keys; later entries win
        # (Go map writes in this order) via mapKeyDedupPolicy=LAST_WIN.
        tags = F.map_from_entries(F.filter(all_tags, lambda e: e.getField("key").isNotNull()))
        return contents, tags


def sorted_json_object(entries: Column) -> Column:
    """array<struct<k: raw key, v: rendered JSON value>> → ``{"k":v,...}``
    with keys sorted (Go map marshal order)."""
    rendered = F.transform(
        F.array_sort(entries),
        lambda e: F.concat(json_quote(e.getField("k")), F.lit(":"), e.getField("v")),
    )
    return F.concat(F.lit("{"), F.array_join(rendered, ","), F.lit("}"))


def _map_json(m: Column) -> Column:
    entries = F.transform(
        F.map_entries(m),
        lambda e: F.struct(
            e.getField("key").alias("k"), json_quote(e.getField("value")).alias("v")
        ),
    )
    return sorted_json_object(entries)


@dataclass
class CustomSingleConverter(Operator):
    """``custom_single`` / ``custom_single_flatten`` with Encoding=json
    (custom_single_log.go:32-95 / converter_single_log_flatten.go:23-81):
    per-event JSON into ``out_col``. ``time_col`` is the log's uint32 time
    (seconds). ProtocolKeyRenameMap renames the "time"/"contents"/"tags"
    envelope keys (flatten only uses "time")."""

    flatten: bool = False
    only_contents: bool = False
    tag_key_rename: Mapping[str, str] = field(default_factory=dict)
    protocol_key_rename: Mapping[str, str] = field(default_factory=dict)
    group_tags: Mapping[str, Column | str] = field(default_factory=dict)
    source: Column | str = ""
    topic: Column | str = ""
    k8s: bool = False
    time_col: str = "log_time_sec"
    out_col: str = "serialized"

    def apply(self, df: DataFrame) -> DataFrame:
        lg = LogGroupMaps(
            tag_key_rename=self.tag_key_rename,
            group_tags=self.group_tags,
            source=self.source,
            topic=self.topic,
            k8s=self.k8s,
        )
        contents, tags = lg.maps(F.col(FIELDS))
        t_key = self.protocol_key_rename.get("time", "time")
        time_json = F.col(self.time_col).cast("long").cast("string")

        if self.flatten:
            merged = contents if self.only_contents else F.map_concat(contents, tags)
            ent = F.transform(
                F.map_entries(merged),
                lambda e: F.struct(
                    e.getField("key").alias("k"), json_quote(e.getField("value")).alias("v")
                ),
            )
            # Go writes the time key into the same map — it overwrites any
            # same-named flat key.
            ent = F.filter(ent, lambda e: e.getField("k") != t_key)
            ent = F.concat(
                ent, F.array(F.struct(F.lit(t_key).alias("k"), time_json.alias("v")))
            )
            out = sorted_json_object(ent)
        else:
            c_key = self.protocol_key_rename.get("contents", "contents")
            g_key = self.protocol_key_rename.get("tags", "tags")
            ent = F.array(
                F.struct(F.lit(t_key).alias("k"), time_json.alias("v")),
                F.struct(F.lit(c_key).alias("k"), _map_json(contents).alias("v")),
                F.struct(F.lit(g_key).alias("k"), _map_json(tags).alias("v")),
            )
            out = sorted_json_object(ent)
        return df.withColumn(self.out_col, out)


def jsonline_stream(
    df: DataFrame, group_cols: list[str], order_col: str, line_col: str = "serialized"
) -> DataFrame:
    """jsonline.go:16-42 — newline-join the flatten JSONs of a group into one
    payload (deterministic order via ``order_col``). One partial-agg shuffle
    on the sink key."""
    pair = F.struct(F.col(order_col), F.col(line_col))
    return df.groupBy(*group_cols).agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list(pair)), lambda s: s.getField(line_col)),
            "\n",
        ).alias("stream")
    )


# ---------------------------------------------------------------------------
# influxdb line-protocol serializer (the inverse of operators/influx.py)
# ---------------------------------------------------------------------------

_LBL = "array<struct<k:string,v:string>>"
_ACC = f"struct<arr:{_LBL},pend:string,bad:boolean>"


def parse_sls_labels(labels: Column) -> Column:
    """Parse ``k1#$#v1|k2#$#v2`` → sorted array<struct<k,v>> with the
    reference's recovery semantics (converter_sls_metric.go:101-162
    readSortedLabels): a ``|``-segment without ``#$#`` extends the PREVIOUS
    label's value when one exists, else accumulates into the pending key;
    a pending key left at end-of-input is an error → NULL result."""
    segs = F.split(labels, r"\|", -1)

    def step(acc: Column, seg: Column) -> Column:
        pos = F.locate("#$#", seg)
        arr, pend = acc.getField("arr"), acc.getField("pend")
        n = F.size(arr)
        k0 = F.substring(seg, 1, pos - 1)
        v0 = F.substring(seg, pos + 3, 2**30)
        key = F.when(pend == "", k0).otherwise(F.concat(pend, F.lit("|"), k0))
        with_kv = F.struct(
            F.concat(arr, F.array(F.struct(key.alias("k"), v0.alias("v")))).alias("arr"),
            F.lit("").alias("pend"),
            acc.getField("bad").alias("bad"),
        )
        extended = F.struct(
            F.transform(
                arr,
                lambda x, i: F.when(
                    i == n - 1,
                    F.struct(
                        x.getField("k").alias("k"),
                        F.concat(x.getField("v"), F.lit("|"), seg).alias("v"),
                    ),
                ).otherwise(x),
            ).alias("arr"),
            pend.alias("pend"),
            acc.getField("bad").alias("bad"),
        )
        pended = F.struct(
            arr.alias("arr"),
            F.when(pend == "", seg).otherwise(F.concat(pend, F.lit("|"), seg)).alias("pend"),
            acc.getField("bad").alias("bad"),
        )
        return F.when(pos > 0, with_kv).when(n > 0, extended).otherwise(pended)

    acc0 = F.expr(f"CAST(struct(array(), '', false) AS {_ACC})")
    done = F.aggregate(
        F.when(labels == "", F.array().cast("array<string>")).otherwise(segs), acc0, step
    )
    ok = done.getField("pend") == ""
    return F.when(ok, F.array_sort(done.getField("arr")))


def _esc_measurement(c: Column) -> Column:
    return F.regexp_replace(c, r"([, ])", r"\\$1")


def _esc_tag(c: Column) -> Column:
    return F.regexp_replace(c, r"([,= ])", r"\\$1")


def _esc_string_field(c: Column) -> Column:
    return F.regexp_replace(F.regexp_replace(c, r"\\", r"\\\\"), '"', r'\\"')


_BOOL_TRUE = ("1", "t", "T", "true", "TRUE", "True")
_BOOL_FALSE = ("0", "f", "F", "false", "FALSE", "False")


@dataclass
class InfluxMetricSerializer(Operator):
    """influxdb_metric.go:32-86 — metric-shaped logs (``__name__``,
    ``__labels__``, ``__value__``, ``__time_nano__`` [+ ``__type__``,
    ``__field__``]) → influx line-protocol ``line`` column.

    Field-name split per metricReader.readNames (converter_sls_metric.go:
    93-99): ``__field__`` empty/"value" → field "value"; else the ``:field``
    suffix is stripped from the metric name. Value typing per readValue
    (:172-183): __type__ int → ``NNi``, bool → true/false, string → quoted,
    default float (exact strconv 'g' rendering — gofmt.go_g, as the
    decoder). A log the reader would reject (missing name/value, bad number,
    dangling label key) yields line=NULL — the reference fails the whole
    group there; per-line NULL is the engine's finer-grained analog."""

    out_col: str = "line"

    def apply(self, df: DataFrame) -> DataFrame:
        from .gofmt import go_g

        name = F.coalesce(F.col("__name__"), F.lit(""))
        fieldname = F.coalesce(F.col("__field__") if "__field__" in df.columns else F.lit(None), F.lit(""))
        value = F.coalesce(F.col("__value__"), F.lit(""))
        vtype = F.coalesce(F.col("__type__") if "__type__" in df.columns else F.lit(None), F.lit(""))
        ts = F.coalesce(F.col("__time_nano__"), F.lit(""))
        labels = F.coalesce(F.col("__labels__"), F.lit(""))

        plain = (fieldname == "") | (fieldname == "value")
        out_field = F.when(plain, F.lit("value")).otherwise(fieldname)
        suffix = F.concat(F.lit(":"), fieldname)
        trimmed = name.substr(F.lit(1), F.length(name) - F.length(suffix))
        out_name = F.when(plain, name).otherwise(
            F.when(name.endswith(suffix), trimmed).otherwise(name)
        )

        lbl = parse_sls_labels(labels)
        tag_part = F.when(
            F.size(F.coalesce(lbl, F.array().cast(_LBL))) > 0,
            F.concat(
                F.lit(","),
                F.array_join(
                    F.transform(
                        lbl,
                        lambda e: F.concat(
                            _esc_tag(e.getField("k")), F.lit("="), _esc_tag(e.getField("v"))
                        ),
                    ),
                    ",",
                ),
            ),
        ).otherwise(F.lit(""))

        as_double = value.try_cast("double")
        as_long = F.when(value.rlike("^[+-]?[0-9]+$"), value.try_cast("bigint"))
        float_ok = (
            value.rlike(r"^[+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?$")
            & as_double.isNotNull()
            # strconv.ParseFloat flags 1e999 as ErrRange → the line fails
            & as_double.between(-1.7976931348623157e308, 1.7976931348623157e308)
        )
        val_txt = (
            F.when(vtype == "string", F.concat(F.lit('"'), _esc_string_field(value), F.lit('"')))
            .when(vtype == "bool", F.when(value.isin(*_BOOL_TRUE), F.lit("true")).when(value.isin(*_BOOL_FALSE), F.lit("false")))
            .when(vtype == "int", F.when(as_long.isNotNull(), F.concat(as_long.cast("string"), F.lit("i"))))
            .otherwise(F.when(float_ok, go_g(as_double)))
        )

        ts_ok = (ts == "") | ts.rlike("^[+-]?[0-9]+$") & ts.try_cast("bigint").isNotNull()
        ts_part = F.when(ts == "", F.lit("")).otherwise(
            F.concat(F.lit(" "), ts.try_cast("bigint").cast("string"))
        )

        valid = (
            (name != "")
            & ((value != "") | (vtype == "string"))
            & lbl.isNotNull()
            & val_txt.isNotNull()
            & ts_ok
        )
        line = F.when(
            valid,
            F.concat(
                _esc_measurement(out_name),
                tag_part,
                F.lit(" "),
                _esc_tag(out_field),
                F.lit("="),
                val_txt,
                ts_part,
            ),
        )
        return df.withColumn(self.out_col, line)


def influx_group_stream(df: DataFrame, group_cols: list[str], order_col: str) -> DataFrame:
    """One payload per group: every line newline-terminated, concatenated in
    order (influxdb_metric.go:68-77 encoder buffer)."""
    pair = F.struct(F.col(order_col), F.col("line"))
    return df.filter(F.col("line").isNotNull()).groupBy(*group_cols).agg(
        F.concat(
            F.array_join(
                F.transform(F.array_sort(F.collect_list(pair)), lambda s: s.getField("line")),
                "\n",
            ),
            F.lit("\n"),
        ).alias("stream")
    )


def raw_group_stream(
    df: DataFrame, group_cols: list[str], order_col: str, sep: str = "", content_col: str = "content"
) -> DataFrame:
    """converter_raw.go:41-54 getByteStreamWithSep — ByteArray events joined
    with the configured separator per group."""
    pair = F.struct(F.col(order_col), F.col(content_col))
    return df.groupBy(*group_cols).agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list(pair)), lambda s: s.getField(content_col)),
            sep,
        ).alias("stream")
    )


def loki_sink_frame(
    df: DataFrame,
    dynamic_labels: list[str],
    static_labels: Mapping[str, str] | None = None,
    conv: "CustomSingleConverter | None" = None,
    time_col: str = "log_time_sec",
) -> DataFrame:
    """flusher_loki (plugins/flusher/loki/flusher_loki.go:152-227): each log
    serializes through the converter (default custom_single/json) and ships
    with a label set — DynamicLabels resolved per findTargetValues
    (``content.``/``tag.`` prefixes, misses omitted), prefixes trimmed
    (buildLokiLabels, Loki label names reject '.'), merged over StaticLabels
    (the client's external labels: applied only when the instance label is
    absent). Output columns: ``labels`` map, ``ts`` (seconds), ``line``.

    At scale the loki push batches by label set — ``repartition(labels)``
    before the sink write is the one shuffle."""
    from .fmtstr import _target_value

    conv = conv or CustomSingleConverter(time_col=time_col)
    out = conv.apply(df)
    lg = LogGroupMaps(
        tag_key_rename=conv.tag_key_rename,
        group_tags=conv.group_tags,
        source=conv.source,
        topic=conv.topic,
        k8s=conv.k8s,
    )
    contents, tags = lg.maps(F.col(FIELDS))
    entries: list[Column] = []
    for f in dynamic_labels:
        name = f.split(".", 1)[1] if f.startswith(("content.", "tag.")) else f
        entries.append(
            F.struct(
                F.lit(name).alias("key"),
                _target_value(f, contents, tags, dict(conv.tag_key_rename)).alias("value"),
            )
        )
    dyn = F.map_from_entries(
        F.filter(F.array(*entries), lambda e: e.getField("value").isNotNull())
    ) if entries else F.expr("map()").cast("map<string,string>")
    static = _lit_map(dict(static_labels or {}))
    # external labels fill only the keys the instance set lacks
    missing_static = F.map_filter(static, lambda k, _v: F.element_at(dyn, k).isNull())
    labels = F.map_concat(dyn, missing_static)
    return out.select(
        labels.alias("labels"),
        F.col(time_col).cast("long").alias("ts"),
        F.col(conv.out_col).alias("line"),
    )


def es_bulk_sink_frames(
    df: DataFrame,
    index_pattern: str,
    group_cols: list[str],
    order_col: str,
    conv: "CustomSingleConverter | None" = None,
    time_col: str = "log_time_sec",
) -> DataFrame:
    """flusher_elasticsearch bulk bodies (flusher_elasticsearch.go:189-235):
    each log serializes through the converter (default custom_single/json)
    and is preceded by its ``{"index": {"_index": "<idx>"}}`` action line —
    the index static, or resolved per log via fmtstr.FormatIndex
    (``%{+yyyy.MM.dd}`` date parts from the log time, ``%{content.x}`` /
    ``%{tag.x}`` field refs). One bulk request body per sink group: all
    action/doc lines newline-joined with a trailing newline.

    One partial-agg shuffle keyed by the sink columns; at 100 TB the group
    key IS the bulk-request routing key, so the same exchange that builds
    the body co-locates the HTTP batches."""
    from .fmtstr import es_index

    conv = conv or CustomSingleConverter(time_col=time_col)
    out = conv.apply(df)
    lg = LogGroupMaps(
        tag_key_rename=conv.tag_key_rename,
        group_tags=conv.group_tags,
        source=conv.source,
        topic=conv.topic,
        k8s=conv.k8s,
    )
    contents, tags = lg.maps(F.col(FIELDS))
    idx = es_index(
        index_pattern, contents, tags, F.col(time_col), dict(conv.tag_key_rename)
    )
    unit = F.concat(
        F.lit('{"index": {"_index": "'), idx, F.lit('"}}\n'), F.col(conv.out_col)
    )
    pair = F.struct(F.col(order_col), unit.alias("u"))
    return (
        out.select(*group_cols, pair.alias("__p__"))
        .groupBy(*group_cols)
        .agg(
            F.concat(
                F.array_join(
                    F.transform(F.array_sort(F.collect_list("__p__")), lambda s: s.getField("u")),
                    "\n",
                ),
                F.lit("\n"),
            ).alias("body")
        )
    )


def _sink_frames(aux: DataFrame, group_cols: list[str], pack, order_col: str | None) -> DataFrame:
    """The OTLP directions' one ``group_rows`` stage: one wire payload per
    sink group of ``aux``, its rows in ``__ord__`` order when ``order_col``
    is given."""
    cols = [c for c in aux.columns if c not in group_cols]
    payload = [StructField("payload", BinaryType())]
    return group_rows(aux, group_cols, cols, payload, pack, "__ord__" if order_col else None)


def otlp_logs_sink_frames(
    df: DataFrame,
    group_cols: list[str],
    source: Column | str = "",
    topic: Column | str = "",
    machine_uuid: Column | str = "",
    group_tags: Mapping[str, Column | str] | None = None,
    tag_key_rename: Mapping[str, str] | None = None,
    ts_sec_col: str = "ts_sec",
    order_col: str | None = None,
    k8s: bool = False,
) -> DataFrame:
    """flusher_otlp Version=v1, LogGroup path
    (plugins/flusher/opentelemetry/flusher_otlp.go:217-230
    convertLogGroupToRequest → pkg/protocol/converter/otlp.go:43-103
    ConvertToOtlpResourseLogs): one sink group → ONE ResourceLogs wire
    payload (LogsData bytes with a single ScopeLogs). Resource attributes =
    non-empty source/topic/machine_uuid plus the raw LogTags; per record:
    attributes = contents minus content/level overlaid with the
    convertLogToMap tags, timestamp = log.Time·1e9, body =
    contents['content'], severityText = contents['level'] (the reference's
    ``tags[level]`` fallback at otlp.go:96 looks up the empty-string key —
    dead code, reproduced by omission).

    Spark shape: contents/tags split stays Column-tier (LogGroupMaps);
    one Arrow stage per sink group (``_sink_frames``) packs wire bytes with
    the otlp_pb encoders — one shuffle on the sink key, the same treatment as
    PromRemoteWriteEncoder / loki_sink_frame. Roundtrip-pinned against
    otlp_pb.decode_logs (flusher_otlp query). Divergences: ObservedTimestamp
    (wall-clock in the reference, nondeterministic there) is omitted;
    attribute wire order is sorted-by-key here vs Go's random map iteration
    (both collapse to the same sorted view on decode)."""
    from . import otlp_pb as W

    lg = LogGroupMaps(
        tag_key_rename=dict(tag_key_rename or {}),
        group_tags=dict(group_tags or {}),
        source=source,
        topic=topic,
        k8s=k8s,
    )
    contents, tags = lg.maps(F.col(FIELDS))
    gt_entries = [
        F.struct(
            F.lit(k).alias("key"),
            (v if isinstance(v, Column) else F.lit(v)).cast("string").alias("value"),
        )
        for k, v in (group_tags or {}).items()
    ]
    aux = df.select(
        *group_cols,
        *([F.col(order_col).alias("__ord__")] if order_col else []),
        contents.alias("__contents__"),
        tags.alias("__tags__"),
        (source if isinstance(source, Column) else F.lit(source)).cast("string").alias("__src__"),
        (topic if isinstance(topic, Column) else F.lit(topic)).cast("string").alias("__topic__"),
        (machine_uuid if isinstance(machine_uuid, Column) else F.lit(machine_uuid))
        .cast("string")
        .alias("__uuid__"),
        (
            F.array(*gt_entries)
            if gt_entries
            else F.expr("CAST(array() AS array<struct<key:string,value:string>>)")
        ).alias("__gtags__"),
        # null → 0, the proto3 default: the packed record has no timestamp
        F.coalesce(F.col(ts_sec_col).cast("long"), F.lit(0)).alias("__ts__"),
    )
    def pack(rows: list[dict]) -> list[tuple]:
        r0 = rows[0]
        res_attrs = [
            W.encode_attr(key, r0[c])
            for key, c in (("source", "__src__"), ("topic", "__topic__"),
                           ("machine_uuid", "__uuid__"))
            if r0[c]  # the != "" gates at otlp.go:47-57
        ]
        res_attrs += [W.encode_attr(t["key"], t["value"]) for t in r0["__gtags__"]]
        records = []
        for r in rows:
            cont = dict(r["__contents__"] or ())
            merged = {k: v for k, v in cont.items() if k not in ("content", "level")}
            merged.update(r["__tags__"] or ())
            records.append(
                W.encode_log_record_pb(
                    r["__ts__"] * 1_000_000_000,
                    severity_text=cont.get("level", ""),
                    body=cont.get("content"),
                    attrs=[W.encode_attr(k, merged[k]) for k in sorted(merged)],
                )
            )
        return [(W.encode_logs_data(records, resource_attrs=res_attrs),)]

    return _sink_frames(aux, group_cols, pack, order_col)


def otlp_metrics_sink_frames(
    df: DataFrame,
    group_cols: list[str],
    name_col: str = "metric_name",
    type_col: str = "metric_type",
    tags_col: str = "tags",
    value_col: str = "value",
    ts_ns_col: str = "ts_ns",
    resource_tags: Mapping[str, Column | str] | None = None,
    order_col: str | None = None,
) -> DataFrame:
    """flusher_otlp Export path, metric direction
    (ConvertPipelineEventToOtlpMetric, pkg/protocol/converter/otlp.go:230-289):
    each metric event becomes one Metric — gauge → Gauge NumberDataPoint,
    counter → Sum with DELTA aggregation temporality (:252-254) — packed
    into ONE MetricsData wire payload per sink group (group meta →
    resource attributes, setAttributes :150). Untyped metrics are skipped
    (:246-247). Same Spark shape as the logs direction: one
    ``_sink_frames`` shuffle on the sink key, wire packing in Python, everything
    upstream Column-tier. Roundtrip-pinned against otlp_pb.decode_metrics."""
    from . import otlp_pb as W

    rt_entries = [
        F.struct(
            F.lit(k).alias("key"),
            (v if isinstance(v, Column) else F.lit(v)).cast("string").alias("value"),
        )
        for k, v in (resource_tags or {}).items()
    ]
    aux = df.select(
        *group_cols,
        *([F.col(order_col).alias("__ord__")] if order_col else []),
        F.col(name_col).alias("__name__"),
        F.col(type_col).alias("__type__"),
        F.col(tags_col).alias("__tags__"),
        F.col(value_col).cast("double").alias("__val__"),
        # null → 0, the proto3 default: the packed data point has no timestamp
        F.coalesce(F.col(ts_ns_col).cast("long"), F.lit(0)).alias("__ts__"),
        (
            F.array(*rt_entries)
            if rt_entries
            else F.expr("CAST(array() AS array<struct<key:string,value:string>>)")
        ).alias("__rtags__"),
    )
    def pack(rows: list[dict]) -> list[tuple]:
        res_attrs = [W.encode_attr(t["key"], t["value"]) for t in rows[0]["__rtags__"]]
        metrics = []
        for r in rows:
            tags = dict(r["__tags__"] or ())
            dp = W.encode_number_dp(
                r["__ts__"],
                as_double=r["__val__"],
                attrs=[W.encode_attr(k, tags[k]) for k in sorted(tags)],
            )
            if r["__type__"] == "gauge":
                metrics.append(W.encode_gauge_metric(r["__name__"], [dp]))
            elif r["__type__"] == "counter":
                # pmetric.AggregationTemporalityDelta == 1
                metrics.append(
                    W.encode_sum_metric(r["__name__"], [dp], False, temporality=1)
                )
            # untyped: skipped (otlp.go:246-247)
        return [(W.encode_metrics_data(metrics, res_attrs),)]

    return _sink_frames(aux, group_cols, pack, order_col)


def otlp_traces_sink_frames(
    df: DataFrame,
    group_cols: list[str],
    trace_id_col: str = "trace_id",
    span_id_col: str = "span_id",
    parent_span_id_col: str = "parent_span_id",
    name_col: str = "span_name",
    kind_col: str = "kind",
    start_ns_col: str = "start_ns",
    end_ns_col: str = "end_ns",
    tags_col: str = "tags",
    status_col: str = "status_code",
    status_message_col: str | None = None,
    resource_tags: Mapping[str, Column | str] | None = None,
    scope_name: str = "",
    scope_version: str = "",
    order_col: str | None = None,
) -> DataFrame:
    """flusher_otlp Export path, trace direction
    (ConvertPipelineEventToOtlpSpan, pkg/protocol/converter/otlp.go:291-359):
    span rows → one TracesData wire payload per sink group. Hex trace/span/
    parent ids decode to bytes; a malformed or wrong-length id becomes the
    EMPTY id exactly like convertTraceID/convertSpanID (:498-532, the error
    branch leaves the zero id). Same one-shuffle ``_sink_frames`` shape as the
    logs/metrics directions; roundtrip-pinned against otlp_pb.decode_traces."""
    from . import otlp_pb as W

    rt_entries = [
        F.struct(
            F.lit(k).alias("key"),
            (v if isinstance(v, Column) else F.lit(v)).cast("string").alias("value"),
        )
        for k, v in (resource_tags or {}).items()
    ]
    cols = {
        "__tid__": trace_id_col, "__sid__": span_id_col,
        "__pid__": parent_span_id_col, "__name__": name_col,
        "__kind__": kind_col, "__start__": start_ns_col, "__end__": end_ns_col,
        "__tags__": tags_col, "__status__": status_col,
    }
    aux = df.select(
        *group_cols,
        *([F.col(order_col).alias("__ord__")] if order_col else []),
        *[F.col(src).alias(dst) for dst, src in cols.items()],
        (F.col(status_message_col) if status_message_col else F.lit("")).alias(
            "__smsg__"
        ),
        (
            F.array(*rt_entries)
            if rt_entries
            else F.expr("CAST(array() AS array<struct<key:string,value:string>>)")
        ).alias("__rtags__"),
    )
    def hex_id(s, width: int) -> bytes:
        """convertTraceID/convertSpanID: bad hex or wrong length → empty id."""
        try:
            b = bytes.fromhex(s or "")
        except ValueError:
            return b""
        return b if len(b) == width else b""

    def pack(rows: list[dict]) -> list[tuple]:
        res_attrs = [W.encode_attr(t["key"], t["value"]) for t in rows[0]["__rtags__"]]
        spans = []
        for r in rows:
            tags = dict(r["__tags__"] or ())
            spans.append(
                W.encode_span_pb(
                    hex_id(r["__tid__"], 16),
                    hex_id(r["__sid__"], 8),
                    r["__name__"] or "",
                    r["__kind__"] or 0,
                    r["__start__"] or 0,
                    r["__end__"] or 0,
                    attrs=[W.encode_attr(k, tags[k]) for k in sorted(tags)],
                    status_code=r["__status__"] or 0,
                    parent_span_id=hex_id(r["__pid__"], 8),
                    status_message=r["__smsg__"] or "",
                )
            )
        return [(W.encode_traces_data(res_attrs, scope_name, scope_version, spans),)]

    return _sink_frames(aux, group_cols, pack, order_col)


def _canonical_mime_key(k: str) -> str:
    """net/textproto CanonicalMIMEHeaderKey: each '-'-separated token gets
    an upper first letter, lower rest ("content-type" → "Content-Type")."""
    return "-".join(t[:1].upper() + t[1:].lower() for t in k.split("-"))


def _go_query_escape(c: Column) -> Column:
    """Go url.QueryEscape via Java URLEncoder, patched on the two chars the
    implementations disagree about: Go keeps '~' (Java emits %7E) and
    escapes '*' (Java keeps it)."""
    enc = F.url_encode(c)
    return F.replace(
        F.replace(enc, F.lit("%7E"), F.lit("~")), F.lit("*"), F.lit("%2A")
    )


def http_sink_frames(
    df: DataFrame,
    remote_url: str,
    query: Mapping[str, str] | None = None,
    headers: Mapping[str, str] | None = None,
    compression: str = "",
    encoding: str = "json",
    tag_key_rename: Mapping[str, str] | None = None,
    converter: "CustomSingleConverter | None" = None,
    time_col: str = "log_time_sec",
) -> DataFrame:
    """flusher_http request frames (flusher_http.go:380-643): one POST per
    serialized unit (custom_single → per event) with per-request variable
    substitution. Query/header values carry ``%{content.x}`` / ``%{tag.x}``
    patterns (buildVarKeys → fmtstr.FormatTopic, missing keys fall back to
    the literal key text); query strings render like url.Values.Encode
    (sorted keys, QueryEscape on key and value); header names are
    canonical-MIME-cased like http.Header.Add; Content-Encoding is set from
    ``compression`` (gzip/snappy) and Content-Type defaults from the convert
    encoding (json → application/json, else application/octet-stream)
    unless user-supplied — fillRequestContentType at :624-643.

    Returns (passthrough…, url, headers, body) — the body compression
    itself is the transport layer (bytes unchanged here); pure Column
    expressions, zero shuffle."""
    from .fmtstr import _target_value, compile_keys, format_column

    ren = dict(tag_key_rename or {})
    conv = converter or CustomSingleConverter(
        tag_key_rename=ren, time_col=time_col
    )
    out = conv.apply(df)
    contents, tags = LogGroupMaps(
        tag_key_rename=ren,
        group_tags=conv.group_tags,
        source=conv.source,
        topic=conv.topic,
        k8s=conv.k8s,
    ).maps(F.col(FIELDS))

    def resolve(field: str) -> Column:
        return _target_value(field, contents, tags, ren)

    q = dict(query or {})
    hdrs = {_canonical_mime_key(k): v for k, v in (headers or {}).items()}
    # fillRequestContentType (flusher_http.go:624-643)
    if compression in ("gzip", "snappy"):
        hdrs.setdefault("Content-Encoding", compression)
    hdrs.setdefault(
        "Content-Type",
        "application/json" if encoding == "json" else "application/octet-stream",
    )
    has_vars = any(compile_keys(v) for v in list(q.values()) + list(hdrs.values()))

    def subst(v: str) -> Column:
        return format_column(v, resolve) if has_vars else F.lit(v)

    if q:
        pairs = []
        for k in sorted(q):
            pairs.append(
                F.concat(
                    _go_query_escape(F.lit(k)), F.lit("="), _go_query_escape(subst(q[k]))
                )
            )
        url = F.concat(
            F.lit(remote_url + "?"), F.concat_ws("&", *pairs)
        )
    else:
        url = F.lit(remote_url)
    hdr_entries = F.array(
        *[
            F.struct(F.lit(k).alias("k"), subst(v).alias("v"))
            for k, v in sorted(hdrs.items())
        ]
    )
    passthrough = [c for c in df.columns if c != FIELDS]
    return out.select(
        *passthrough,
        url.alias("url"),
        sorted_json_object(
            F.transform(
                hdr_entries,
                lambda e: F.struct(
                    e.getField("k").alias("k"), json_quote(e.getField("v")).alias("v")
                ),
            )
        ).alias("headers"),
        F.col(conv.out_col).alias("body"),
    )
