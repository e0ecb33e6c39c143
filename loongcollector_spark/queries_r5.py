"""Round-5 oracle queries: the 12 operators that previously had only pytest
goldens (VERDICT r4 item 2) — encrypt, drop/pick_key/drop_last_key,
fields_with_condition, appender, merge-multiline BY_FLAG, aggregator_context,
raw converter, gpu metrics, kafka input wiring, metric-input factory.

Each query synthesizes its fixture deterministically from the events table
(same convention as queries.py). Every ``q_<name>`` here is paired with the
``oracle_<name>`` next to it by ``queries._registry``.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .operators.base import FIELDS, fget, to_events
from .session import configure_existing

_DOC = "'doc-' || lpad(CAST(event_id AS VARCHAR), 8, '0')"


def _ev(spark: SparkSession, sf_dir: str) -> DataFrame:
    configure_existing(spark)
    return spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.concat(F.lit("doc-"), F.lpad(F.col("event_id").cast("string"), 8, "0")).alias(
            "doc_id"
        ),
        "event_id",
        "event_type",
        "user_id",
        "ts",
    )


# --- processor_encrypt -------------------------------------------------------

_ENC_KEY = "00112233445566778899aabbccddeeff"
_ENC_IV = "0102030405060708090a0b0c0d0e0f10"


def q_encrypt_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """processor_encrypt (plugins/processor/encrypt/processor_encrypt.go:41-214):
    AES-128-CBC/PKCS over the source field, hex output. Cross-engine checks:
    the IV prefix is the configured constant, the ciphertext length follows
    PKCS padding exactly (32 + 32·(⌊len/16⌋+1) hex chars), and the
    decrypt-back equals the oracle's plaintext — the AES core itself is
    JVM-side (`aes_encrypt`), so byte-equality is pinned by the roundtrip."""
    from .operators.transforms import Encrypt

    ev = _ev(spark, sf_dir)
    plain = F.concat(
        F.lit("user="), F.col("user_id").cast("string"),
        F.lit(";type="), F.col("event_type"),
    )
    df = to_events(ev.select("doc_id", plain.alias("content")), source_key="secret")
    out = Encrypt(["secret"], _ENC_KEY, _ENC_IV).apply(df)
    cipher = fget("secret")
    return out.select(
        "doc_id",
        F.substring(cipher, 1, 32).alias("iv_prefix"),
        F.length(cipher).alias("cipher_len"),
        F.expr(
            f"cast(aes_decrypt(unhex(element_at({FIELDS}, 'secret')), "
            f"unhex('{_ENC_KEY}'), 'CBC', 'PKCS', '') as string)"
        ).alias("decrypted"),
    )


def oracle_encrypt_roundtrip() -> str:
    return f"""SELECT {_DOC} AS doc_id,
  '{_ENC_IV}' AS iv_prefix,
  CAST(32 + 32 * (floor(length('user=' || user_id || ';type=' || event_type) / 16) + 1) AS INT) AS cipher_len,
  'user=' || user_id || ';type=' || event_type AS decrypted
FROM events"""


# --- processor_drop / pick_key / drop_last_key -------------------------------


def _four_key_fields(ev: DataFrame) -> DataFrame:
    return ev.select(
        "doc_id",
        F.create_map(
            F.lit("alpha"), F.col("event_type"),
            F.lit("beta"), F.col("user_id").cast("string"),
            F.lit("gamma"), (F.col("event_id") % 9).cast("string"),
            F.lit("delta"), F.lit("d"),
        ).alias(FIELDS),
    )


def q_drop_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """processor_drop (plugins/processor/drop/processor_drop.go:24-70):
    remove the configured keys from the fields map."""
    from .operators.transforms import Drop

    out = Drop(["beta", "delta"]).apply(_four_key_fields(_ev(spark, sf_dir)))
    return out.select(
        "doc_id",
        F.array_join(F.array_sort(F.map_keys(F.col(FIELDS))), ",").alias("keys"),
        fget("alpha").alias("alpha"),
        fget("gamma").alias("gamma"),
    )


def oracle_drop_keys() -> str:
    return f"""SELECT {_DOC} AS doc_id, 'alpha,gamma' AS keys,
  event_type AS alpha, CAST(event_id % 9 AS VARCHAR) AS gamma
FROM events"""


def q_pick_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """processor_pick_key (plugins/processor/pickkey/processor_pick_key.go:26-117):
    Include whitelist wins over Exclude blacklist — both modes on the same
    4-key map."""
    from .operators.transforms import PickKey

    base = _four_key_fields(_ev(spark, sf_dir))
    inc = PickKey(include=["alpha", "gamma"]).apply(base)
    exc = PickKey(exclude=["beta"]).apply(base)
    keys = F.array_join(F.array_sort(F.map_keys(F.col(FIELDS))), ",")
    return (
        inc.select("doc_id", keys.alias("keys_included"), fget("alpha").alias("alpha"))
        .join(
            exc.select("doc_id", keys.alias("keys_excluded")),
            "doc_id",
        )
    )


def oracle_pick_key() -> str:
    return f"""SELECT {_DOC} AS doc_id, 'alpha,gamma' AS keys_included,
  event_type AS alpha, 'alpha,delta,gamma' AS keys_excluded
FROM events"""


def q_drop_last_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """processor_drop_last_key (plugins/processor/droplastkey/
    processor_drop_last_key.go:26-95): drop the raw key only when every
    include key is present (parse succeeded) — odd event_ids miss ``k2``,
    so their raw content survives."""
    from .operators.transforms import DropLastKey

    ev = _ev(spark, sf_dir)
    k2 = F.when(F.col("event_id") % 2 == 0, F.col("event_type"))
    fields = F.map_filter(
        F.create_map(
            F.lit("content"), F.concat(F.lit("raw-"), F.col("event_id").cast("string")),
            F.lit("k1"), F.col("user_id").cast("string"),
            F.lit("k2"), k2,
        ),
        lambda k, v: v.isNotNull(),
    )
    out = DropLastKey("content", ["k1", "k2"]).apply(
        ev.select("doc_id", fields.alias(FIELDS))
    )
    return out.select(
        "doc_id",
        fget("content").alias("content"),
        fget("k1").alias("k1"),
        fget("k2").alias("k2"),
    )


def oracle_drop_last_key() -> str:
    return f"""SELECT {_DOC} AS doc_id,
  CASE WHEN event_id % 2 = 0 THEN NULL ELSE 'raw-' || event_id END AS content,
  CAST(user_id AS VARCHAR) AS k1,
  CASE WHEN event_id % 2 = 0 THEN event_type ELSE NULL END AS k2
FROM events"""


# --- processor_fields_with_condition ------------------------------------------


def q_fields_with_condition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """processor_fields_with_condition (plugins/processor/fieldswithcondition/
    processor_fields_with_condition.go:43-299): first matching case wins —
    equals / startwith / regexp relations, AddFields + DropKeys actions,
    unmatched rows pass through untouched."""
    from .operators.transforms import FieldsWithCondition

    ev = _ev(spark, sf_dir)
    base = ev.select(
        "doc_id",
        F.create_map(
            F.lit("event"), F.col("event_type"),
            F.lit("raw"), F.concat(F.lit("r"), F.col("event_id").cast("string")),
        ).alias(FIELDS),
    )
    op = FieldsWithCondition(
        cases=[
            {"when": {"event": ("equals", "click")}, "add": {"bucket": "clicks"}, "drop": ["raw"]},
            {"when": {"event": ("startwith", "p")}, "add": {"bucket": "buys"}},
            {"when": {"event": ("regexp", "^(view|signup)$")}, "add": {"bucket": "misc"}},
        ]
    )
    out = op.apply(base)
    return out.select(
        "doc_id",
        fget("event").alias("event"),
        fget("bucket").alias("bucket"),
        fget("raw").alias("raw"),
    )


def oracle_fields_with_condition() -> str:
    return f"""SELECT {_DOC} AS doc_id, event_type AS event,
  CASE WHEN event_type = 'click' THEN 'clicks'
       WHEN event_type LIKE 'p%' THEN 'buys'
       WHEN event_type IN ('view', 'signup') THEN 'misc' END AS bucket,
  CASE WHEN event_type = 'click' THEN NULL ELSE 'r' || event_id END AS raw
FROM events"""


# --- processor_appender (cloud_meta analog) -----------------------------------


def q_appender_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """processor_appender (plugins/processor/appender/processor_appender.go:31-199):
    append to an existing field (create when absent), SortLabels re-sorts the
    comma-separated k=v set — the cloud-meta/platform-tag appending path."""
    from .operators.transforms import Appender

    ev = _ev(spark, sf_dir)
    labels = F.when(
        F.col("event_id") % 3 != 0,
        F.concat(F.lit("env=prod,app=a"), (F.col("event_id") % 2).cast("string")),
    )
    fields = F.map_filter(
        F.create_map(F.lit("labels"), labels), lambda k, v: v.isNotNull()
    )
    out = Appender(
        key="labels", value="zone=z9,team=core", delimiter=",", sort_labels=True
    ).apply(ev.select("doc_id", fields.alias(FIELDS)))
    return out.select("doc_id", fget("labels").alias("labels"))


def oracle_appender_labels() -> str:
    return f"""SELECT {_DOC} AS doc_id,
  array_to_string(list_sort(string_split(
    CASE WHEN event_id % 3 <> 0
         THEN 'env=prod,app=a' || (event_id % 2) || ',zone=z9,team=core'
         ELSE 'zone=z9,team=core' END, ',')), ',') AS labels
FROM events"""


# --- processor_merge_multiline_log BY_FLAG ------------------------------------


def q_merge_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MergeType=flag (core ProcessorMergeMultilineLogNative.cpp
    MergeLogsByFlag:113): docker/cri partial-log merging — 'P' events join
    with following events until an 'F' closes the record. Even docs carry
    [P,P,F,P,F] (two records), odd docs [F,P,F] (two records)."""
    from .operators.split import LINE_NO_COL, MergeMultilineByFlag

    ev = _ev(spark, sf_dir)
    seg = lambda i, flag: F.struct(  # noqa: E731
        F.lit(i).alias("n"), F.lit(flag).alias("f")
    )
    segs = F.when(
        F.col("event_id") % 2 == 0,
        F.array(seg(1, "P"), seg(2, "P"), seg(3, "F"), seg(4, "P"), seg(5, "F")),
    ).otherwise(F.array(seg(1, "F"), seg(2, "P"), seg(3, "F")))
    lines = ev.select("doc_id", "event_id", F.explode(segs).alias("s")).select(
        "doc_id",
        F.col("s.n").cast("long").alias(LINE_NO_COL),
        F.create_map(
            F.lit("_part_"), F.col("s.f"),
            F.lit("content"),
            F.concat(F.lit("seg"), F.col("s.n").cast("string"), F.lit(";")),
        ).alias(FIELDS),
    )
    out = MergeMultilineByFlag().apply(lines)
    return out.select(
        "doc_id",
        F.col(LINE_NO_COL).cast("long").alias("line_no"),
        fget("content").alias("record"),
    )


def oracle_merge_by_flag() -> str:
    return f"""WITH e AS (SELECT {_DOC} AS doc_id, event_id FROM events)
SELECT doc_id, CAST(1 AS BIGINT) AS line_no,
  CASE WHEN event_id % 2 = 0 THEN 'seg1;seg2;seg3;' ELSE 'seg1;' END AS record
FROM e
UNION ALL
SELECT doc_id,
  CAST(CASE WHEN event_id % 2 = 0 THEN 4 ELSE 2 END AS BIGINT) AS line_no,
  CASE WHEN event_id % 2 = 0 THEN 'seg4;seg5;' ELSE 'seg2;seg3;' END AS record
FROM e"""


# --- aggregator_context --------------------------------------------------------


def q_context_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aggregator_context (plugins/aggregator/context/aggregator_context.go:44-289):
    per-context-key original-order preservation — the pack-id sequence
    assigned by context_ordered must replay each context's rows in source
    order. Verified by replaying doc_ids in pack-seq order per event_type."""
    from .aggregate import PACK_ID_COL, context_ordered

    ev = _ev(spark, sf_dir).filter(F.col("event_id") < 500)
    out = context_ordered(ev, ["event_type"], "event_id")
    seq = F.split(F.col(PACK_ID_COL), "-").getItem(1).cast("long")
    pair = F.struct(seq.alias("s"), F.col("doc_id").alias("d"))
    return (
        out.select("event_type", pair.alias("p"))
        .groupBy("event_type")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list("p")), lambda s: s.getField("d")),
                ",",
            ).alias("replay")
        )
    )


def oracle_context_order() -> str:
    return f"""SELECT event_type,
  string_agg({_DOC}, ',' ORDER BY event_id) AS replay
FROM events WHERE event_id < 500 GROUP BY event_type"""


# --- converter raw -------------------------------------------------------------


def q_flusher_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """converter raw (pkg/protocol/converter/converter_raw.go:24-54
    getByteStreamWithSep): ByteArray events of a group joined with the
    configured separator, in event order."""
    from .operators.convert import raw_group_stream

    ev = _ev(spark, sf_dir)
    pieces = F.array(*[F.lit(i) for i in (1, 2, 3)])
    lines = ev.select("doc_id", "event_id", F.explode(pieces).alias("n")).select(
        "doc_id",
        F.col("n").cast("long").alias("line_no"),
        F.concat(
            F.lit("p"), F.col("n").cast("string"), F.lit("-"),
            F.col("event_id").cast("string"),
        ).alias("content"),
    )
    return raw_group_stream(lines, ["doc_id"], "line_no", sep="|")


def oracle_flusher_raw() -> str:
    return f"""WITH l AS (
  SELECT {_DOC} AS doc_id, event_id, unnest([1, 2, 3]) AS n FROM events
)
SELECT doc_id, string_agg('p' || n || '-' || event_id, '|' ORDER BY n) AS stream
FROM l GROUP BY doc_id"""


# --- service_gpu_metric ---------------------------------------------------------


def _gpu_frame(ev: DataFrame) -> DataFrame:
    eid = F.col("event_id")
    return ev.select(
        "doc_id",
        (eid % 8).cast("int").alias("device"),
        (eid * 12345 + 678).alias("power_usage_uw"),
        (30 + eid % 60).cast("int").alias("temperature"),
        (eid % 101).cast("int").alias("gpu_util"),
        (F.col("user_id") % 101).cast("int").alias("memory_util"),
        (eid * 1048576 + 99999).alias("used_memory_bytes"),
        F.lit(16 * 1024 * 1024 * 1024).cast("long").alias("total_memory_bytes"),
    )


def q_gpu_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """service_gpu_metric (plugins/input/gpu/input_gpu_metric.go:88-120):
    NVML device reading → metric log with the reference's unit conversions
    (µW→W integer division, bytes→MiB)."""
    from .operators.systemv2 import GpuMetrics

    out = GpuMetrics().apply(_gpu_frame(_ev(spark, sf_dir)))
    keys = [
        "metric_type", "device", "gpu_power_usage", "gpu_temperature",
        "gpu_util", "gpu_memory_util", "gpu_used_memory", "gpu_total_memory",
        "gpu_free_memory",
    ]
    return out.select("doc_id", *[fget(k).alias(k) for k in keys])


def oracle_gpu_metrics() -> str:
    total = 16 * 1024 * 1024 * 1024
    return f"""SELECT {_DOC} AS doc_id, 'gpu' AS metric_type,
  CAST(event_id % 8 AS VARCHAR) AS device,
  CAST(CAST(floor((event_id * 12345 + 678) / 1000.0) AS BIGINT) AS VARCHAR) AS gpu_power_usage,
  CAST(30 + event_id % 60 AS VARCHAR) AS gpu_temperature,
  CAST(event_id % 101 AS VARCHAR) AS gpu_util,
  CAST(user_id % 101 AS VARCHAR) AS gpu_memory_util,
  CAST(CAST(floor((event_id * 1048576 + 99999) / 1048576.0) AS BIGINT) AS VARCHAR) AS gpu_used_memory,
  CAST(CAST({total} / 1048576 AS BIGINT) AS VARCHAR) AS gpu_total_memory,
  CAST(CAST(floor(({total} - (event_id * 1048576 + 99999)) / 1048576.0) AS BIGINT) AS VARCHAR) AS gpu_free_memory
FROM events"""


# --- service_kafka wiring --------------------------------------------------------


def q_kafka_input_wiring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """service_kafka wiring (plugins/input/kafka/input_kafka.go:39-76): the
    record→event projection shared by the production readStream path
    (plans/compiler.kafka_records_to_events) — value becomes ``content``,
    topic/partition/offset ride along — followed by the standard JSON parse
    stage, batch-replayed over a kafka-record-shaped frame."""
    from .operators.parse import JsonParser
    from .plans.compiler import kafka_records_to_events

    ev = _ev(spark, sf_dir)
    records = ev.select(
        F.concat(F.lit("t"), (F.col("event_id") % 3).cast("string")).alias("topic"),
        (F.col("event_id") % 4).cast("int").alias("partition"),
        F.col("event_id").alias("offset"),
        F.col("ts").alias("timestamp"),
        F.concat(
            F.lit('{"u": '), F.col("user_id").cast("string"),
            F.lit(', "t": "'), F.col("event_type"), F.lit('"}'),
        ).cast("binary").alias("value"),
    )
    mapped = kafka_records_to_events(records)
    parsed = JsonParser().apply(to_events(mapped))
    return parsed.select(
        F.concat(
            F.lit("doc-"), F.lpad(F.col("offset").cast("string"), 8, "0")
        ).alias("doc_id"),
        "topic", "partition", "offset",
        fget("u").alias("u"), fget("t").alias("t"),
    )


def oracle_kafka_input_wiring() -> str:
    return f"""SELECT {_DOC} AS doc_id,
  't' || (event_id % 3) AS topic,
  CAST(event_id % 4 AS INT) AS partition,
  event_id AS offset,
  CAST(user_id AS VARCHAR) AS u, event_type AS t
FROM events"""


# --- metric-input config factory ---------------------------------------------------


def q_metric_input_factory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metric-input config factory (plans/compiler.compile_metric_input —
    the plugin-Type registry analog of plugin_main's input factory): two
    plugin Types dispatched purely from config dicts — service_gpu_metric
    over a device frame and metric_redis over INFO bodies — exploded into
    (plugin, doc_id, key, value) rows."""
    from .plans.compiler import compile_metric_input

    ev = _ev(spark, sf_dir)
    gpu_stage = compile_metric_input({"Type": "service_gpu_metric"})
    gpu = gpu_stage(_gpu_frame(ev))
    gpu_rows = gpu.select(
        F.lit("service_gpu_metric").alias("plugin"),
        "doc_id",
        F.explode(F.col(FIELDS)).alias("key", "value"),
    )

    body = F.concat(
        F.lit("# Server\r\nredis_version:7.2."),
        (F.col("event_id") % 4).cast("string"),
        F.lit("\r\n\r\n# Clients\r\nconnected_clients:"),
        (F.col("user_id") % 50).cast("string"),
        F.lit("\r\n"),
    )
    url = F.concat(F.lit("tcp://r"), (F.col("user_id") % 3).cast("string"), F.lit(":6379"))
    redis_stage = compile_metric_input({"Type": "metric_redis"})
    redis = redis_stage(to_events(ev.select("doc_id", url.alias("url"), body.alias("content"))))
    redis_rows = redis.select(
        F.lit("metric_redis").alias("plugin"),
        "doc_id",
        F.explode(F.col(FIELDS)).alias("key", "value"),
    ).filter(F.col("key").isin("redis_version", "clients", "server", "port"))
    return gpu_rows.unionByName(redis_rows)


def oracle_metric_input_factory() -> str:
    total = 16 * 1024 * 1024 * 1024
    return f"""WITH g AS (
  SELECT {_DOC} AS doc_id, event_id, user_id FROM events
), gpu AS (
  SELECT 'service_gpu_metric' AS plugin, doc_id, k.key, k.value
  FROM g, LATERAL (VALUES
    ('metric_type', 'gpu'),
    ('device', CAST(event_id % 8 AS VARCHAR)),
    ('gpu_power_usage', CAST(CAST(floor((event_id * 12345 + 678) / 1000.0) AS BIGINT) AS VARCHAR)),
    ('gpu_temperature', CAST(30 + event_id % 60 AS VARCHAR)),
    ('gpu_util', CAST(event_id % 101 AS VARCHAR)),
    ('gpu_memory_util', CAST(user_id % 101 AS VARCHAR)),
    ('gpu_used_memory', CAST(CAST(floor((event_id * 1048576 + 99999) / 1048576.0) AS BIGINT) AS VARCHAR)),
    ('gpu_total_memory', CAST(CAST({total} / 1048576 AS BIGINT) AS VARCHAR)),
    ('gpu_free_memory', CAST(CAST(floor(({total} - (event_id * 1048576 + 99999)) / 1048576.0) AS BIGINT) AS VARCHAR))
  ) k(key, value)
), redis AS (
  SELECT 'metric_redis' AS plugin, doc_id, k.key, k.value
  FROM g, LATERAL (VALUES
    ('redis_version', '7.2.' || (event_id % 4)),
    ('clients', CAST(user_id % 50 AS VARCHAR)),
    ('server', 'r' || (user_id % 3)),
    ('port', '6379')
  ) k(key, value)
)
SELECT * FROM gpu UNION ALL SELECT * FROM redis"""


# --- ext_groupinfo_filter -------------------------------------------------------


def q_group_info_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """extension/group_info_filter (plugins/extension/group_info_filter/
    group_info_filter.go:29-100): keep groups where every tag/meta condition
    holds (regex-search == !reverse; missing key matches against "")."""
    from .operators.filters import GroupInfoFilter

    ev = _ev(spark, sf_dir)
    groups = ev.select(
        "doc_id",
        F.create_map(
            F.lit("app"), F.concat(F.lit("app-"), F.col("event_type")),
            F.lit("env"),
            F.when(F.col("event_id") % 2 == 0, F.lit("prod")).otherwise(F.lit("dev")),
        ).alias("tags"),
        F.create_map(
            F.lit("source"), F.concat(F.lit("s"), (F.col("user_id") % 3).cast("string"))
        ).alias("metas"),
    )
    out = GroupInfoFilter(
        tags={"app": ("app-(click|view)", False), "env": ("^prod$", False)},
        metas={"source": ("s[01]", True)},
    ).apply(groups)
    return out.select(
        "doc_id",
        F.element_at("tags", F.lit("app")).alias("app"),
        F.element_at("tags", F.lit("env")).alias("env"),
        F.element_at("metas", F.lit("source")).alias("source"),
    )


def oracle_group_info_filter() -> str:
    return f"""SELECT {_DOC} AS doc_id, 'app-' || event_type AS app, 'prod' AS env,
  's' || (user_id % 3) AS source
FROM events
WHERE event_type IN ('click', 'view') AND event_id % 2 = 0 AND user_id % 3 = 2"""


# --- service_docker_event -------------------------------------------------------


def q_docker_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """service_docker_event (plugins/input/docker/event/
    input_docker_event.go:60-81 fire): docker event → log with _time_nano_/
    _action_/_type_/_id_ plus actor attributes; event time = TimeNano."""
    from .operators.journal import DockerEventLogs

    ev = _ev(spark, sf_dir)
    attrs = F.map_filter(
        F.create_map(
            F.lit("name"), F.concat(F.lit("c"), F.col("user_id").cast("string")),
            F.lit("image"), F.concat(F.lit("img:"), (F.col("event_id") % 5).cast("string")),
            F.lit("exitCode"),
            F.when(F.col("event_type") == "error", F.lit("137")),
        ),
        lambda k, v: v.isNotNull(),
    )
    frame = ev.select(
        "doc_id",
        (F.lit(1_700_000_000_000_000_000) + F.col("event_id") * 1_000_000).alias(
            "time_nano"
        ),
        F.col("event_type").alias("action"),
        F.lit("container").alias("type"),
        F.concat(F.lit("id-"), F.col("event_id").cast("string")).alias("actor_id"),
        attrs.alias("attributes"),
    )
    out = DockerEventLogs().apply(frame)
    return out.select(
        "doc_id",
        fget("_time_nano_").alias("time_nano"),
        fget("_action_").alias("action"),
        fget("_type_").alias("type"),
        fget("_id_").alias("id"),
        fget("name").alias("name"),
        fget("image").alias("image"),
        fget("exitCode").alias("exit_code"),
        F.col("event_time_ns"),
    )


def oracle_docker_events() -> str:
    return f"""SELECT {_DOC} AS doc_id,
  CAST(1700000000000000000 + event_id * 1000000 AS VARCHAR) AS time_nano,
  event_type AS action, 'container' AS type, 'id-' || event_id AS id,
  'c' || user_id AS name, 'img:' || (event_id % 5) AS image,
  CASE WHEN event_type = 'error' THEN '137' END AS exit_code,
  1700000000000000000 + event_id * 1000000 AS event_time_ns
FROM events"""


# --- service_journal field slice --------------------------------------------------


def q_journal_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """service_journal entry conversion (plugins/input/journal/
    input_journal.go:339-373): fields map + PRIORITY/SYSLOG_FACILITY textual
    mapping (unknown value → ""), _realtime_timestamp_/_monotonic_timestamp_
    columns, event time from RealtimeTimestamp·1000."""
    from .operators.journal import JournalEntryLogs

    ev = _ev(spark, sf_dir)
    fields = F.create_map(
        F.lit("MESSAGE"), F.concat(F.lit("m-"), F.col("event_id").cast("string")),
        F.lit("PRIORITY"), (F.col("event_id") % 9).cast("string"),
        F.lit("SYSLOG_FACILITY"), (F.col("user_id") % 25).cast("string"),
        F.lit("_TRANSPORT"), F.lit("journal"),
    )
    frame = ev.select(
        "doc_id",
        fields.alias("fields"),
        (F.lit(1_700_000_000_000_000) + F.col("event_id")).alias("realtime_ts"),
        (F.col("event_id") * 7).alias("monotonic_ts"),
    )
    out = JournalEntryLogs(
        parse_priority=True, parse_syslog_facility=True, use_journal_event_time=True
    ).apply(frame)
    return out.select(
        "doc_id",
        fget("MESSAGE").alias("message"),
        fget("PRIORITY").alias("priority"),
        fget("SYSLOG_FACILITY").alias("facility"),
        fget("_TRANSPORT").alias("transport"),
        fget("_realtime_timestamp_").alias("realtime"),
        fget("_monotonic_timestamp_").alias("monotonic"),
        F.col("event_time_ns"),
    )


def oracle_journal_fields() -> str:
    pri = "', '".join(
        ["emergency", "alert", "critical", "error", "warning", "notice",
         "informational", "debug"]
    )
    fac = "', '".join(
        ["kernel", "user", "mail", "daemon", "auth", "syslog", "line printer",
         "network news", "uucp", "clock daemon", "security/auth", "ftp", "ntp",
         "log audit", "log alert", "clock daemon", "local0", "local1", "local2",
         "local3", "local4", "local5", "local6", "local7"]
    )
    return f"""SELECT {_DOC} AS doc_id, 'm-' || event_id AS message,
  coalesce((['{pri}'])[CAST(event_id % 9 AS INT) + 1], '') AS priority,
  coalesce((['{fac}'])[CAST(user_id % 25 AS INT) + 1], '') AS facility,
  'journal' AS transport,
  CAST(1700000000000000 + event_id AS VARCHAR) AS realtime,
  CAST(event_id * 7 AS VARCHAR) AS monotonic,
  (1700000000000000 + event_id) * 1000 AS event_time_ns
FROM events"""
