"""Aggregation / partitioning / lineage stage (SURVEY.md §2.5).

The reference's "aggregation" is grouping + batching with self-monitor counts
(no numeric folds in-pipeline). Our north-rule aggregates are the per-sink
event counts / token & byte totals / drop counts (≙ mOutSuccessfulEventsTotal,
mDiscardedEventsTotal self-metrics, ProcessorParseRegexNative.cpp:100-103) and
the pack-id/shard-hash physical grouping.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from .routing import SINK_COL
from .session import per_jvm

PACK_ID_COL = "__pack_id__"


def with_lineage(df: DataFrame) -> DataFrame:
    """Per-partition lineage: ``__pack_id__`` ≈ the reference's monotonic
    per-source pack id (aggregator_base.go:141-150) = partition id + row
    index within the partition, computed without any shuffle.
    ``monotonically_increasing_id`` already encodes the partition id in its
    top 31 bits; masking them off leaves the plain per-partition row index,
    rendered as ``<partition>-<index>`` like the reference's
    ``<id>-<hex>-<seq>`` pack-id text."""
    row_in_partition = F.monotonically_increasing_id().bitwiseAND(
        F.lit((1 << 33) - 1)
    )
    return df.withColumn(
        PACK_ID_COL,
        F.concat_ws(
            "-",
            F.spark_partition_id().cast("string"),
            row_in_partition.cast("string"),
        ),
    )


def context_ordered(df: DataFrame, part_cols: Sequence[str], order_col: str) -> DataFrame:
    """aggregator_context (plugins/aggregator/context/aggregator_context.go:44-289):
    preserve per-source record order so the consumer can reconstruct the
    original stream. Spark shape: cluster rows by the context key and sort
    WITHIN partitions (no global sort), then stamp an order-preserving
    ``__pack_id__`` — ordered pack ids within a partition reconstruct the
    original order on read."""
    out = df.repartition(*[F.col(c) for c in part_cols]).sortWithinPartitions(
        *part_cols, order_col
    )
    return with_lineage(out)


@per_jvm
def _sink_folds() -> tuple[Column, list[Column]]:
    """The sink key and the per-sink folds: event count, token total."""
    folds = [F.count(F.lit(1)).alias("events"), F.sum("n_tok").alias("tokens_total")]
    return F.col(SINK_COL), folds


def sink_aggregates(routed: DataFrame) -> DataFrame:
    """Per-sink aggregate counts: events, token total (sum of ``n_tok``),
    sorted by sink. Partial (map-side) aggregation is automatic for these
    folds; one shuffle on the (tiny-cardinality) sink key. The ≤k result
    rows are sorted in one partition: a global ``orderBy`` would plan a
    range-partition exchange, and the sampling job and stages it costs."""
    key, folds = _sink_folds()
    return routed.groupBy(key).agg(*folds).coalesce(1).sortWithinPartitions(key)


@dataclass
class ShardHash:
    """aggregator_shardhash (plugins/aggregator/shardhash/aggregator_shardhash.go):
    ``shard_count`` (power of 2, ≤512) buckets over the concatenated
    ``source_keys`` values; each bucket's groups carry a ``__shardhash__``
    tag whose md5 prefix encodes the bucket bits (initShardAggs:118-139) so
    SLS places them on the right shard.

    Documented divergence: the Go implementation SELECTS the bucket with
    xxhash64(sourceValue) % ShardCount (selectShardAgg:157-161) and only the
    tag uses the md5-bit construction. We derive the bucket from the md5 top
    bits instead — an equally-uniform partitioner whose placement tag and
    bucket id agree by construction, and which a cross-engine SQL oracle can
    reproduce bit-for-bit (xxhash64 seeds differ between engines).
    ``shardhash_tag`` builds the reference's exact tag hex."""

    source_keys: Sequence[str]
    shard_count: int = 8
    bucket_col: str = "__shardhash_bucket__"
    repartition: bool = True

    def __post_init__(self):
        if self.shard_count & (self.shard_count - 1) or not (1 <= self.shard_count <= 512):
            raise ValueError("shard_count must be a power of 2 in [1, 512]")

    def bucket(self) -> F.Column:
        bits = self.shard_count.bit_length() - 1
        if bits == 0:
            # shard_count=1: single bucket (the reference still emits the
            # all-zeros tag; initShardAggs uses bits=1 internally for count=1)
            return F.lit(0)
        concat = F.concat(*[F.coalesce(F.col(k).cast("string"), F.lit("")) for k in self.source_keys])
        # top `bits` bits of the md5 = first hex char's value >> (4 - bits)
        # (for bits<=4; wider shard counts take more hex chars)
        nibbles = (bits + 3) // 4
        prefix_val = F.conv(F.substring(F.md5(concat), 1, nibbles), 16, 10).cast("int")
        return F.shiftright(prefix_val, 4 * nibbles - bits)

    def shardhash_tag(self) -> F.Column:
        """The __shardhash__ tag value: bucket bits as the md5 prefix, zero
        padded to 128 bits, rendered as 32 hex chars
        (initShardAggs:121-132)."""
        bits = self.shard_count.bit_length() - 1
        if bits == 0:
            return F.lit("0" * 32)
        # 128-bit value = bucket bits then zeros: first 16 hex chars carry the
        # top 64 bits (bucket << (64 - bits), two's-complement hex keeps the
        # bit pattern), remaining 16 are zeros
        top64 = F.lower(
            F.lpad(F.hex(F.shiftleft(self.bucket().cast("bigint"), 64 - bits)), 16, "0")
        )
        return F.concat(top64, F.lit("0" * 16))

    def apply(self, df: DataFrame) -> DataFrame:
        out = df.withColumn(self.bucket_col, self.bucket())
        return out.repartition(self.shard_count, F.col(self.bucket_col)) if self.repartition else out


@dataclass
class GroupByValues:
    """aggregator_content_value_group
    (plugins/aggregator/contentvaluegroup:66-210): group by field values,
    `_`-joined group key stamped as topic."""

    group_keys: Sequence[str]

    def apply(self, df: DataFrame) -> DataFrame:
        key = F.concat_ws("_", *[F.coalesce(F.col(k), F.lit("")) for k in self.group_keys])
        return df.withColumn("__group_topic__", key).repartition(*[F.col(k) for k in self.group_keys])


LOGSTORE_COL = "__logstore__"
BATCH_COL = "__batch_no__"


@dataclass
class TelemetryRouter:
    """aggregator_opentelemetry / aggregator_skywalking
    (plugins/aggregator/opentelemetry/aggregator_opentelemetry.go:96-106,
    plugins/aggregator/skywalking/aggregator_skywalking.go:93-109): route
    each event to a per-telemetry-type logstore, then batch within the store
    via the shared base aggregator (MaxLogCount=1024 events per group).

    Routing rules (both plugins route on the CONTENTS, not a tag):
    - otel: field count <=5 -> metrics store, >=19 -> traces store, else logs
      (the OTLP conversion emits a fixed field layout per signal type, so
      arity identifies the signal).
    - skywalking: FIRST content key '__name__' -> metrics, 'links' -> traces,
      'otlp.name' -> logs, anything else -> logs (with a warning in the
      agent; here the row simply routes to the logs store).
    - an event with zero contents is silently not added (Add returns nil
      without routing) -> the row is dropped.

    Spark shape: one column expression per rule — no shuffle for the routing
    itself. Batching assigns ``__batch_no__`` = ordinal within the logstore
    // max_count. With ``order_col`` the numbering is a deterministic global
    window (oracle-comparable; one shuffle per store partition). Without it,
    numbering is partition-local ((pid, local_seq // max) rendered as
    'pid-k') — the scale path, mirroring the agent where batch identity is
    per-instance anyway, and what a 1000-executor run should use.
    """

    mode: str = "opentelemetry"  # or "skywalking"
    metrics_store: str = ""
    trace_store: str = ""
    log_store: str = ""
    max_count: int = 1024
    fields_col: str = "fields"

    def __post_init__(self) -> None:
        d = "otlp" if self.mode == "opentelemetry" else "skywalking"
        self.metrics_store = self.metrics_store or f"{d}-metrics"
        self.trace_store = self.trace_store or f"{d}-traces"
        self.log_store = self.log_store or f"{d}-logs"

    def route(self) -> F.Column:
        f = F.col(self.fields_col)
        if self.mode == "opentelemetry":
            n = F.size(f)
            return (
                F.when(n <= 5, self.metrics_store)
                .when(n >= 19, self.trace_store)
                .otherwise(self.log_store)
            )
        first = F.element_at(F.map_keys(f), 1)
        return (
            F.when(first == "__name__", self.metrics_store)
            .when(first == "links", self.trace_store)
            .otherwise(self.log_store)  # 'otlp.name' and unrecognized both land here
        )

    def apply(self, df: DataFrame, order_col: str | None = None) -> DataFrame:
        out = df.filter(F.size(F.col(self.fields_col)) > 0).withColumn(
            LOGSTORE_COL, self.route()
        )
        if order_col is not None:
            from pyspark.sql import Window

            w = Window.partitionBy(LOGSTORE_COL).orderBy(order_col)
            batch = ((F.row_number().over(w) - F.lit(1)) / self.max_count).cast("long")
            return out.withColumn(BATCH_COL, batch.cast("string"))
        out = out.repartition(F.col(LOGSTORE_COL))
        local_seq = F.monotonically_increasing_id().bitwiseAND((1 << 33) - 1)
        return out.withColumn(
            BATCH_COL,
            F.concat_ws(
                "-",
                F.spark_partition_id().cast("string"),
                (local_seq / self.max_count).cast("long").cast("string"),
            ),
        )
