"""Regenerate PLANS.md: the formatted physical plans of the headline queries
with the invariants each one is expected to show (the same invariants
tests/test_plan_quality.py gates). Plan lines longer than MAX_LINE are cut.
Usage: python tools/dump_plans.py"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"
# a few plans inline literals of up to ~1.4M characters (the semdedup
# embeddings); the flagship's longest line is under 3,000
MAX_LINE = 3000


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def _renumber(text: str) -> str:
    """``text`` with its ``#<n>`` expression ids, ``plan_id=<n>`` and the
    numbers of the lambda variables (``lambda x_13``; pyspark counts them
    per process) numbered from 0 by first appearance: independent of
    earlier sections' plans."""
    for pattern in (r"(?<=[\w)]#)\d+", r"(?<=plan_id=)\d+"):
        ids: dict[str, int] = {}
        text = re.sub(pattern, lambda m: str(ids.setdefault(m.group(), len(ids))), text)
    names = dict.fromkeys(re.findall(r"\blambda (\w+_\d+)\b", text))
    if names:
        new = {n: f"{n.rsplit('_', 1)[0]}_{i}" for i, n in enumerate(names)}
        bound = r"\b(?:" + "|".join(map(re.escape, names)) + r")\b"
        text = re.sub(bound, lambda m: new[m.group()], text)
    return text


def _cut(text: str) -> str:
    """``text`` with each line longer than MAX_LINE cut to MAX_LINE
    characters and a marker saying how many were cut."""
    return "\n".join(
        line if len(line) <= MAX_LINE
        else f"{line[:MAX_LINE]}… [{len(line) - MAX_LINE} chars cut]"
        for line in text.splitlines()
    )


def main() -> None:
    from loongcollector_spark import flagship
    from loongcollector_spark.queries import QUERIES
    from loongcollector_spark.session import get_spark

    spark = get_spark("dump-plans", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")

    sections = [
        (
            "pipeline_e2e — parse→enrich→route→aggregate",
            flagship.pipeline_aggregates(spark, SF),
            "Exactly ONE parquet scan and ONE Python node, the Arrow stage "
            "(MapInArrow), for all three formats: it decodes the tokens and "
            "full-matches the nginx lines with RE2, and returns their match "
            "flag (``regex_ok``; no groups map for the aggregates) in place "
            "of their ``content``; the filter to the parsed sources sits "
            "below it, and it takes only tokens, n_tok and source; per-source "
            "parse is one CASE-dispatched filter directly above it: nginx "
            "reads ``regex_ok``, JSON and CSV parse the decoded ``content`` "
            "itself (no one-entry map, no erase check, and no JVM regex of "
            "the nginx pattern anywhere); "
            "inner BroadcastHashJoin for the lookup (never "
            "SortMergeJoin), whose broadcast side is a LocalTableScan (no "
            "Scan ExistingRDD; the broadcast still runs it as a small job) that already "
            "carries each source's matched ``sinks``: the routes are folded "
            "into the lookup at plan time, and no route predicate runs per "
            "event; ONE Generate, the explode fan-out (no N-scan recompute); "
            "partial HashAggregate pairs around a single tiny sink-key "
            "Exchange; the ≤k result is sorted after a Coalesce to one "
            "partition (no range Exchange, no global Sort).",
        ),
        (
            "dedup_minhash — shingle→minhash→LSH(capped)→Jaccard",
            QUERIES["dedup_minhash"](spark, SF),
            "SINGLE signature build: the (id, band, bkey) frame is persisted, so "
            "the scan→shingle→min-aggregate subtree exists only inside the "
            "InMemoryRelation and every stats/join/star reference reads the "
            "cache; one shared shingle frame feeds the Jaccard verify "
            "(exchange-level reuse). Bucket stats via groupBy (NO Window for "
            "the n_anchors=1 star cap); every join an equi-join on "
            "high-cardinality keys.",
        ),
        (
            "prom_relabel — tag-map rewrite chain",
            QUERIES["prom_relabel"](spark, SF),
            "one narrow projection tree: no Exchange, no Join, no Python.",
        ),
        (
            "geoip_fields — broadcast range lookup",
            QUERIES["geoip_fields"](spark, SF),
            "BroadcastNestedLoopJoin (BETWEEN range condition) against the "
            "broadcast dim; no shuffle join, no cartesian.",
        ),
        (
            "token_packing — two-phase distributed prefix sum",
            QUERIES["token_packing"](spark, SF),
            "windows keyed by (source, __pid__) chunks — no single "
            "unbounded per-source sort; tiny offsets frame broadcast back.",
        ),
        (
            "parse_syslog — RFC3164/RFC5424 auto mode",
            QUERIES["parse_syslog"](spark, SF),
            "one narrow projection tree: both protocol matchers let-bound "
            "(each anchored regex runs once per row), no Exchange, no Join, "
            "no Python.",
        ),
        (
            "influx_decode — line protocol → per-field metric logs",
            QUERIES["influx_decode"](spark, SF),
            "scan → single let-bound line parse → Generate (explode fields) "
            "→ projection; the only fan-out is the explode, no Exchange, "
            "no Python.",
        ),
        (
            "pyroscope_decode — collapsed stacks → per-stack profile logs",
            QUERIES["pyroscope_decode"](spark, SF),
            "scan → let-bound request parse → Generate (explode stack "
            "lines) → narrow projection; JVM xxhash64 stack IDs, no "
            "Exchange, no Join, no Python.",
        ),
        (
            "c4_span_dedup — cross-corpus 3-sentence-span dedup",
            QUERIES["c4_span_dedup"](spark, SF),
            "sentence frame persisted (InMemoryRelation) — the scan+split "
            "runs once for all three consumers; ONE span-hash Exchange "
            "elects corpus-global first occurrences; doc rebuild via "
            "partial-agg pairs; no all-pairs join.",
        ),
        (
            "flusher_custom_single — Go-sorted-key JSON serializer",
            QUERIES["flusher_custom_single"](spark, SF),
            "one narrow projection tree (array_sort(map_entries) JSON "
            "render): no Exchange, no Join, no Python.",
        ),
        (
            "skywalking_segment — SegmentObject → OtSpan rows",
            QUERIES["skywalking_segment"](spark, SF),
            "from_json → single Generate (explode spans) → narrow JSON/"
            "attribute string building; resource properties via "
            "BroadcastHashJoin (never SortMergeJoin); no Python.",
        ),
        (
            "canal_row_events — binlog row events → per-row-change events",
            QUERIES["canal_row_events"](spark, SF),
            "from_json → per-row map building (enum/set rendering inside "
            "transform lambdas) → single Generate; no Exchange, no Join, "
            "no Python.",
        ),
        (
            "spl_time_stats — SPL windowed multi-aggregate stats",
            QUERIES["spl_time_stats"](spark, SF),
            "the SPL-compiled pipe must plan exactly like the native "
            "flagship aggregate: BroadcastHashJoin lookup, partial/final "
            "HashAggregate pair, ONE non-broadcast Exchange.",
        ),
        (
            "skywalking_v2_segment — UpstreamSegment → OtSpan rows (v2 registry)",
            QUERIES["skywalking_v2_segment"](spark, SF),
            "both registry lookups (instances, endpoints) BroadcastHashJoin "
            "— never SortMergeJoin; exactly one Generate (the span explode); "
            "no Python stage.",
        ),
        (
            "line_dedup — corpus-wide boilerplate-line removal",
            QUERIES["line_dedup"](spark, SF),
            "duplicate-line election is a partial HashAggregate pair (hot "
            "boilerplate lines combine map-side); flag join is an equi-join; "
            "no Window over raw line rows.",
        ),
        (
            "semdedup — cluster-scoped semantic dedup",
            QUERIES["semdedup"](spark, SF),
            "the pairwise pass joins on the k-means cell key (equi-join, "
            "never CartesianProduct/BroadcastNestedLoopJoin); codebook "
            "training ships only k·dim means to the driver.",
        ),
        (
            "kafka_dynamic_topic — %{content.x} topic + hash key routing",
            QUERIES["kafka_dynamic_topic"](spark, SF),
            "pattern compiled at plan time into concat+map lookups; "
            "partial HashAggregate pair around one (topic,key) Exchange — "
            "the per-topic batch shuffle a partitioned Kafka write needs.",
        ),
        (
            "redis_info — INFO body scan fold + URL tags",
            QUERIES["redis_info"](spark, SF),
            "ONE F.aggregate fold over the split lines inside a narrow "
            "projection: no Exchange, no Join, no Python.",
        ),
        (
            "pprof_profile — pprof wire decode → per-stack profile logs",
            QUERIES["pprof_profile"](spark, SF),
            "one Arrow-batched MapInArrow decode pass (per-payload "
            "aggregation is row-local) over the payloads the fixture builds "
            "in one more MapInArrow; no Exchange, no Join below it.",
        ),
        (
            "flusher_es_bulk — per-sink NDJSON bulk bodies",
            QUERIES["flusher_es_bulk"](spark, SF),
            "serialize + action line per log, then ONE partial "
            "ObjectHashAggregate pair around the single sink-key Exchange "
            "(the bulk-request routing shuffle).",
        ),
        (
            "k8smetav1_pods — pod MetaNodes + selector-matcher parents",
            QUERIES["k8smetav1_pods"](spark, SF),
            "node mapping and matcher dims broadcast (BroadcastHashJoin / "
            "BroadcastNestedLoopJoin for the selector-containment join) — "
            "the pod scan never shuffles on its own key; the parent "
            "collect is a partial aggregate on the pod uid.",
        ),
        (
            "systemv2_metrics — host snapshot rounds → delta metric logs",
            QUERIES["systemv2_metrics"](spark, SF),
            "exactly ONE host-keyed window Exchange (the lag); device "
            "matching via in-row map lookups; emission is a Generate over "
            "the per-row metric array.",
        ),
        (
            "semdedup_hot — 1000-copy hot cell through the anchor cap",
            QUERIES["semdedup_hot"](spark, SF),
            "the per-cell pairwise pass routes through capped_bucket_pairs: "
            "the anchor rank (__rk__ Window, bounded by the hot-cell size) "
            "caps candidates at O(n_anchors·cell); joins back to the vector "
            "frame are id equi-joins; never CartesianProduct.",
        ),
        (
            "embed_ivf_probe — IVF multi-probe (nprobe=2)",
            QUERIES["embed_ivf_probe"](spark, SF),
            "query side explodes into its nprobe nearest cells and "
            "broadcasts; the vector side joins on the cell key "
            "(BroadcastHashJoin) — the scan prunes to nprobe cell "
            "partitions when the table is partitioned by cell.",
        ),
        (
            "group_info_filter — group-metadata include/exclude extension",
            QUERIES["group_info_filter"](spark, SF),
            "the interceptor is ONE Filter over the group frame (pushdown-"
            "able to the scan): no Exchange, no Join, no Python.",
        ),
        (
            "journal_fields — journald entry conversion",
            QUERIES["journal_fields"](spark, SF),
            "priority/facility maps are plan-time literal maps inside "
            "transform_values — one narrow projection, no Exchange, no "
            "Python.",
        ),
    ]

    out = [
        "# PLANS — formatted physical plans of the headline queries\n",
        "Regenerate with `python tools/dump_plans.py`. The stated invariants",
        "are enforced by tests/test_plan_quality.py; this file exists so the",
        "plans can be READ without running Spark.\n",
    ]
    for title, df, invariant in sections:
        out.append(f"\n## {title}\n")
        out.append(f"**Invariant**: {invariant}\n")
        out.append("```\n" + _cut(_renumber(_plan(df).strip())) + "\n```\n")

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
