"""The flagship end-to-end job (SURVEY.md §7 minimum slice):

read sequences (doc_id, tokens, n_tok, source)
  → one Arrow stage over the rows of the three formats
    (tokens.decode_tokens_arrow: a mapInArrow over the token list buffers,
    the job's only Python stage, no pandas and no per-row Python): it decodes
    tokens→content and full-matches the nginx lines with RE2
    (``NGINX_RE2``, pyarrow.compute), returning their match flag, and on the
    write path their 11 groups as a map, in place of the lines
  → one CASE on ``source``: nginx reads the stage's flag and groups, app-json
    and tab-delimited run their JVM parsers over the returned ``content``;
    discard-unmatch semantics; any other source is filtered out before the
    decode
  → broadcast-join the source lookup (team_tag, env, route_key, sinks):
    every route condition reads only lookup columns, so the router's matched
    sinks are evaluated once per lookup row, at plan time, not per event
  → router fan-out (multi-match copy) via explode of the joined ``sinks``
  → per-sink aggregates (events, tokens_total) + per-source drop counts, or
    the resumable per-sink write (plans/checkpoint.resumable_write)

Scale notes: one scan and one decode stage serve all three formats. The
single scan costs no partition pruning: on a source-partitioned table a
per-source branch would read only its own partitions, and the one scan reads
those same partitions once. The routed frame has no exchange of its own: the
aggregates fold map-side into one tiny sink-key shuffle, and the write
rebalances by sink, the key it partitions its output by, with AQE sizing and
splitting the partitions of a hot sink. The lookup join is broadcast (no
shuffle), from a LocalRelation: Catalyst folds the ``sinks`` projection
into it: no RDD scan, though BroadcastExchange still runs the 4-row
LocalTableScan as a small job before each main stage. The join is inner, as
the oracle's JOIN: a source with no lookup row reaches no sink.

Built once per JVM, as the reference builds its pipeline once and then runs
it on every group (CollectionPipeline::Init, then Process): the Columns that
depend on no input (the parse CASE, whose success is the keep-filter and
whose map is ``fields``, the router's matched sinks, the per-sink folds).
They are unresolved expressions, bound by name to each new DataFrame, and
they belong to the JVM rather than to a session (``session.per_jvm``), so a
driver that runs many jobs pays the ~2,000 py4j round trips of building them
once. The DataFrame itself is built anew for every job and never cached: a
reused DataFrame or QueryExecution would let AQE reuse its materialised
shuffle stages, and the job would stop scanning and parsing its input.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from .aggregate import sink_aggregates
from .operators.base import FIELDS
from .operators.parse import DelimiterParser, JsonParser, RegexParser, re2_pattern
from .routing import RouteCondition, Router
from .session import per_jvm
from .synth import ROUTE_RULES, sequences_df, source_lookup_df
from .tokens import REGEX_GROUPS, REGEX_OK, LineRegex, decode_tokens_arrow

# nginx access-log regex — the reference's own example pipeline
# (example_config/data_pipelines/nginx-regex.yaml)
NGINX_REGEX = (
    r'([\d\.:]+) - (\S+) \[(\S+) \S+\] "(\S+) (\S+) ([^"]+)" '
    r'(\d+) (\d+) "([^"]*)" "([^"]*)" "([^"]*)"'
)
NGINX_KEYS = [
    "remote_addr",
    "remote_user",
    "time_local",
    "method",
    "url",
    "protocol",
    "status",
    "body_bytes_sent",
    "http_referer",
    "http_user_agent",
    "http_x_forwarded_for",
]
CSV_KEYS = ["uid", "time", "cmethod", "value"]

# the flagship's formats: source -> the parser of its lines
PARSERS = {
    "nginx": RegexParser(NGINX_REGEX, NGINX_KEYS),
    "app-json": JsonParser(),
    "csvlog": DelimiterParser("\t", CSV_KEYS),
}
# the nginx lines are parsed in the decode stage, by RE2 on the translation of
# PARSERS["nginx"]'s pattern (a pattern it cannot translate fails the import)
NGINX_RE2 = LineRegex("nginx", re2_pattern(NGINX_REGEX, NGINX_KEYS), tuple(NGINX_KEYS))
ROUTER = Router(
    [RouteCondition(r["sink"], r["match_key"], r["match_value"]) for r in ROUTE_RULES]
)


def replicated_sequences(spark: SparkSession, sf_dir: str, factor: int) -> DataFrame:
    """Scale-up fixture: the sequences table replicated ``factor``× with
    unique doc_ids (used by the scaling benchmark so the job is CPU-bound
    rather than overhead-bound at test scale)."""
    seq = sequences_df(spark, sf_dir)
    if factor <= 1:
        return seq
    # explode preserves the upstream partitioning (already cluster-wide from
    # sequences_df) — no extra shuffle of the replicated token arrays
    return (
        seq.withColumn("__r__", F.explode(F.sequence(F.lit(1), F.lit(factor))))
        .withColumn("doc_id", F.concat_ws("-", "doc_id", F.col("__r__").cast("string")))
        .drop("__r__")
    )


@dataclass(frozen=True)
class _Columns:
    """The flagship's Columns that depend on no input: unresolved
    expressions, bound by name to each DataFrame they are applied to."""

    sources: Column  # the filter to PARSERS' sources
    keep: Column  # the parse succeeded
    fields: Column  # the parsed map
    matched: Column  # the router's matched sinks


@per_jvm
def _columns() -> _Columns:
    src = F.col("content")
    success = new_map = None
    for source, parser in PARSERS.items():
        if source == NGINX_RE2.source:
            ok, parsed = F.col(REGEX_OK), F.col(REGEX_GROUPS)
        else:
            ok, parsed = parser.parse(src)
        hit = F.col("source") == source
        success = F.when(hit, ok) if success is None else success.when(hit, ok)
        new_map = F.when(hit, parsed) if new_map is None else new_map.when(hit, parsed)
    # the decoded line is the whole event, parsed with default ParserOptions:
    # no other contents to keep on a failure, no source kept on a success,
    # so finalize keeps exactly the parsed rows and their fields are the parse
    return _Columns(
        sources=F.col("source").isin(list(PARSERS)),
        keep=success.otherwise(False),
        fields=new_map,
        matched=ROUTER.matched(),
    )


def parsed_events_from(seq: DataFrame, fields: bool = True) -> DataFrame:
    """Parse a sequences frame into the unified event frame (doc_id, source,
    n_tok, fields): one Arrow stage that decodes and parses the nginx lines,
    then one projection that dispatches on ``source`` to the stage's nginx
    result or to the JVM parser for that format, over the bare ``content``.
    Rows of any other source are discarded before the decode.
    ``fields=False``: the parsed rows without ``fields``, and the stage
    builds no nginx groups (the output of a Python stage cannot be pruned)."""
    c = _columns()
    # filter before the python stage (a filter does not push through it), so
    # rows no parser takes are neither shuffled nor decoded
    seq = seq.filter(c.sources)
    # drop the token arrays INSIDE the python stage: a .drop after it would
    # ship the dominant payload Python→JVM just to discard it
    ev = decode_tokens_arrow(
        seq, "tokens", "content", drop_tokens=True, regex=NGINX_RE2, groups=fields
    )
    others = [name for name in seq.columns if name != "tokens"]
    kept = ev.filter(c.keep)
    return kept.select(*others, c.fields.alias(FIELDS)) if fields else kept.select(*others)


def routed_from(spark: SparkSession, seq: DataFrame, fields: bool = True) -> DataFrame:
    """Fan-out: sink_a ⟵ env=prod, sink_b ⟵ team_tag=team-b, sink_default ⟵ all
    (multi-match copy semantics, Router.cpp:60-80). The conditions read only
    lookup columns, so each source is routed once, on its lookup row
    (Router.cpp routes a whole event group on its tags). ``fields=False``:
    the routed rows carry no ``fields`` (see ``parsed_events_from``)."""
    lookup = source_lookup_df(spark).withColumn("sinks", _columns().matched)
    ev = parsed_events_from(seq, fields).join(F.broadcast(lookup), "source")
    return ROUTER.apply(ev, F.col("sinks")).drop("sinks")


def routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return routed_from(spark, sequences_df(spark, sf_dir))


def pipeline_aggregates_from(spark: SparkSession, seq: DataFrame) -> DataFrame:
    # only what the aggregates read: the Python stage cannot prune its inputs
    # or outputs, so it gets three columns and builds no nginx groups
    return sink_aggregates(
        routed_from(spark, seq.select("tokens", "n_tok", "source"), fields=False)
    )


def pipeline_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Headline result: per-sink (events, tokens_total)."""
    return pipeline_aggregates_from(spark, sequences_df(spark, sf_dir))


def routed_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Routed-row-set equality surface: one row per (sink, doc)."""
    r = routed(spark, sf_dir)
    return r.select("sink", "doc_id", "source", "route_key", "env", "team_tag")


def drop_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source discarded-event counts (≙ mDiscardedEventsTotal self-metric)."""
    seq = sequences_df(spark, sf_dir)
    inputs = seq.groupBy("source").agg(F.count(F.lit(1)).alias("input_events"))
    parsed = (
        parsed_events_from(seq.select("tokens", "source"), fields=False)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("parsed_events"))
    )
    return (
        inputs.join(parsed, "source", "left")
        .select(
            "source",
            "input_events",
            F.coalesce("parsed_events", F.lit(0)).alias("parsed_events"),
            (F.col("input_events") - F.coalesce("parsed_events", F.lit(0))).alias("dropped"),
        )
        .orderBy("source")
    )
