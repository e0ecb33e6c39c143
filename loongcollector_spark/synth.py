"""Deterministic synthesis of the `sequences` input table from the driver's
`events` parquet — dual-dialect (Spark SQL + DuckDB SQL) so the driver's oracle
computes over the *same* rows.

Sequences shape per BASELINE.json input_hint:
  (doc_id string, tokens array<int>, n_tok int, source string)
plus we carry `content` implicitly via the token codec (tokens = codepoints of
the synthetic log line; see tokens.py).

Line families mirror FIXTURES.md §2 / the reference example configs:
- nginx access log (example_config/data_pipelines/nginx-regex.yaml) — the HOT
  source: 80% of rows (event_id % 10 <= 7) → built-in skew fixture;
  5%-ish malformed (event_id % 20 == 7) to exercise keep/discard-unmatch.
- app-json (file-json.yaml): JSON object w/ string, int, bool, null members to
  pin scalar-stringification parity (ProcessorParseJsonNative.cpp:379-403).
- csvlog: tab-delimited (file-delimiter.yaml, unittest input "value1\\tvalue2").

All expressions are integer/string-only (no float→string) so the two engines
produce byte-identical lines.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .tokens import encode_line

_SPARK_DIALECT = {
    "ts_nginx": "date_format(ts, 'dd/MMM/yyyy:HH:mm:ss')",
    "ts_date": "date_format(ts, 'yyyy-MM-dd')",
    "tab": "'\\t'",
}
_DUCK_DIALECT = {
    "ts_nginx": "strftime(ts, '%d/%b/%Y:%H:%M:%S')",
    "ts_date": "strftime(ts, '%Y-%m-%d')",
    "tab": "chr(9)",
}

# shared fragments (valid in both dialects after {param} substitution)
_STATUS = "case when value >= 180 then '500' when value >= 120 then '404' else '200' end"
_METHOD = "case when event_id % 3 = 0 then 'GET' when event_id % 3 = 1 then 'POST' else 'PUT' end"
_BYTES = "(user_id * 37 + event_id % 1000)"

_LINE = (
    "case "
    "when event_id % 10 <= 7 and event_id % 20 = 7 then 'MALFORMED ' || event_type "
    "when event_id % 10 <= 7 then "
    "  '10.0.' || (user_id % 200) || '.' || (event_id % 250) || ' - - [' || {ts_nginx} || "
    "  ' +0000] \"' || " + _METHOD + " || ' /api/' || event_type || ' HTTP/1.1\" ' || "
    + _STATUS + " || ' ' || " + _BYTES + " || ' \"-\" \"curl/7.' || (user_id % 90) || "
    "  '.0\" \"-\"' "
    "when event_id % 10 = 8 then "
    "  '{{\"url\":\"GET /api/' || event_type || '\",\"status\":' || " + _STATUS + " || "
    "  ',\"qty\":' || user_id || ',\"cached\":' || "
    "  case when event_id % 2 = 0 then 'true' else 'false' end || ',\"note\":null}}' "
    "else "
    "  user_id || {tab} || {ts_date} || {tab} || event_type || {tab} || " + _BYTES + " "
    "end"
)

_SOURCE = (
    "case when event_id % 10 <= 7 then 'nginx' "
    "when event_id % 10 = 8 then 'app-json' else 'csvlog' end"
)

_DOC_ID = "'doc-' || lpad(cast(event_id as string), 8, '0')"
_DOC_ID_DUCK = "'doc-' || lpad(cast(event_id as varchar), 8, '0')"


def line_sql(dialect: str = "spark") -> str:
    d = _SPARK_DIALECT if dialect == "spark" else _DUCK_DIALECT
    return _LINE.format(**d)


def sequences_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-side sequences table: (doc_id, tokens, n_tok, source).

    The test-scale parquet is a single small file → a single scan partition,
    which would serialize every downstream CPU-bound stage (decode/parse) on
    one core. Repartition up to the cluster's parallelism when the scan is
    narrower — a few-MB shuffle that buys full-width execution. At real scale
    the scan already produces thousands of splits and this is a no-op."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    target = spark.sparkContext.defaultParallelism
    if ev.rdd.getNumPartitions() < target:
        ev = ev.repartition(target)
    line = F.expr(line_sql("spark"))
    return ev.select(
        F.expr(_DOC_ID).alias("doc_id"),
        encode_line(line).cast("array<int>").alias("tokens"),
        F.length(line).cast("int").alias("n_tok"),
        F.expr(_SOURCE).alias("source"),
    )


def sequences_cte(sf_dir_placeholder: str = "events") -> str:
    """DuckDB CTE body producing (doc_id, line, n_tok, source) from the
    pre-registered `events` view. The oracle skips the token round-trip (the
    codec is identity; round-trip equality is pinned by unit tests)."""
    line = line_sql("duck")
    return (
        f"SELECT {_DOC_ID_DUCK} AS doc_id, {line} AS line, "
        f"CAST(length({line}) AS INTEGER) AS n_tok, {_SOURCE} AS source "
        f"FROM {sf_dir_placeholder}"
    )


# ---------------------------------------------------------------------------
# Lookup dims (enrich stage; FIXTURES.md §3). Small → broadcast side.
# ---------------------------------------------------------------------------

SOURCE_LOOKUP_ROWS = [
    ("nginx", "team-a", "prod", "rk-0"),
    ("app-json", "team-b", "staging", "rk-1"),
    ("csvlog", "team-c", "prod", "rk-2"),
    ("apsara", "team-d", "prod", "rk-3"),  # unused source → exercises left-join miss
]
SOURCE_LOOKUP_COLS = ["source", "team_tag", "env", "route_key"]

# Router conditions (reference core/collection_pipeline/route/Condition.cpp:66-111
# tag-equality; unconditioned flusher always matches, Router.cpp:34).
ROUTE_RULES = [
    {"sink": "sink_a", "match_key": "env", "match_value": "prod"},
    {"sink": "sink_b", "match_key": "team_tag", "match_value": "team-b"},
    {"sink": "sink_default", "match_key": None, "match_value": None},
]


def source_lookup_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(SOURCE_LOOKUP_ROWS, SOURCE_LOOKUP_COLS)


def source_lookup_values_sql() -> str:
    rows = ", ".join(f"('{s}', '{t}', '{e}', '{r}')" for s, t, e, r in SOURCE_LOOKUP_ROWS)
    return f"(VALUES {rows}) AS source_lookup(source, team_tag, env, route_key)"
